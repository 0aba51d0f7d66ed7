package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Per-invocation registry of the caches an operator call creates, returned
  * to (or supplied by) the caller as a release handle.
  *
  * Operators that materialize intermediate tables (the dedup tier's
  * token-hash table, the IVF quantizer input) take a `scope` parameter and
  * register every `cache()` they issue against it; the caller releases them
  * with [[release]] when the results have been consumed. This replaces a
  * process-global registry, so two concurrent pipelines with their own
  * scopes can't release each other's in-flight caches.
  *
  * One sharing caveat is inherent to Spark: the `CacheManager` keys entries
  * by canonicalized plan, so if two scopes register EQUIVALENT plans they
  * share one physical cache entry, and whichever scope releases first drops
  * it for both (the survivor silently recomputes — correct, just slower).
  * Scopes therefore make releases *explicit and owned*, not refcounted.
  *
  * [[CacheScope.default]] is the process-wide convenience scope used when no
  * scope is passed — the right choice for single-pipeline apps and for the
  * driver's `SparkEntry.queries` contract (whose `(SparkSession, String) =>
  * DataFrame` shape has nowhere to surface a handle); Verify/Bench release
  * it between query blocks.
  */
final class CacheScope {
  private val frames = ArrayBuffer.empty[DataFrame]

  /** Caches `df` (unless an equivalent plan is already cached — re-caching
    * would only log a CacheManager warning) and records it for [[release]].
    */
  private[graft] def register(df: DataFrame): DataFrame = synchronized {
    frames += df
    if (df.storageLevel == StorageLevel.NONE) df.cache()
    df
  }

  /** Unpersists every cache registered in this scope. Idempotent. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(f => try f.unpersist(blocking) catch { case NonFatal(_) => () })
    frames.clear()
  }
}

object CacheScope {
  /** Process-wide convenience scope (see class doc). Long-lived apps running
    * concurrent pipelines should pass their own `new CacheScope` instead.
    */
  val default: CacheScope = new CacheScope

  def apply(): CacheScope = new CacheScope

  /** Unpersists the blocks behind a frame returned by `localCheckpoint`
    * (eager or lazy): the RDD at the root of its `LogicalRDD` plan, which
    * the SQL CacheManager never sees, so no scope can release it. Free a
    * frame only after an action has materialized every frame that reads
    * it: checkpoints truncate lineage, so a successor materialized later
    * would find its input blocks gone. Throws on any other frame.
    */
  private[graft] def freeCheckpoint(frame: DataFrame): Unit =
    frame.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(
        s"freeCheckpoint needs a localCheckpoint frame, got a ${p.nodeName} plan")
    }

  /** The local checkpoints one write takes: [[freeAll]] them in a `finally`
    * after the write's last read, so a throwing write leaks none either. */
  private[graft] final class Checkpoints {
    private val taken = ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame, eager: Boolean = true): DataFrame =
      (taken += df.localCheckpoint(eager)).last
    def freeAll(): Unit = taken.foreach(freeCheckpoint)
  }
}
