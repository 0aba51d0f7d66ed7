package graft.ops

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
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

  /** Takes a local checkpoint of `df` and materializes it before returning,
    * in ONE job on the calling thread that also folds each partition's rows
    * with `measure` (a count, a label sum, an edge-set fingerprint): a round
    * loop gets its convergence measure from the job that writes the round.
    * No checkpoint stays lazy, since whichever jobs first read a lazy one
    * materialize it: a `jstack` of a hung test run showed a broadcast thread
    * and the DAG scheduler doing so at once, each holding one of the RDD's
    * and `RDDCheckpointData`'s locks and waiting for the other. Returns the
    * checkpoint and the per-partition measures. */
  private[graft] def checkpointed[A: ClassTag](df: DataFrame)(
      measure: Iterator[Row] => A): (DataFrame, Array[A]) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.rdd.mapPartitions(it => Iterator(measure(it))).collect())
  }

  /** Unpersists the blocks behind a frame returned by `localCheckpoint`:
    * the RDD at the root of its `LogicalRDD` plan, which the SQL
    * CacheManager never sees, so no scope can release it. Free a frame only
    * after every frame that reads it is materialized: checkpoints truncate
    * lineage, so a successor materialized later would find its input
    * blocks gone. Throws on any other frame.
    */
  private[graft] def freeCheckpoint(frame: DataFrame): Unit =
    frame.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(
        s"freeCheckpoint needs a localCheckpoint frame, got a ${p.nodeName} plan")
    }

  /** Unpersists every `LogicalRDD` leaf of a frame's plan: the checkpoints
    * backing an operator's result, once the last action reading it ran. */
  private[graft] def freeBacking(frame: DataFrame): Unit =
    frame.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** The local checkpoints one write takes: [[freeAll]] them in a `finally`
    * after the write's last read, so a throwing write leaks none either. */
  private[graft] final class Checkpoints {
    private val taken = ArrayBuffer.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = (taken += df.localCheckpoint()).last
    /** [[checkpointed]], recorded for [[freeAll]]. */
    def measured[A: ClassTag](df: DataFrame)(
        measure: Iterator[Row] => A): (DataFrame, Array[A]) = {
      val r = checkpointed(df)(measure)
      taken += r._1
      r
    }
    def freeAll(): Unit = taken.foreach(freeCheckpoint)
  }
}
