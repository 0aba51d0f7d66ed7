package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed-merge maintenance operators — the MERGE INTO / CDC-apply patterns a
  * warehouse runs continuously. Pure DataFrame formulations: one
  * key-partitioned join per merge, no driver involvement, no mutable state —
  * the output IS the next table version (the lakehouse copy-on-write shape).
  */
object MergeOps {

  /** Slowly-changing-dimension TYPE 2 merge: apply one batch of keyed
    * updates to a versioned dimension, preserving history. `current` rows
    * carry (`key`, `valueCols`…, `valid_from`, `valid_to`) with
    * `valid_to IS NULL` marking the open version; `updates` carries
    * (`key`, `valueCols`…, `ts`).
    *
    * Per update key:
    *   - value change → the open row CLOSES (`valid_to = ts`) and a new
    *     open version appends (`valid_from = ts`);
    *   - same value → no-op (idempotent re-applies);
    *   - unseen key → new open version.
    * Open rows without an update, and already-closed history, pass through
    * unchanged. One update per key per batch (pre-aggregate upstream —
    * enforce with [[latestPerKey]]).
    *
    * Scale shape: history (the bulk) passes through without joining; only
    * OPEN rows join the batch — a key-equi join AQE broadcasts when the
    * batch is small, exactly the MERGE INTO plan. Output is a full new
    * snapshot: pair with a partitioned/bucketed sink for copy-on-write.
    */
  def scd2Merge(current: DataFrame, updates: DataFrame, key: String,
                valueCols: Seq[String], tsCol: String = "ts"): DataFrame = {
    require(valueCols.nonEmpty, "valueCols must be non-empty")
    val history = current.filter(col("valid_to").isNotNull)
    // explicit presence markers — testing a data column (valid_from /
    // __u_ts) for null would silently drop open rows whose valid_from is
    // legitimately NULL (e.g. an initial load with unknown history start)
    val open = current.filter(col("valid_to").isNull)
      .withColumn("__has_open", lit(true))
    val uCols = valueCols.map(c => col(c).as(s"__u_$c")) ++
      Seq(col(tsCol).as("__u_ts"), lit(true).as("__has_upd"))
    val j = open.join(updates.select(col(key) +: uCols: _*), Seq(key), "full_outer")
    val hasOpen = coalesce(col("__has_open"), lit(false))
    val hasUpd = coalesce(col("__has_upd"), lit(false))
    val changed = valueCols.map(c => !(col(c) <=> col(s"__u_$c"))).reduce(_ || _)

    val outCols = (col(key) +: valueCols.map(col)) ++
      Seq(col("valid_from"), col("valid_to"))
    // surviving open/closed versions of rows that existed before the batch
    val fromOpen = j.filter(hasOpen).select(
      (col(key) +: valueCols.map(col)) ++ Seq(col("valid_from"),
        when(hasUpd && changed, col("__u_ts")).otherwise(lit(null)).as("valid_to")): _*)
    // new versions: changed values or brand-new keys
    val newVersions = j.filter(hasUpd && (!hasOpen || changed)).select(
      (col(key) +: valueCols.map(c => col(s"__u_$c").as(c))) ++
        Seq(col("__u_ts").as("valid_from"),
          lit(null).cast(open.schema("valid_to").dataType).as("valid_to")): _*)
    history.select(outCols: _*)
      .unionByName(fromOpen)
      .unionByName(newVersions)
  }

  /** Reduce a CDC batch to its LATEST change per key — (max ts, ties to the
    * greatest value-struct) — so [[scd2Merge]]'s one-update-per-key contract
    * holds. One hash aggregation; the struct max is deterministic.
    */
  def latestPerKey(updates: DataFrame, key: String, valueCols: Seq[String],
                   tsCol: String = "ts"): DataFrame = {
    val packed = struct(col(tsCol) +: valueCols.map(col): _*)
    updates.groupBy(col(key)).agg(max(packed).as("__m"))
      .select(col(key) +: (valueCols.map(c => col(s"__m.$c").as(c)) :+
        col(s"__m.$tsCol").as(tsCol)): _*)
  }
}
