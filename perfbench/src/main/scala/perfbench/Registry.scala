package perfbench

import java.nio.file.Path

import graft.SparkEntry

/** Workloads of `SparkEntry.queries` rows. Each row is one operation: the
  * query function (timed as `entry.build`, which includes any eager round
  * jobs it runs) and the execution of its DataFrame into the noop sink.
  * The warm-up pass writes each row's output to parquet instead, for
  * `run.py`'s DuckDB oracle compare after the run.
  */
final class Registry(r: Run, rows: Seq[(String, String)], sf: Double) extends Workload {
  private var dir: Path = _
  // the seed permutes the order; the set of rows is fixed
  private val order = new scala.util.Random(r.seed).shuffle(rows)

  def prepare(round: Int): Unit = {
    dir = r.work.resolve(s"data$round")
    Gen.tables(r.spark, dir, r.seed, sf, only = Registry.Tables)
  }

  def pass(n: Int): Unit = order.foreach { case (q, module) =>
    val fn = SparkEntry.queries(q)
    r.op(q, s"ops.$module") {
      val df = r.rec.span(s"entry:$q", "entry.build")(fn(r.spark, dir.toString))
      r.rec.span(s"exec:$q") {
        if (n < 0) df.write.mode("overwrite").parquet(outputs.resolve(q).toString)
        else df.write.format("noop").mode("overwrite").save()
      }
    }
  }

  private def outputs = r.work.resolve("outputs")

  def check(): Map[String, String] = {
    java.nio.file.Files.writeString(outputs.resolve("oracle_sql.json"),
      Json(rows.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap))
    Map.empty
  }

  override def info: Map[String, Any] = Map(
    "data_dir" -> dir.toString, "outputs" -> outputs.toString,
    "rows" -> order.map(_._1))
}

object Registry {
  /** The tables the rows below read. */
  private val Tables = Set("region", "nation", "customer", "supplier", "orders",
    "lineitem", "events", "documents", "embeddings")

  private def tag(module: String, names: String): Seq[(String, String)] =
    names.split("\\s+").filter(_.nonEmpty).toSeq.map(_ -> module)

  /** Rows that build one plan per query: relational, event and plain-SQL
    * rows, and text, dedup and similarity rows with no graph rounds, no
    * trainer loop and no index write.
    */
  val singlePass: Seq[(String, String)] =
    tag("relational", "q01_pricing_summary q56_sql_q5") ++
    tag("event", "q27_events_tumbling") ++
    tag("text", "q17_text_stats") ++
    tag("dedup", "q18_dedup_exact") ++
    tag("similarity", "q24_ann_cosine_topk")

  /** Round-bound rows: a PageRank fixpoint and the BPE trainer's merge loop. */
  val iterative: Seq[(String, String)] =
    tag("graph", "q79_pagerank") ++
    tag("text", "q97_bpe_train")
}
