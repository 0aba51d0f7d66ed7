package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, RelationalOps, SimilarityOps}
import graft.sources.Tables

/** The persisted-index write path, from an empty warehouse every pass.
  *
  * Each timed pass builds the banded index of the documents and the IVF
  * index of the embeddings on a seed-chosen base slice, appends a
  * seed-chosen batch, deletes a seed-chosen batch, compacts, folds a
  * snapshot diff in (IVF), and probes each index after its last commit.
  * The warm-up pass builds each index from scratch on the final corpus
  * instead; the timed passes' probes must equal those.
  */
final class IndexChurn(r: Run) extends Workload {
  private val spark = r.spark
  private var dir: Path = _
  private var passNo = 0
  private var prefix = ""
  private val lastProbe = mutable.Map.empty[String, Seq[String]]
  private val refProbe = mutable.Map.empty[String, Seq[String]]
  private var storedBytes = 0L
  private var storedFiles = 0L
  private var storedPasses = 0

  def prepare(round: Int): Unit = {
    dir = r.work.resolve(s"data$round")
    Gen.tables(spark, dir, r.seed, 0.01, only = Set("documents", "embeddings"))
  }

  private def docs = Tables(spark, dir.toString, "documents")
  private def emb = Tables(spark, dir.toString, "embeddings")

  // seed-chosen slices: ids hash into 20 buckets
  private def bucket(id: Column, salt: Long) = pmod(xxhash64(id, lit(r.seed + salt)), lit(20L))
  private def base(df: DataFrame, id: String) = df.filter(bucket(col(id), 0) < 12)
  private def batch(df: DataFrame, id: String) = df.filter(bucket(col(id), 0).between(12, 17))
  private def appended(df: DataFrame, id: String) = df.filter(bucket(col(id), 0) < 18)
  private def batchC(df: DataFrame, id: String) = df.filter(bucket(col(id), 0) >= 18)
  private def deleted(df: DataFrame, id: String) =
    base(df, id).filter(bucket(col(id), 1) < 3).select(col(id))
  private def afterDeletes(df: DataFrame, id: String) =
    appended(df, id).join(deleted(df, id), Seq(id), "left_anti")
  // the snapshot-diff maintenance target: survivors, a few revised, plus batch C
  private def revised(id: String) = bucket(col(id), 2) < 2
  private def embFinal(e: DataFrame) =
    afterDeletes(e, "vec_id").withColumn("embedding",
      when(revised("vec_id"), transform(col("embedding"), x => -x)).otherwise(col("embedding")))
      .unionByName(batchC(e, "vec_id"))
  private def embDiff(before: DataFrame, after: DataFrame) = {
    def asText(df: DataFrame) = df.select(col("vec_id"), to_json(col("embedding")).as("text"))
    RelationalOps.snapshotDiff(asText(before), asText(after), idCol = "vec_id")
  }

  private def docProbes(d: DataFrame) = d.filter(col("doc_id") % 10 === 3)
  private def embProbes(e: DataFrame) = e.filter(col("vec_id") % 50 === 7)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def step(family: String, verb: String)(body: => Unit): Unit =
    r.op(s"index.$family.$verb", s"index.$family.$verb")(body)
  private def probe(family: String)(df: => DataFrame): Unit =
    step(family, "probe") { lastProbe(family) = rows(df) }

  /** The probe of each family, keyed by family, over index tables `p`. */
  private def probes(p: String): Map[String, () => DataFrame] = Map(
    "banded" -> (() => DedupOps.probeBandedIndex(docProbes(docs), s"${p}_bd")),
    "ivf" -> (() => SimilarityOps.ivfTopKPersisted(embProbes(emb), s"${p}_iv", k = 10,
      nProbe = 8)))

  def pass(n: Int): Unit = if (n < 0) reference() else churn()

  private def churn(): Unit = {
    passNo += 1
    prefix = s"ic$passNo"
    val p = prefix
    val pr = probes(p)
    val d = docs; val e = emb
    val tag = s"${r.seed}#base"

    step("banded", "build")(DedupOps.ensureBandedIndex(base(d, "doc_id"), s"${p}_bd", tag))
    step("banded", "append")(DedupOps.appendToBandedIndex(batch(d, "doc_id"), s"${p}_bd"))
    step("banded", "delete")(DedupOps.deleteFromBandedIndex(deleted(d, "doc_id"), s"${p}_bd"))
    step("banded", "compact")(DedupOps.compactBandedIndex(s"${p}_bd"))
    probe("banded")(pr("banded")())

    step("ivf", "build")(SimilarityOps.ensureIvfIndex(base(e, "vec_id"), s"${p}_iv", tag, nCells = 8))
    step("ivf", "append")(SimilarityOps.appendToIvfIndex(batch(e, "vec_id"), s"${p}_iv"))
    step("ivf", "delete")(SimilarityOps.deleteFromIvfIndex(deleted(e, "vec_id"), s"${p}_iv"))
    step("ivf", "compact")(SimilarityOps.compactIvfIndex(s"${p}_iv"))
    step("ivf", "maintain") {
      val after = embFinal(e)
      SimilarityOps.maintainIvfIndexFromDiff(after, embDiff(afterDeletes(e, "vec_id"), after),
        s"${p}_iv", newCorpusTag = s"${r.seed}#final")
    }
    probe("ivf")(pr("ivf")())
  }

  /** Every family built from scratch on its final corpus, and probed. */
  private def reference(): Unit = {
    prefix = "icref"
    val p = prefix
    val pr = probes(p)
    val d = docs; val e = emb
    val tag = s"${r.seed}#scratch"
    step("banded", "build")(DedupOps.ensureBandedIndex(afterDeletes(d, "doc_id"), s"${p}_bd", tag))
    step("ivf", "build")(SimilarityOps.ensureIvfIndex(embFinal(e), s"${p}_iv", tag, nCells = 8))
    pr.keys.toSeq.sorted.foreach(f => step(f, "probe")(refProbe(f) = rows(pr(f)())))
  }

  override def afterPass(n: Int): Unit = {
    if (n >= 0) {
      val dirs = Files.list(r.warehouse).iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix + "_")).toSeq
      val files = dirs.flatMap(Files.walk(_).iterator().asScala.filter(Files.isRegularFile(_)))
        .filterNot(f => f.getFileName.toString.startsWith(".") ||
          f.getFileName.toString.startsWith("_"))
      storedBytes += files.map(Files.size).sum
      storedFiles += files.size
      storedPasses += 1
    }
    spark.catalog.listTables().collect().map(_.name)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  def check(): Map[String, String] = refProbe.toSeq.flatMap { case (fam, want) =>
    val got = lastProbe.getOrElse(fam, Nil)
    if (want == got) None
    else Some(s"index.$fam.probe" -> (
      s"final probe differs from a from-scratch build: ${got.size} vs ${want.size} rows, " +
        s"${got.diff(want).take(2).mkString("; ")} | ${want.diff(got).take(2).mkString("; ")}"))
  }.toMap

  private def storedRatio: Double =
    storedBytes / math.max(1, storedPasses).toDouble /
      r.inputBytes(dir, Seq("documents", "embeddings")).toDouble

  override def layerMetrics(layerNs: Map[String, Long], passes: Int): Map[String, Double] =
    Map("index.files" -> storedFiles / math.max(1, storedPasses).toDouble,
      "index.stored_bytes_ratio" -> storedRatio)

  override def info: Map[String, Any] = Map("stored_bytes_ratio" -> storedRatio)
}
