package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml._
import graft.ops.RelationalOps
import graft.schema.NslKdd
import graft.sources.NslKddSource

/** The paper's pipeline on seeded NSL-KDD-format files.
  *
  * Timed passes run `NslKddFlow.run`'s body stage by stage through the
  * public `ml/` functions, so each stage is one operation. Their CV and
  * test confusion counts must be identical on every pass and in every run
  * with the same inputs, the warm-up pass's included. In traced runs the
  * warm-up pass runs `NslKddFlow.run` itself instead, and the staged
  * counts must equal its.
  */
final class PaperFlow(r: Run) extends Workload {
  import PaperFlow._
  private val spark = r.spark
  private var train: Path = _
  private var test: Path = _
  private var reference: Option[String] = None
  private var flowCounts: Option[String] = None
  private var md5 = ""
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var rfShareSum = 0.0
  private var fits = 0

  def prepare(round: Int): Unit = {
    val d = Files.createDirectories(r.work.resolve(s"kdd$round"))
    train = d.resolve("KDDTrain.txt"); test = d.resolve("KDDTest.txt")
    md5 = Gen.kdd(train, r.seed, TrainRows)
    Gen.kdd(test, r.seed + 1, TestRows)
    if (round == 0) {
      val again = Gen.kdd(d.resolve("KDDTrain.again"), r.seed, TrainRows)
      require(again == md5, s"NSL-KDD generator is not deterministic: $md5 vs $again")
      Files.delete(d.resolve("KDDTrain.again"))
    }
  }

  private def counts(cv: Metrics.BinaryMetrics, te: Metrics.BinaryMetrics): String =
    Seq(cv, te).map(m => s"tp=${m.tp},fp=${m.fp},tn=${m.tn},fn=${m.fn}").mkString("cv[", "] test[", "]")

  def pass(n: Int): Unit =
    if (n >= 0 || !r.trace) keep(staged())
    else {
      val res = r.rec.span("ml.flow")(NslKddFlow.run(spark, train.toString, Some(test.toString), Cfg))
      flowCounts = Some(counts(res.cvMetrics, res.testMetrics.get))
    }

  /** Records a pass's counts, and any that differ from earlier ones. */
  private def keep(c: String): Unit = {
    if (reference.isEmpty) reference = Some(c)
    if (!reference.contains(c)) mismatches += s"pass gave $c after ${reference.get}"
    flowCounts.filter(_ != c).foreach(f => mismatches += s"staged flow gave $c, NslKddFlow.run gave $f")
  }

  /** `NslKddFlow.run` with a held-out test file, one operation per stage;
    * returns the CV and test confusion counts.
    */
  private def staged(): String = {
    def stage[T](name: String)(body: => T): T = {
      var out: Option[T] = None
      r.op(s"ml.$name", s"ml.$name") { out = Some(body) }
      out.getOrElse(throw new IllegalStateException(s"stage $name failed"))
    }
    val raw = stage("load")(NslKddSource.load(spark, train.toString))
    val labelsModel = stage("labels")(FeaturePrep.labelsPipeline().fit(raw))
    def label(df: DataFrame): DataFrame =
      NslKddSource.withSequentialId(labelsModel.transform(df))
        .na.replace("su_attempted", Map(2.0 -> 0.0))
    val trainDf = stage("labels")(label(raw).cache())
    val (oheApply, oheCols) = stage("ohe")(FeaturePrep.oheFlat(trainDf, NslKdd.nominalCols))
    val numericCols = NslKdd.numericCols.filterNot(_ == "num_outbound_cmds")
    val ratios = stage("ar")(AttributeRatio.attributeRatios(
      oheApply(trainDf), "labels5", numericCols, NslKdd.binaryCols ++ oheCols))
    val selected = AttributeRatio.selectFeaturesByAR(ratios, Cfg.arThreshold)
    val standardize = stage("standardize")(FeaturePrep.standardize(oheApply(trainDf), numericCols))
    val prepModel = stage("assemble")(FeaturePrep
      .prepPipeline(numericCols ++ NslKdd.binaryCols ++ oheCols)
      .fit(standardize(oheApply(trainDf))))
    def prepare(df: DataFrame): DataFrame =
      FeaturePrep.slicer(selected)
        .transform(prepModel.transform(standardize(oheApply(df))))
        .select("id", "labels2", "labels2_index", "labels5", "features")
    val (tr, cv) = stage("split")(Stats.trainCvSplit(prepare(trainDf), Cfg.trainFraction, Cfg.seed))
    val trC = tr.cache()
    val cc = new ClusteredClassifier(Cfg.k, "features", "labels2", 25L,
      Cfg.numTrees, Cfg.maxDepth, Cfg.seed, Cfg.clusterMode,
      pcaK = 2, kmeansInitSteps = Cfg.kmeansInitSteps)
    val (model, rfShare) = stage("fit")(sampled(r.rec.tracing)(cc.fit(trC)))
    if (r.rec.tracing) { rfShareSum += rfShare; fits += 1 }
    def metricsOf(df: DataFrame): Metrics.BinaryMetrics = {
      val scored = stage("score")(model.transform(df))
      val m = stage("metrics")(Metrics.binaryMetrics(
        scored.withColumn("pred", RelationalOps.threshold(col("prob"), Cfg.predictionThreshold)),
        "labels2_index", "pred"))
      model.clearScoringCache()
      m
    }
    val cvM = metricsOf(cv)
    val rawTest = stage("load")(NslKddSource.load(spark, test.toString))
    val teM = metricsOf(stage("labels")(prepare(label(rawTest))))
    trainDf.unpersist(); trC.unpersist()
    counts(cvM, teM)
  }

  def check(): Map[String, String] = {
    // one seed (one train file) must give one set of counts across runs
    val f = r.work.getParent.resolve(s"paper_flow_counts_${md5}_${Cfg.hashCode.toHexString}.txt")
    val prior = if (Files.exists(f)) Some(Files.readString(f)) else None
    reference.foreach(c => if (prior.isEmpty) Files.writeString(f, c))
    val cross = prior.filter(p => !reference.contains(p))
      .map(p => s"counts ${reference.orNull} differ from an earlier run's $p")
    (mismatches.headOption ++ cross).map(m => "ml.metrics" -> m).toMap
  }

  override def layerMetrics(layerNs: Map[String, Long], passes: Int): Map[String, Double] = {
    val fitS = layerNs("ml.fit") / 1e9 / passes
    val share = if (fits == 0) 0.0 else rfShareSum / fits
    Map("ml.cluster_fit_s" -> fitS * (1 - share), "ml.rf_fit_s" -> fitS * share)
  }

  override def info: Map[String, Any] = Map(
    "train_rows" -> TrainRows, "test_rows" -> TestRows, "num_trees" -> Cfg.numTrees,
    "max_depth" -> Cfg.maxDepth, "counts" -> reference.orNull)
}

object PaperFlow {
  /** An eighth of the reference's train and test files (125,973 and
    * 22,544 rows).
    */
  val TrainRows = 15747
  val TestRows = 2818
  /** The reference's configuration with fewer clusters, smaller forests
    * and a shorter k-means|| initialisation.
    */
  val Cfg: NslKddFlow.Config = NslKddFlow.Config(k = 4, numTrees = 3, maxDepth = 4, kmeansInitSteps = 2)

  /** Runs `body` while sampling the calling thread's stack every 5 ms when
    * `on`; returns its result and the share of samples inside Spark ML's
    * tree code (the per-cluster forests), the rest being the clusterer.
    */
  def sampled[T](on: Boolean)(body: => T): (T, Double) =
    if (!on) (body, 0.0) else {
      val main = Thread.currentThread()
      @volatile var stop = false
      var rf = 0; var all = 0
      val t = new Thread(() => while (!stop) {
        val st = main.getStackTrace
        all += 1
        if (st.exists(_.getClassName.startsWith("org.apache.spark.ml.tree"))) rf += 1
        Thread.sleep(5)
      })
      t.setDaemon(true); t.start()
      val out = try body finally { stop = true; t.join() }
      (out, if (all == 0) 0.0 else rf.toDouble / all)
    }
}
