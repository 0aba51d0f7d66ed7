package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.RelationalOps
import graft.schema.NslKdd
import graft.sources.NslKddSource

/** The reference notebook's core flow (`README.md:114-1783`) as one callable:
  * load → labels (train-fitted indexers) → su_attempted cleanup → flat OHE
  * (train vocabulary) → Attribute-Ratio selection → z-score standardization
  * (train stats) → assemble/index/slice → seeded train/CV split →
  * cluster-then-classify (KMeans or PCA→GaussianMixture) → distributed
  * metrics at a prediction threshold — optionally scored on a held-out test
  * file through the SAME train-fitted stages (the reference's
  * train→KDDTest+ transfer setting).
  *
  * Defaults reproduce the reference's main configuration (k=8, 500×20 RFs,
  * AR ≥ 0.05, threshold 0.5); tests run a small configuration of the same
  * flow.
  */
object NslKddFlow {

  final case class Config(
      arThreshold: Double = 0.05,
      k: Int = 8,
      numTrees: Int = 500,
      maxDepth: Int = 20,
      clusterMode: String = "kmeans",
      predictionThreshold: Double = 0.5,
      trainFraction: Double = 0.8,
      seed: Long = 4667979835606274383L,
      kmeansInitSteps: Int = 25)

  final case class Result(
      model: ClusteredClassifierModel,
      selectedFeatures: Seq[String],
      cvMetrics: Metrics.BinaryMetrics,
      testMetrics: Option[Metrics.BinaryMetrics])

  /** Train-fitted prep context shared by [[run]] and [[runWithEnsembles]]. */
  private final case class Build(
      label: DataFrame => DataFrame,
      prepare: DataFrame => DataFrame,
      ratios: scala.collection.immutable.ListMap[String, Double],
      selected: Seq[String],
      tr: DataFrame, cv: DataFrame,
      model: ClusteredClassifierModel,
      release: () => Unit)

  private def build(spark: SparkSession, trainPath: String, cfg: Config): Build = {
    val raw = NslKddSource.load(spark, trainPath)
    val labelsModel = FeaturePrep.labelsPipeline().fit(raw)
    def label(df: DataFrame): DataFrame =
      NslKddSource.withSequentialId(labelsModel.transform(df))
        .na.replace("su_attempted", Map(2.0 -> 0.0))
    val train = label(raw).cache()

    val (oheApply, oheCols) = FeaturePrep.oheFlat(train, NslKdd.nominalCols)
    val numericCols = NslKdd.numericCols.filterNot(_ == "num_outbound_cmds")
    val ratios = AttributeRatio.attributeRatios(
      oheApply(train), "labels5", numericCols, NslKdd.binaryCols ++ oheCols)
    val selected = AttributeRatio.selectFeaturesByAR(ratios, cfg.arThreshold)

    val standardize = FeaturePrep.standardize(oheApply(train), numericCols)
    val prepModel = FeaturePrep
      .prepPipeline(numericCols ++ NslKdd.binaryCols ++ oheCols)
      .fit(standardize(oheApply(train)))
    def prepare(df: DataFrame): DataFrame =
      FeaturePrep.slicer(selected)
        .transform(prepModel.transform(standardize(oheApply(df))))
        .select("id", "labels2", "labels2_index", "labels5", "features")

    val (tr, cv) = Stats.trainCvSplit(prepare(train), cfg.trainFraction, cfg.seed)
    val trC = tr.cache()
    val cc = new ClusteredClassifier(cfg.k, "features", "labels2", 25L,
      cfg.numTrees, cfg.maxDepth, cfg.seed, cfg.clusterMode,
      pcaK = 2, kmeansInitSteps = cfg.kmeansInitSteps)
    val model = cc.fit(trC)
    Build(label, prepare, ratios, selected, trC, cv, model,
      () => { train.unpersist(); trC.unpersist() })
  }

  def run(spark: SparkSession, trainPath: String,
          testPath: Option[String] = None,
          cfg: Config = Config()): Result = {
    val b = build(spark, trainPath, cfg)
    def metricsOf(df: DataFrame): Metrics.BinaryMetrics = Metrics.binaryMetrics(
      b.model.transform(df).withColumn("pred",
        RelationalOps.threshold(col("prob"), cfg.predictionThreshold)),
      "labels2_index", "pred")
    val cvMetrics = metricsOf(b.cv)
    val testMetrics = testPath.map(p =>
      metricsOf(b.prepare(b.label(NslKddSource.load(spark, p)))))
    b.release()
    Result(b.model, b.selected, cvMetrics, testMetrics)
  }

  /** Everything [[Result]] carries plus the reference's ensemble ending
    * (`README.md:3113-3686`) evaluated on the same target set.
    */
  final case class EnsembleResult(
      base: Result,
      orVoteMetrics: Metrics.BinaryMetrics,
      stackMetrics: Metrics.BinaryMetrics)

  /** The reference notebook's FULL ending in one call: the core flow, plus
    * per-attack-category one-vs-normal RFs (DoS, Probe, R2L∪U2R —
    * `README.md:2039-2975`), OR-voting of the per-model predictions
    * (`README.md:3141-3144`), and the stack-RF over prediction columns +
    * the AR≥1.5 feature slice (`README.md:3597-3620`), trained on the CV
    * predictions like the reference's ensembles and evaluated on the test
    * set when given (CV otherwise).
    */
  def runWithEnsembles(spark: SparkSession, trainPath: String,
                       testPath: Option[String] = None,
                       cfg: Config = Config()): EnsembleResult = {
    val b = build(spark, trainPath, cfg)
    val catSets = Seq(Seq("DoS"), Seq("Probe"), Seq("R2L", "U2R"))
    val catModels = catSets.map { cats =>
      val sub = Ensembles.categoryTrainingSet(b.tr, cats, "labels5")
        .withColumn("cat_label_idx", Ensembles.categoryLabel(col("labels5")))
      val name = s"${cats.head.toLowerCase}_prob"
      name -> Ensembles.perCategoryRfPipeline(
        numTrees = cfg.numTrees, maxDepth = cfg.maxDepth, seed = cfg.seed).fit(sub)
    }

    // (id, labels, features, cc_prob, dos_prob, probe_prob, r2l_prob) per row
    def allProbs(df: DataFrame): DataFrame = {
      val withCc = b.model.transform(df).withColumnRenamed("prob", "cc_prob")
        .select("id", "labels2_index", "features", "cc_prob")
      catModels.foldLeft(withCc) { case (acc, (name, m)) =>
        Ensembles.stackFeatures(acc,
          m.transform(df).select(col("id"), Ensembles.probOf(col("probability")).as(name)))
      }
    }
    val probCols = "cc_prob" +: catModels.map(_._1)
    def withPreds(df: DataFrame): DataFrame =
      probCols.foldLeft(df)((d, c) => d.withColumn(c.replace("_prob", "_pred"),
        Ensembles.predAt(col(c), cfg.predictionThreshold)))
    val predCols = probCols.map(_.replace("_prob", "_pred"))

    // cached: the OR vote (without a test file), the stack fit and the base
    // metrics all read it
    val cvPreds = withPreds(allProbs(b.cv)).cache()
    val evalPreds = testPath match {
      case Some(p) =>
        withPreds(allProbs(b.prepare(b.label(NslKddSource.load(spark, p))))).cache()
      case None => cvPreds
    }

    // OR-vote of the four per-model predictions (reference bitwiseOR voting)
    val orVoteMetrics = Metrics.binaryMetrics(
      evalPreds.withColumn("pred",
        RelationalOps.bitwiseVote(predCols.map(col)).cast("double")),
      "labels2_index", "pred")

    // stack-RF: preds + AR>=1.5 slice, trained on CV preds like the reference
    val ar15 = AttributeRatio.selectFeaturesByAR(b.ratios, 1.5)
      .filter(b.selected.contains)
    val stackModel = Ensembles.stackRfPipeline(predCols, ar15, "labels2_index",
      featuresInputCol = "features", numTrees = cfg.numTrees,
      maxDepth = cfg.maxDepth, seed = cfg.seed).fit(cvPreds)
    val stackMetrics = Metrics.binaryMetrics(
      stackModel.transform(evalPreds)
        .withColumn("stack_prob", Ensembles.probOf(col("probability")))
        .withColumn("pred", Ensembles.predAt(col("stack_prob"), cfg.predictionThreshold)),
      "labels2_index", "pred")

    // base metrics from the already-computed prob columns (no re-scoring)
    def ccMetrics(df: DataFrame) = Metrics.binaryMetrics(
      df.withColumn("pred", col("cc_pred")), "labels2_index", "pred")
    val base = Result(b.model, b.selected, ccMetrics(cvPreds),
      testPath.map(_ => ccMetrics(evalPreds)))

    cvPreds.unpersist(); if (evalPreds ne cvPreds) evalPreds.unpersist()
    b.release()
    EnsembleResult(base, orVoteMetrics, stackMetrics)
  }
}
