package graft.ml

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.clustering.{GaussianMixture, GaussianMixtureModel, KMeans}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{PCA, StringIndexerModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster-then-classify meta-estimator (reference `README.md:1548-1687`,
  * SURVEY §2.9 M14): a clusterer partitions the space; clusters that are
  * big enough and contain both classes each get their own RandomForest; the
  * rest are scored by their majority class.
  *
  * Two clusterer modes, matching the reference's two variants:
  *   - `kmeans`: KMeans(k, initSteps=25, maxIter=100) on `featuresCol`
  *     (reference `README.md:1548`);
  *   - `gm`: PCA(pcaK) → GaussianMixture(k, maxIter=150) — the reference's
  *     GM-on-PCA-features variant (`README.md:1489-1494,1831-1844,
  *     1925-1943`).
  *
  * Spark-native re-expression of the notebook's loop:
  *   - cluster composition = one groupBy(cluster, label) (not a crosstab
  *     collect); its counts also give each forest's label order, so no
  *     per-cluster StringIndexer is fitted;
  *   - the per-cluster forests are fitted concurrently from a per-`fit`
  *     thread pool over FILTERED views of the cached clustered frame — each
  *     forest is a chain of small jobs with driver work between them, and
  *     running the chains side by side overlaps those gaps;
  *   - scoring is ONE projection over the clusterer's output: a forest's
  *     cluster rows get `predictProbability(features)(attackIdx)` of that
  *     forest, the other clusters a map lookup of their hardcoded
  *     probability. Nothing is cached.
  *
  * The probability remap (reference `udf_remap_prob`, `README.md:1679-1680`)
  * picks index i of the forest's probability vector, with i chosen from the
  * cluster's label order (frequencyDesc can flip the class index per
  * cluster).
  */
class ClusteredClassifier(
    val k: Int = 8,
    val featuresCol: String = "features",
    val labelCol: String = "labels2",
    val minClusterSize: Long = 25L,
    val numTrees: Int = 500,
    val maxDepth: Int = 20,
    val seed: Long = 4667979835606274383L,
    val clusterMode: String = "kmeans",
    val pcaK: Int = 2,
    val kmeansInitSteps: Int = 25) {

  require(clusterMode == "kmeans" || clusterMode == "gm",
    s"clusterMode must be kmeans|gm, got $clusterMode")

  /** Columns the clusterer adds besides `cluster` (dropped after scoring). */
  private val auxCols = Seq("pca_features", "gm_cluster_prob")

  private def clusterStages(): Array[PipelineStage] = clusterMode match {
    case "kmeans" => Array(
      new KMeans().setK(k).setInitSteps(kmeansInitSteps).setMaxIter(100)
        .setSeed(seed).setFeaturesCol(featuresCol).setPredictionCol("cluster"))
    case "gm" => Array(
      new PCA().setK(pcaK).setInputCol(featuresCol).setOutputCol("pca_features"),
      new GaussianMixture().setK(k).setMaxIter(150).setSeed(seed)
        .setFeaturesCol("pca_features").setPredictionCol("cluster")
        .setProbabilityCol("gm_cluster_prob"))
  }

  def fit(train: DataFrame): ClusteredClassifierModel = {
    val clusterModel = new Pipeline().setStages(clusterStages()).fit(train)
    val clustered = clusterModel.transform(train)
      .drop(auxCols: _*)
      .cache()
    try {
      // cluster composition: one aggregation, a few (cluster, label, n)
      // rows to the driver; a null label counts toward the cluster size only
      val rows = clustered.groupBy(col("cluster"), col(labelCol).cast("string"))
        .count().collect()
      val size = rows.groupMapReduce(_.getInt(0))(_.getLong(2))(_ + _)
      val labelCounts = rows.groupBy(_.getInt(0)).map { case (c, rs) =>
        c -> rs.collect { case r if !r.isNullAt(1) => r.getString(1) -> r.getLong(2) }.toMap
      }
      def attack(c: Int): Long = labelCounts(c).getOrElse("attack", 0L)
      def normal(c: Int): Long = labelCounts(c).values.sum - attack(c)

      val (trainable, hardcoded) = size.keys.toSeq.sorted.partition(c =>
        size(c) > minClusterSize && attack(c) > 0 && normal(c) > 0)

      def fitForest(c: Int): PipelineModel = new Pipeline().setStages(Array(
        new StringIndexerModel(ClusteredClassifier.frequencyDesc(labelCounts(c)))
          .setInputCol(labelCol).setOutputCol("label_idx"),
        new RandomForestClassifier().setLabelCol("label_idx")
          .setFeaturesCol(featuresCol).setNumTrees(numTrees).setMaxDepth(maxDepth)
          .setFeatureSubsetStrategy("sqrt").setSeed(seed)))
        .fit(clustered.filter(col("cluster") === c))

      // created here, not shared, so its threads inherit the caller's Spark
      // local properties (job group, scheduler pool)
      val models = if (trainable.isEmpty) Map.empty[Int, PipelineModel] else {
        val pool = Executors.newFixedThreadPool(
          trainable.size min train.sparkSession.sparkContext.defaultParallelism)
        try {
          val tasks = trainable.map(c => (() => c -> fitForest(c)): Callable[(Int, PipelineModel)])
          // invokeAll returns once every fit has ended, failed ones included
          pool.invokeAll(tasks.asJava).asScala.map { f =>
            try f.get() catch { case e: ExecutionException => throw e.getCause }
          }.toMap
        } finally pool.shutdownNow()
      }

      // majority-class prob for clusters too small/pure to train
      // (reference cluster_mapping, README.md:1603-1615)
      val mapping = hardcoded.map(c => c -> (if (attack(c) > normal(c)) 1.0 else 0.0)).toMap

      new ClusteredClassifierModel(clusterModel, models, mapping, labelCol, auxCols)
    } finally clustered.unpersist()
  }
}

object ClusteredClassifier {

  /** Labels ordered as a `StringIndexer` with `frequencyDesc` orders them:
    * by descending count, ties by ascending label.
    */
  private[graft] def frequencyDesc(counts: Map[String, Long]): Array[String] =
    counts.toArray.sortBy { case (l, n) => (-n, l) }.map(_._1)
}

class ClusteredClassifierModel(
    val clusterModel: PipelineModel,
    val clusterModels: Map[Int, PipelineModel],
    val hardcodedProb: Map[Int, Double],
    val labelCol: String,
    private val auxCols: Seq[String]) extends Serializable {

  /** Score: returns the input plus (cluster, prob) where prob = P(attack).
    * One projection over the clusterer's output: rows of a forest's cluster
    * get `predictProbability(features)(attackIdx)` of that forest — the
    * call its own `transform` makes for the `probability` column — and the
    * other clusters their hardcoded probability (0.0 for a cluster unseen
    * in training). The result is a plain lazy DataFrame; nothing is cached.
    */
  def transform(df: DataFrame): DataFrame = {
    // per forest: the model and the index of "attack" in its label order
    // (reference maj_label check)
    val forests = clusterModels.map { case (c, pm) =>
      val labels = pm.stages.head.asInstanceOf[StringIndexerModel].labelsArray.head
      c -> (pm.stages.last.asInstanceOf[RandomForestClassificationModel],
        labels.indexOf("attack") max 0)
    }
    val hardcoded = coalesce(element_at(typedlit(hardcodedProb), col("cluster")), lit(0.0))
    val prob = forests.values.headOption.fold(hardcoded) { case (first, _) =>
      val forestProb = udf { (c: Int, v: Vector) =>
        val (rf, i) = forests(c)
        rf.predictProbability(v)(i)
      }
      when(col("cluster").isin(forests.keys.toSeq: _*),
        forestProb(col("cluster"), col(first.getFeaturesCol))).otherwise(hardcoded)
    }
    clusterModel.transform(df).drop(auxCols: _*).withColumn("prob", prob)
  }

  /** The fitted GaussianMixture inside the clusterer pipeline, if this model
    * was trained in `gm` mode (None in kmeans mode).
    */
  def gaussianMixture: Option[GaussianMixtureModel] =
    clusterModel.stages.collectFirst { case g: GaussianMixtureModel => g }

  /** GM mixing weights (k values summing to 1) — the introspection the
    * reference performs right after the GM fit (`README.md:1841-1844`,
    * `model.weights`). Empty in kmeans mode.
    */
  def gmWeights: Array[Double] =
    gaussianMixture.map(_.weights).getOrElse(Array.empty)

  /** One row per mixture component with its mean vector and covariance
    * matrix — the reference's `model.gaussiansDF` (`README.md:1841-1844`).
    */
  def gmGaussians: Option[DataFrame] = gaussianMixture.map(_.gaussiansDF)

  /** No-op: [[transform]] caches nothing. Kept for callers written when
    * scoring held a cache until released here.
    */
  def clearScoringCache(): Unit = ()

  /** Persist to `path` (any Hadoop-visible filesystem): the clusterer and
    * per-cluster pipelines via spark.ml persistence, the driver-side maps as
    * a small metadata JSON.
    */
  def save(path: String): Unit = {
    clusterModel.write.overwrite().save(s"$path/clusterer")
    clusterModels.foreach { case (c, pm) =>
      pm.write.overwrite().save(s"$path/cluster_$c")
    }
    val meta = {
      val hp = hardcodedProb.map { case (c, p) => s""""$c": $p""" }.mkString("{", ", ", "}")
      val cs = clusterModels.keys.toSeq.sorted.mkString("[", ", ", "]")
      val aux = auxCols.map(a => s""""$a"""").mkString("[", ", ", "]")
      s"""{"labelCol": "$labelCol", "clusters": $cs, "hardcodedProb": $hp, "auxCols": $aux}"""
    }
    val spark = org.apache.spark.sql.SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$path/metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }
}

object ClusteredClassifierModel {

  /** Load a model previously written by [[ClusteredClassifierModel.save]]. */
  def load(path: String): ClusteredClassifierModel = {
    val spark = org.apache.spark.sql.SparkSession.active
    val p = new org.apache.hadoop.fs.Path(s"$path/metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // minimal parse of the flat metadata JSON written by save()
    def field(name: String): String = {
      val m = (s""""$name":\\s*("[^"]*"|\\{[^}]*\\}|\\[[^\\]]*\\])""").r
      m.findFirstMatchIn(meta).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(s"metadata.json missing $name"))
    }
    val labelCol = field("labelCol").stripPrefix("\"").stripSuffix("\"")
    val clusters = field("clusters").stripPrefix("[").stripSuffix("]").trim match {
      case "" => Seq.empty[Int]
      case s => s.split(",").map(_.trim.toInt).toSeq
    }
    val hardcoded = field("hardcodedProb").stripPrefix("{").stripSuffix("}").trim match {
      case "" => Map.empty[Int, Double]
      case s => s.split(",").map { kv =>
        val Array(k, v) = kv.split(":").map(_.trim)
        k.stripPrefix("\"").stripSuffix("\"").toInt -> v.toDouble
      }.toMap
    }
    val aux = field("auxCols").stripPrefix("[").stripSuffix("]").trim match {
      case "" => Seq.empty[String]
      case s => s.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    }
    val clusterer = PipelineModel.load(s"$path/clusterer")
    val perCluster = clusters.map(c => c -> PipelineModel.load(s"$path/cluster_$c")).toMap
    new ClusteredClassifierModel(clusterer, perCluster, hardcoded, labelCol, aux)
  }
}
