package graft

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{StringIndexer, StringIndexerModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.{ClusteredClassifier, ClusteredClassifierModel}

/** ClusteredClassifier on an inline synthetic frame: four well-separated
  * blobs — one mostly normal, one mostly attack, one small all-attack and
  * one all-normal — so that a k=4 fit has forests with either label first
  * and hardcoded clusters, without any fixture file.
  */
class ClusteredClassifierSpec extends SparkTestBase {

  import spark.implicits._

  private val seed = 4667979835606274383L

  /** (id, labels2, features): inside a blob, the label follows the third
    * coordinate, so each forest has something to learn.
    */
  private def blobs(n: Int, rngSeed: Long): DataFrame = {
    val rnd = new scala.util.Random(rngSeed)
    // (center x, center y, share of rows, attack when z > cut)
    val spec = Seq((0.0, 0.0, 0.40, 0.2), (20.0, 20.0, 0.35, -0.25),
      (-20.0, 20.0, 0.05, -1.0), (20.0, -20.0, 0.20, 1.0))
    spec.zipWithIndex.flatMap { case ((cx, cy, share, cut), b) =>
      (0 until (n * share).toInt).map { i =>
        val z = rnd.nextDouble() - 0.5
        (b * 100000L + i, if (z > cut) "attack" else "normal",
          Vectors.dense(cx + rnd.nextDouble() - 0.5, cy + rnd.nextDouble() - 0.5, z))
      }
    }.toDF("id", "labels2", "features")
  }

  private lazy val train = blobs(600, 7L).cache()
  private lazy val holdout = blobs(300, 8L)

  private def classifier(maxDepth: Int = 4) = new ClusteredClassifier(k = 4,
    numTrees = 5, maxDepth = maxDepth, seed = seed, kmeansInitSteps = 2)

  private lazy val model: ClusteredClassifierModel = classifier().fit(train)

  private def labelsOf(c: Int): Array[String] =
    model.clusterModels(c).stages.head.asInstanceOf[StringIndexerModel].labelsArray.head

  test("fixture: forests with either label first, and hardcoded clusters") {
    assert(model.clusterModels.size >= 2)
    assert(model.clusterModels.keys.exists(c => labelsOf(c).head == "normal"))
    assert(model.clusterModels.keys.exists(c => labelsOf(c).head == "attack"))
    assert(model.hardcodedProb.values.toSet === Set(0.0, 1.0))
  }

  test("one-projection prob equals each forest's transform + probability[attackIdx], bit for bit") {
    val scored = model.transform(holdout)
    assert(scored.columns.toSeq === holdout.columns.toSeq ++ Seq("cluster", "prob"))
    val got = scored.select("id", "cluster", "prob").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(got.size === holdout.count())

    val clustered = model.clusterModel.transform(holdout)
    val expected = model.clusterModels.toSeq.flatMap { case (c, pm) =>
      val attackIdx = labelsOf(c).indexOf("attack")
      pm.transform(clustered.filter(col("cluster") === c))
        .select(col("id"), vector_to_array(col("probability"))(attackIdx))
        .collect().map(r => r.getLong(0) -> r.getDouble(1))
    }.toMap
    assert(expected.nonEmpty)
    got.foreach { case (id, (c, p)) =>
      val want = expected.getOrElse(id, model.hardcodedProb.getOrElse(c, 0.0))
      assert(java.lang.Double.doubleToRawLongBits(p) ===
        java.lang.Double.doubleToRawLongBits(want), s"row $id (cluster $c): $p vs $want")
    }
    // every kind of cluster was scored
    val clusters = got.values.map(_._1).toSet
    assert(clusters.exists(model.hardcodedProb.contains))
    assert(clusters.exists(c => model.clusterModels.contains(c) && labelsOf(c).head == "normal"))
  }

  test("concurrent fit gives each cluster the forest a sequential StringIndexer + RF fit gives") {
    val clustered = model.clusterModel.transform(train)
    def debug(rf: RandomForestClassificationModel) =
      rf.toDebugString.replaceFirst("uid=[^,]*, ", "")
    model.clusterModels.toSeq.sortBy(_._1).foreach { case (c, pm) =>
      val sequential = new Pipeline().setStages(Array(
        new StringIndexer().setInputCol("labels2").setOutputCol("label_idx")
          .setStringOrderType("frequencyDesc"),
        new RandomForestClassifier().setLabelCol("label_idx")
          .setFeaturesCol("features").setNumTrees(5).setMaxDepth(4)
          .setFeatureSubsetStrategy("sqrt").setSeed(seed)))
        .fit(clustered.filter(col("cluster") === c))
      assert(labelsOf(c).toSeq ===
        sequential.stages.head.asInstanceOf[StringIndexerModel].labelsArray.head.toSeq)
      assert(debug(pm.stages.last.asInstanceOf[RandomForestClassificationModel]) ===
        debug(sequential.stages.last.asInstanceOf[RandomForestClassificationModel]),
        s"cluster $c")
    }
  }

  test("label order from counts equals a fitted StringIndexer(frequencyDesc), ties included") {
    val cases = Seq(
      Map("normal" -> 3L, "attack" -> 3L), // tie: "attack" first
      Map("normal" -> 5L, "attack" -> 2L),
      Map("normal" -> 1L, "attack" -> 4L),
      Map("b" -> 2L, "attack" -> 2L, "normal" -> 7L, "a" -> 2L, "Z" -> 1L))
    cases.foreach { counts =>
      val df = counts.toSeq.flatMap { case (l, n) => Seq.fill(n.toInt)(l) }.toDF("labels2")
      val fitted = new StringIndexer().setInputCol("labels2").setOutputCol("i")
        .setStringOrderType("frequencyDesc").fit(df).labelsArray.head
      assert(ClusteredClassifier.frequencyDesc(counts).toSeq === fitted.toSeq, counts)
    }
    assert(ClusteredClassifier.frequencyDesc(Map("normal" -> 3L, "attack" -> 3L)).toSeq ===
      Seq("attack", "normal"))
  }

  test("a failing forest fit rethrows its error and leaves no cache behind") {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    val uncached = blobs(600, 7L)
    spark.catalog.clearCache()
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    // maxDepth 31 passes the estimator's construction and fails inside the
    // pool, once the clustered frame is cached
    val e = intercept[IllegalArgumentException](classifier(maxDepth = 31).fit(uncached))
    assert(e.getMessage.contains("maxDepth"), e.getMessage)
    assert(sc.getPersistentRDDs.keySet.toSet === rddsBefore)
    assert(cm.isEmpty)
  }
}
