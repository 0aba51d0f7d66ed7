package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the test suites (one JVM-wide session —
  * ScalaTest suites run sequentially in the forked test JVM).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    super.afterAll()
  }

  /** Assert the persisted-index contract: every scan of `marker`'s tables
    * uses the bucketed layout, and NO shuffle exchange re-partitions a
    * corpus scan's output before it reaches its join (an exchange above the
    * join is the probe side's business, not the corpus's). Built (and
    * planned) with AQE off so the physical tree is directly traversable.
    */
  def assertCorpusExchangeFree(mkDf: => org.apache.spark.sql.DataFrame,
                               marker: String): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = mkDf.queryExecution.executedPlan
      def isCorpusScan(p: SparkPlan) = p match {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists { r =>
            val s = r.toString
            // the corpus-sized bucketed tables only — companion tables
            // (tombstones, centroids, meta) are deliberately small and
            // unbucketed, broadcast wherever they join
            s.contains(marker) && !s.contains("_deleted") &&
              !s.contains("_dropped") && !s.contains("_meta")
          }
        case _ => false
      }
      val scans = plan.collect { case f: FileSourceScanExec if isCorpusScan(f) => f }
      assert(scans.nonEmpty, s"no scan of $marker tables found in plan")
      assert(scans.forall(_.bucketedScan),
        s"corpus scans must use the bucketed layout: ${scans.map(_.nodeName)}")
      def reachesScanWithoutJoin(p: SparkPlan): Boolean = p match {
        case f if isCorpusScan(f) => true
        case _: BaseJoinExec => false
        case other => other.children.exists(reachesScanWithoutJoin)
      }
      plan.collect { case e: ShuffleExchangeExec => e }.foreach { e =>
        assert(!reachesScanWithoutJoin(e.child),
          s"corpus side re-shuffled by:\n${e.treeString.take(800)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", old)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession.local(4)

  val kddTrain20Path = "/root/reference/NSL_KDD_Dataset/KDDTrain+_20Percent.txt"
  val kddTestPath = "/root/reference/NSL_KDD_Dataset/KDDTest+.txt"
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
}
