package graft
import java.nio.file.{Files, Paths}

/** Optimization-round measurement harness: dumps `.explain("formatted")`
  * for named queries to `<outDir>/<query>_<suffix>.txt` and (optionally)
  * times each with the noop sink, min-of-N. Same session shape as Bench so
  * plans match what the driver's sweep executes.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [timeN]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val timeN = if (args.length > 3) args(3).toInt else 0
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm codegen at sf0.001 like Bench, so timings measure execution
    if (timeN > 0) names.foreach { n =>
      try run(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case _: Throwable => () }
    }
    graft.ops.CacheScope.default.release()
    val times = names.map { n =>
      val fn = SparkEntry.queries(n)
      val df = fn(spark, sfDir)
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      val ts = (0 until timeN).map { _ =>
        graft.ops.CacheScope.default.release()
        spark.sparkContext.setJobDescription(n)
        val t0 = System.nanoTime()
        run(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      n -> (if (ts.isEmpty) Double.NaN else ts.min)
    }
    if (timeN > 0)
      println(times.map { case (n, t) => f""""$n":$t%.3f""" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
