package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.AttributeRatio

/** Attribute Ratio edge cases, each checked against the three-query form
  * (a global average, then a grouped aggregation and a max per kind) that
  * the one-pass implementation replaced.
  */
class AttributeRatioSpec extends SparkTestBase {

  import spark.implicits._

  /** The three-query Attribute Ratio, kept as the oracle. */
  private def threeQuery(df: DataFrame, labelCol: String, numericCols: Seq[String],
                         binaryCols: Seq[String]): ListMap[String, Double] = {
    var ratios = Map.empty[String, Double]
    if (numericCols.nonEmpty) {
      val globalRow = df.agg(avg(col(numericCols.head)).as(numericCols.head),
        numericCols.tail.map(c => avg(col(c)).as(c)): _*).first()
      val globalAvg = numericCols.map(c => c -> globalRow.getAs[Double](c)).toMap
      val grouped = df.groupBy(col(labelCol)).agg(avg(col(numericCols.head)).as(numericCols.head),
        numericCols.tail.map(c => avg(col(c)).as(c)): _*)
      def ratio(c: String) =
        if (globalAvg(c) == 0.0) lit(null).cast("double") else col(c) / lit(globalAvg(c))
      val maxRow = grouped.agg(max(ratio(numericCols.head)).as(numericCols.head),
        numericCols.tail.map(c => max(ratio(c)).as(c)): _*).na.fill(0.0).first()
      ratios ++= numericCols.map(c => c -> maxRow.getAs[Double](c))
    }
    if (binaryCols.nonEmpty) {
      def ratio(c: String) = {
        val s = sum(col(c)); val n = count(col(c))
        when(n - s === 0, lit(null).cast("double")).otherwise(s / (n - s)).as(c)
      }
      val grouped = df.groupBy(col(labelCol))
        .agg(ratio(binaryCols.head), binaryCols.tail.map(ratio): _*).na.fill(1000.0)
      val maxRow = grouped.agg(max(col(binaryCols.head)).as(binaryCols.head),
        binaryCols.tail.map(c => max(col(c)).as(c)): _*).first()
      ratios ++= binaryCols.map(c => c -> maxRow.getAs[Double](c))
    }
    ListMap(ratios.toSeq.sortBy { case (k, v) => (-v, k) }: _*)
  }

  private val numeric = Seq("x", "zero", "xi", "nulls")
  private val binary = Seq("bi", "bd", "bnull")

  // x: plain doubles; zero: global average 0; xi: an int column; nulls: all
  // null. bi (int) and bd (double) are binary, DoS has bi == 1 on every
  // row (n == sum); bnull is all null.
  private def frame: DataFrame = {
    val (nd, ni) = (Option.empty[Double], Option.empty[Int])
    Seq(
      ("normal", 1.0, 0.0, 2, nd, 0, 0.0, ni),
      ("normal", 3.0, 0.0, 4, nd, 1, 1.0, ni),
      ("normal", 2.0, 0.0, 0, nd, 0, 0.0, ni),
      ("DoS", 10.0, 0.0, 7, nd, 1, 1.0, ni),
      ("DoS", 6.0, 0.0, 1, nd, 1, 0.0, ni),
      ("Probe", 0.5, 0.0, 3, nd, 0, 1.0, ni),
      ("Probe", 0.25, 0.0, 3, nd, 1, 0.0, ni),
      ("Probe", 4.0, 0.0, 9, nd, 0, 0.0, ni)
    ).toDF("labels5", "x", "zero", "xi", "nulls", "bi", "bd", "bnull")
  }

  test("edge cases: zero global average, n == sum sentinel, all-null columns, int and double binaries") {
    val df = frame
    val ar = AttributeRatio.attributeRatios(df, "labels5", numeric, binary)
    assert(ar.toSeq === threeQuery(df, "labels5", numeric, binary).toSeq)
    assert(ar("zero") === 0.0)          // zero global average
    assert(ar("nulls") === 0.0)         // no average at all
    assert(ar("bi") === 1000.0)         // DoS: n == sum
    assert(ar("bnull") === 1000.0)      // null per class → sentinel
    // DoS averages 8.0 against a global 26.75 / 8
    assert(ar("x") === 8.0 / (26.75 / 8))
    assert(ar("xi") === 5.0 / (29.0 / 8)) // Probe averages 5
    // bd: normal 1/2, DoS 1/1, Probe 1/2
    assert(ar("bd") === 1.0)
    assert(ar.keys.toSeq.take(2) === Seq("bi", "bnull"))
  }

  test("one kind only matches the three-query form; an empty frame gives 0.0") {
    val df = frame
    Seq((numeric, Nil), (Nil, binary), (Nil, Nil)).foreach { case (n, b) =>
      assert(AttributeRatio.attributeRatios(df, "labels5", n, b).toSeq ===
        threeQuery(df, "labels5", n, b).toSeq)
    }
    // no rows: every ratio is 0.0 (the three-query form left boxed nulls
    // in the map for the binary features here)
    val ar = AttributeRatio.attributeRatios(df.limit(0), "labels5", numeric, binary)
    assert(ar.keySet === (numeric ++ binary).toSet)
    assert(ar.values.toSet === Set(0.0))
  }
}
