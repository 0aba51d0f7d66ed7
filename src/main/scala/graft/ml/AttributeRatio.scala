package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Attribute Ratio feature selection (reference `README.md:1143-1172`,
  * after Chae & Choi's AR papers linked at `README.md:1135`).
  *
  * Semantics replicated exactly, including fill order (SURVEY §7.4-5):
  *   - numeric feature c: AR(c) = max over label classes of
  *     avg_class(c) / avg_global(c); nulls in the final max row → 0.0;
  *   - binary feature c: per class freq(1)/freq(0) = sum/(count−sum),
  *     null (division by zero) → 1000.0 sentinel BEFORE the max.
  *
  * Execution shape: one global aggregation (the numeric averages) and one
  * `groupBy(label)` that computes every feature's per-class statistic at
  * once — two queries regardless of feature count (four jobs under AQE),
  * partial aggregation map-side. The max over the few class rows happens on the driver, with
  * Spark `max`'s rules (nulls skipped, NaN above every number). The result
  * is a driver-side ranking dict (a few hundred entries), like the
  * reference's OrderedDict.
  */
object AttributeRatio {

  /** AR scores for all features, sorted descending (reference's
    * `getAttributeRatio`).
    */
  def attributeRatios(df: DataFrame, labelCol: String,
                      numericCols: Seq[String], binaryCols: Seq[String]): ListMap[String, Double] = {
    val globalAvg = if (numericCols.isEmpty) Map.empty[String, Double] else {
      val globalRow = df.agg(
        avg(col(numericCols.head)).as(numericCols.head),
        numericCols.tail.map(c => avg(col(c)).as(c)): _*).first()
      // no non-null value at all counts as a zero average
      numericCols.zipWithIndex.map { case (c, i) =>
        c -> (if (globalRow.isNullAt(i)) 0.0 else globalRow.getDouble(i))
      }.toMap
    }
    // binary: freq(1)/freq(0) with an explicit zero-denominator guard
    // (ANSI-safe); null (guarded) → 1000.0 sentinel BEFORE the max
    // (reference README.md:1164)
    def freqRatio(c: String) = {
      val s = sum(col(c)); val n = count(col(c))
      when(n - s === 0, lit(null).cast("double")).otherwise(s / (n - s))
    }
    val stats = numericCols.map(c => avg(col(c))) ++ binaryCols.map(freqRatio)
    val classRows = if (stats.isEmpty) Array.empty[Row] else
      df.groupBy(col(labelCol)).agg(stats.head, stats.tail: _*).collect()
    def perClass(i: Int): Seq[Option[Double]] =
      classRows.toSeq.map(r => if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1)))

    // numeric: max over classes of class-avg / global-avg, then null → 0.0
    // (as for either kind when df has no rows at all).
    // A zero global average (constant-zero feature) maps to null up front:
    // the reference relies on non-ANSI null division, Spark 4 ANSI raises.
    val numeric = numericCols.zipWithIndex.map { case (c, i) =>
      val g = globalAvg(c)
      c -> sqlMax(perClass(i).flatMap(a => if (g == 0.0) None else a.map(_ / g))).getOrElse(0.0)
    }
    val binary = binaryCols.zipWithIndex.map { case (c, i) =>
      c -> sqlMax(perClass(numericCols.size + i).map(_.getOrElse(1000.0))).getOrElse(0.0)
    }
    val ratios = (numeric ++ binary).toMap

    ListMap(ratios.toSeq.sortBy { case (k, v) => (-v, k) }: _*)
  }

  /** Spark `max` over non-null doubles: NaN above every number, -0.0 equal
    * to 0.0 (the first seen wins a tie).
    */
  private def sqlMax(xs: Seq[Double]): Option[Double] =
    xs.reduceOption((m, x) => if (x != m && java.lang.Double.compare(x, m) > 0) x else m)

  /** Features with AR ≥ minAr (reference `selectFeaturesByAR`,
    * `README.md:1171-1172`).
    */
  def selectFeaturesByAR(ratios: ListMap[String, Double], minAr: Double): Seq[String] =
    ratios.collect { case (k, v) if v >= minAr => k }.toSeq
}
