package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineStage, Transformer}
import org.apache.spark.ml.feature._
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Labels2/Labels5 as spark.ml Transformers (reference `README.md:222-238`,
  * M1) so they compose into Pipelines like the reference's
  * labels-mapping pipeline (`README.md:243`).
  */
class Labels2Converter(override val uid: String) extends Transformer {
  def this() = this(Identifiable.randomUID("labels2conv"))
  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn("labels2", LabelConverters.labels2(col("labels")))
  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("labels2", StringType, nullable = true))
  override def copy(extra: ParamMap): Labels2Converter = this
}

class Labels5Converter(override val uid: String) extends Transformer {
  def this() = this(Identifiable.randomUID("labels5conv"))
  override def transform(ds: Dataset[_]): DataFrame =
    ds.withColumn("labels5", LabelConverters.labels5(col("labels")))
  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("labels5", StringType, nullable = true))
  override def copy(extra: ParamMap): Labels5Converter = this
}

/** Feature-preparation builders mirroring the reference's prep stages
  * (SURVEY §2.9 M2, M4, M6-M9) on public `spark.ml` components.
  */
object FeaturePrep {

  /** The reference's labels-mapping pipeline (`README.md:240-243`):
    * converters + frequency-descending StringIndexers (train: normal=0.0).
    */
  def labelsPipeline(): Pipeline = new Pipeline().setStages(Array(
    new Labels2Converter(),
    new Labels5Converter(),
    new StringIndexer().setInputCol("labels2").setOutputCol("labels2_index")
      .setStringOrderType("frequencyDesc").setHandleInvalid("keep"),
    new StringIndexer().setInputCol("labels5").setOutputCol("labels5_index")
      .setStringOrderType("frequencyDesc").setHandleInvalid("keep")))

  /** Flat one-hot columns named `col_value` (e.g. `protocol_type_tcp`),
    * exactly the reference's custom OHE output shape (`README.md:1052-1078`)
    * — downstream AR scoring and VectorSlicer address them by name.
    * Vocabulary comes from the training frame (one distinct-collect per
    * nominal column); unseen test categories simply produce all-zero rows,
    * matching the reference's use-train-columns-only note
    * (`README.md:1106`). Pure when-expressions → whole-stage codegen.
    * All vocabularies come from ONE aggregate job (a collect_set per
    * column), not one distinct-collect job per column.
    */
  def oheFlat(train: DataFrame, nominalCols: Seq[String]): (DataFrame => DataFrame, Seq[String]) = {
    val setAggs = nominalCols.map(c => collect_set(col(c)).as(c))
    val row = train.agg(setAggs.head, setAggs.tail: _*).first()
    val vocab: Seq[(String, Seq[String])] = nominalCols.map { c =>
      c -> row.getSeq[String](row.fieldIndex(c)).toSeq.sorted
    }
    val outCols = vocab.flatMap { case (c, vs) => vs.map(v => s"${c}_$v") }
    val apply = (df: DataFrame) => {
      val oheExprs = vocab.flatMap { case (c, vs) =>
        vs.map(v => when(col(c) === v, 1.0).otherwise(0.0).as(s"${c}_$v"))
      }
      df.select((df.columns.map(col).toSeq ++ oheExprs): _*)
    }
    (apply, outCols)
  }

  /** Built-in OHE pipeline variant (StringIndexer → OneHotEncoder →
    * vector), for vector-based consumers. dropLast=false like the
    * reference's custom OHE; handleInvalid=keep for unseen test categories.
    */
  def oheStages(nominalCols: Seq[String]): Array[PipelineStage] = {
    val indexers = nominalCols.map(c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
        .setStringOrderType("frequencyDesc").setHandleInvalid("keep"))
    val encoder = new OneHotEncoder()
      .setInputCols(nominalCols.map(c => s"${c}_idx").toArray)
      .setOutputCols(nominalCols.map(c => s"${c}_vec").toArray)
      .setDropLast(false)
    (indexers :+ encoder).toArray
  }

  /** Assemble + index (reference prep pipeline `README.md:1354-1358`):
    * VectorAssembler over the selected feature names, VectorIndexer with
    * maxCategories=2 to flag binary dims as categorical for trees.
    */
  def prepPipeline(featureCols: Seq[String], maxCategories: Int = 2): Pipeline =
    new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(featureCols.toArray)
        .setOutputCol("raw_features").setHandleInvalid("keep"),
      new VectorIndexer().setInputCol("raw_features")
        .setOutputCol("indexed_features").setMaxCategories(maxCategories)
        .setHandleInvalid("keep")))

  /** Name-based feature subsetting (reference `README.md:1489,1545,1649`):
    * VectorSlicer over assembler metadata.
    */
  def slicer(names: Seq[String], inputCol: String = "indexed_features",
             outputCol: String = "features"): VectorSlicer =
    new VectorSlicer().setInputCol(inputCol).setOutputCol(outputCol)
      .setNames(names.toArray)

  /** Z-score standardization of flat columns in place (reference's custom
    * standardizer, `README.md:1323-1340`): one stats aggregate, broadcast
    * back — same shape as RelationalOps.zscore but overwriting the source
    * columns like the reference does. Columns with zero stddev pass through
    * unscaled (guard against ÷0).
    */
  def standardize(train: DataFrame, cols: Seq[String]): DataFrame => DataFrame = {
    val statAggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"${c}__m"), stddev(col(c)).as(s"${c}__s")))
    val row = train.agg(statAggs.head, statAggs.tail: _*).first()
    val stats = cols.map { c =>
      val m = row.getAs[Double](s"${c}__m")
      val s = row.getAs[Double](s"${c}__s")
      c -> ((m, if (s == 0.0 || s.isNaN) 1.0 else s))
    }.toMap
    df => {
      val exprs = df.columns.toSeq.map { c =>
        stats.get(c) match {
          case Some((m, s)) => ((col(c) - lit(m)) / lit(s)).as(c)
          case None => col(c)
        }
      }
      df.select(exprs: _*)
    }
  }

  /** Class-weight column from a label→weight map (reference `udf_weight`,
    * `README.md:3377-3385`) — native expression, no UDF.
    */
  def withClassWeights(df: DataFrame, labelCol: String,
                       weights: Map[String, Double],
                       outCol: String = "weights"): DataFrame =
    df.withColumn(outCol, element_at(typedlit(weights), col(labelCol)))
}
