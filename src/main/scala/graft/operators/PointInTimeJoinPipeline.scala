package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{PointInTimeJoinConfig, Schemas, TrainingData}
import graft.sources.{Fetcher, Writer}

/** Point-in-time join: attach to each label the latest feature snapshot at
  * or before its as-of date — never a later one (leakage-free training data;
  * reference: PointInTimeJoinPipeline.scala:64-139).
  *
  * Output: label columns + feature columns, one row per label, feature
  * columns null when no snapshot exists at or before the label.
  *
  * Physical design: delegates to [[AsOfJoin]]. Default is the
  * [[AsOfJoin.unionSorted]] single-shuffle formulation (no fan-out at deep
  * feature history); [[AsOfJoin.joinRank]] is the reference-shaped plan and
  * is kept for plan comparison. Unlike the reference we never `collect()`
  * to test emptiness (PointInTimeJoinPipeline.scala:68 pulls the entire
  * result to the driver) — `labels.isEmpty` looks at one input row.
  */
object PointInTimeJoinPipeline {

  private val featureCols =
    Seq("day", "event_count_7d", "event_count_30d", "last_event_days_ago",
      "event_type_counts")

  /** Pure transformation: labels × features_daily -> training rows. */
  def transform(labels: DataFrame, features: DataFrame,
      useUnionPlan: Boolean = true): DataFrame = {
    val feats = features.withColumn("feature_date", col("day"))
    val out =
      if (useUnionPlan)
        AsOfJoin.unionSorted(labels, feats, "user_id",
          leftTime = "as_of_ts", rightTime = "feature_date",
          rightValueCols = featureCols)
      else {
        val withAsOfDate = labels.withColumn("as_of_date", to_date(col("as_of_ts")))
        AsOfJoin.joinRank(withAsOfDate, feats, "user_id",
          leftTime = "as_of_date", rightTime = "feature_date",
          rightValueCols = featureCols)
          .drop("as_of_date")
      }
    out.select(
      col("user_id"), col("label"), col("as_of_ts"), col("day"),
      col("event_count_7d"), col("event_count_30d"),
      col("last_event_days_ago"), col("event_type_counts"))
  }

  /** Full pipeline: read labels (parquet) + features (catalog table), join,
    * write training data partitioned by as_of_ts; None when the join is
    * empty (reference: PointInTimeJoinPipeline.scala:67-79 skips the write).
    *
    * Both plans emit exactly one row per label, so the labels alone decide
    * emptiness and the join runs once, inside the write. The returned
    * dataset is that uncached plan: count what landed by reading
    * `outputPath` back, not by re-running it.
    */
  def run(spark: SparkSession, fetcher: Fetcher, writer: Writer,
      config: PointInTimeJoinConfig): Option[Dataset[TrainingData]] = {
    import spark.implicits._
    val labels = fetcher.readParquet(spark, config.labelsPath, Some(Schemas.labels))
    val features = fetcher.readTable(spark, config.featuresTable)
    val training = transform(labels, features, config.useUnionPlan).as[TrainingData]
    if (labels.isEmpty) None
    else {
      writer.writeParquet(training.toDF(), config.outputPath,
        partitionBy = config.partitionBy)
      Some(training)
    }
  }
}
