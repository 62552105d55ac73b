package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType}

import graft.Graft

/** Batch cleaning of raw book-ratings CSV → 10-column cleaned table,
  * re-expressing Amazon-book-review_books_reviews.py. Preserves the
  * reference's mean-imputation ordering quirk (nulls dropped BEFORE the
  * mean fill, so the fill is a no-op on score — SURVEY.md §7.4.4) and its
  * ANSI-off division/cast semantics (x/0 → NULL, garbage cast → NULL).
  */
object ReviewsClean {

  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.format("csv")
      .option("header", "true").option("inferSchema", "true").load(path)

  /** helpfulness "x/y" → numerator/denominator floats → percentage
    * (reviews.py:42-52). 0/0 → NULL (ANSI off), later filled with 0. */
  def deriveHelpfulness(df: DataFrame): DataFrame =
    df.withColumn("Reviews", split(col("review/helpfulness"), "/").getItem(0))
      .withColumn("Helpfulness", split(col("review/helpfulness"), "/").getItem(1))
      .withColumn("Reviews", col("Reviews").cast(FloatType))
      .withColumn("Helpfulness", col("Helpfulness").cast(FloatType))
      .withColumn("Review_helpfulness",
        round(col("Reviews") / col("Helpfulness") * 100, 2).cast(FloatType))

  /** score → Float then drop null/unparseable rows (reviews.py:67-69). */
  def castAndDropScore(df: DataFrame): DataFrame =
    df.withColumn("review/score", col("review/score").cast(FloatType))
      .na.drop(Seq("review/score"))

  /** unix-seconds string → long + session-TZ formatted timestamp STRING
    * (reviews.py:76 — from_unixtime returns a string, kept that way). */
  def deriveTime(df: DataFrame): DataFrame =
    df.withColumn("review_time_unix", col("review/time").cast(LongType))
      .withColumn("review_Time", from_unixtime(col("review_time_unix")))

  /** Drop the 84%-null Price column (reviews.py:86-93). */
  def dropPrice(df: DataFrame): DataFrame = df.drop("Price")

  /** Global mean of score (reviews.py:102) then per-column fills
    * (reviews.py:104-107). The score fill is a no-op by construction —
    * reproduced, not "fixed". With no parseable score the mean is NULL and
    * no rows are left to fill, so the score fill is skipped. */
  def fillNulls(df: DataFrame): DataFrame = {
    val mean = df.agg(avg(col("review/score"))).first()
    val filled = df.na.fill(Map(
        "Title" -> "N.A", "User_id" -> "N.A", "profileName" -> "N.A",
        "review/summary" -> "N.A", "review/text" -> "N.A"))
      .na.fill(Map("Review_helpfulness" -> 0.0))
    if (mean.isNullAt(0)) filled
    else filled.na.fill(Map("review/score" -> mean.getDouble(0)))
  }

  /** Final 10-column shape with renames (reviews.py:113). */
  def finalProjection(df: DataFrame): DataFrame =
    df.select(
      col("Id").cast("string").alias("Id"), col("Title"), col("User_id"),
      col("profileName"), col("Review_helpfulness"),
      col("review/score").alias("review_score"),
      col("review_time_unix"), col("review_Time"),
      col("review/summary").alias("review_summary"),
      col("review/text").alias("review_text"))

  def pipeline(spark: SparkSession, raw: DataFrame): DataFrame = {
    Graft.referenceSemantics(spark)
    finalProjection(fillNulls(dropPrice(
      deriveTime(castAndDropScore(deriveHelpfulness(raw))))))
  }

  def run(spark: SparkSession, inPath: String, outPath: String): Unit =
    pipeline(spark, readRaw(spark, inPath)).write.mode("overwrite").parquet(outPath)
}
