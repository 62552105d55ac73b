package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, concat, lit, sum}

import graft.etl.{DetailsClean, ReviewsClean, Schemas}
import graft.medallion.Medallion

/** End-to-end bronze→silver→gold streaming medallion over the fixture
  * pipelines (the reference's full topology, SURVEY.md §3.3). */
class MedallionSpec extends SparkSpec {

  test("medallion: full streaming chain matches hand-computed gold") {
    val root = tmpDir("medallion")
    DetailsClean.run(spark, fixture("books_data.csv"), s"$root/details_cleaned")
    ReviewsClean.run(spark, fixture("Books_rating.csv"), s"$root/ratings_cleaned")

    val gold = Medallion.runAll(spark,
      s"$root/details_cleaned", s"$root/ratings_cleaned", s"$root/out")

    // Silver: reviews with YEAR>2010 are ids 1 and 5 (Book A) and id 4
    // (null Title filled "N.A" — which equi-joins the details row whose
    // null title was also filled "N.A": the fills happen upstream of the
    // join, so N.A matches N.A, faithful to the reference's ordering).
    // Book A details exploded to 4 author×category rows → 4×2 + 1 = 9.
    val silver = spark.read.parquet(s"$root/out/silver")
    assert(silver.count() === 9)
    assert(silver.columns.length === 11)

    // Gold: grouped by (title, year, categories).
    val rows = gold.collect().map(r =>
      (r.getAs[String]("title"), r.getAs[Int]("Year_of_publish"),
        r.getAs[String]("categories"), r.getAs[Long]("users_count"))).toSet
    assert(rows === Set(
      ("Book A", 1995, "Fiction", 4L), ("Book A", 1995, " Drama", 4L),
      ("N.A", 2010, "Memoir", 1L)))
  }

  test("medallion: restart picks up one landed reviews file from the checkpoints") {
    val root = tmpDir("medallion_restart")
    val details = s"$root/details_cleaned"
    val reviews = s"$root/ratings_cleaned"
    DetailsClean.run(spark, fixture("books_data.csv"), details)
    ReviewsClean.run(spark, fixture("Books_rating.csv"), reviews)
    val out = Medallion.Paths(s"$root/out")
    Medallion.runAll(spark, details, reviews, out.root)
    val bronzeBefore = spark.read.parquet(out.bronzeReviews).count()

    // land one more cleaned-reviews file: every review again under a new Id
    val stage = s"$root/landing"
    spark.read.parquet(reviews).withColumn("Id", concat(lit("r2-"), col("Id")))
      .coalesce(1).write.parquet(stage)
    val landed = spark.read.parquet(stage).count()
    val ls = Files.list(Paths.get(stage))
    val part = try ls.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally ls.close()
    Files.move(part, Paths.get(reviews, "part-landed.parquet"))

    // second run on the same root: offsets, file logs and join/aggregate
    // state all reload from the checkpoints written by the first
    val gold = Medallion.runAll(spark, details, reviews, out.root)
    assert(spark.read.parquet(out.bronzeReviews).count() === bronzeBefore + landed)

    spark.read.schema(Schemas.detailsCleaned).parquet(details)
      .createOrReplaceTempView("Books_Details_bronze_temp")
    spark.read.schema(Schemas.ratingsCleaned).parquet(reviews)
      .createOrReplaceTempView("Books_reviews_bronze_temp")
    val replay = spark.sql(Medallion.silverSql)
    val silver = spark.read.parquet(out.silver)
    val n = silver.count()
    assert(n === replay.count())
    assert(silver.exceptAll(replay).isEmpty && replay.exceptAll(silver).isEmpty)
    assert(gold.agg(sum("users_count")).head().getLong(0) === n)
  }
}
