package graft

import org.apache.spark.sql.Row

import graft.etl.{DetailsClean, ReviewsClean, Schemas}

/** Golden tests for the two batch cleaning pipelines over dirty fixtures
  * (FIXTURES.md §A — every dirty-data class the reference handles). */
class EtlSpec extends SparkSpec {

  lazy val details = DetailsClean.pipeline(
    spark, DetailsClean.readRaw(spark, fixture("books_data.csv"))).cache()
  lazy val reviews = ReviewsClean.pipeline(
    spark, ReviewsClean.readRaw(spark, fixture("Books_rating.csv"))).cache()

  test("details: double explode is a per-row cross product, no trim") {
    val a = details.filter(details("Title") === "Book A")
      .select("authors", "categories").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(a === Set(
      ("Alice Smith", "Fiction"), ("Alice Smith", " Drama"),
      (" Bob Jones", "Fiction"), (" Bob Jones", " Drama")))
  }

  test("details: exact duplicates collapse (dropDuplicates)") {
    assert(details.filter(details("Title") === "Book A").count() === 4)
  }

  test("details: non-http URL row dropped, null URL row dropped by dropna-after-fill quirk") {
    // Book B: image='notaurl' fails the startswith filter.
    // Book C: image NULL passes the filter but dies at na.drop() because
    // the fill map doesn't cover url columns (SURVEY.md §7.4.5).
    val titles = details.select("Title").collect().map(_.getString(0)).toSet
    assert(!titles.contains("Book B") && !titles.contains("Book C"))
  }

  test("details: backslash and quote stripping") {
    val d = details.filter(details("Title") === "Book D")
      .select("authors", "publisher").collect().head
    assert(d.getString(0) === "DanDeacon")
    assert(d.getString(1) === "PBQ")
  }

  test("details: null publisher filled N.A; LEGACY lenient year parse") {
    val e = details.filter(details("Title") === "Book E")
      .select("publisher", "Year_of_publish").collect().head
    assert(e.getString(0) === "N.A")
    assert(e.getInt(1) === 1987) // '1987-xx' parsed leniently under LEGACY
  }

  test("details: null title filled N.A; year from yyyy-MM-dd") {
    assert(details.filter(details("Title") === "N.A").count() === 1)
    val a = details.filter(details("Title") === "Book A")
      .select("Year_of_publish").head()
    assert(a.getInt(0) === 1995)
  }

  test("reviews: garbage score row dropped; 4 rows survive") {
    assert(reviews.select("Id").collect().map(_.getString(0)).toSet
      === Set("1", "2", "4", "5"))
  }

  test("reviews: helpfulness percentage with 0/0→NULL→0 and NULL→0 fills") {
    val m = reviews.select("Id", "Review_helpfulness").collect()
      .map(r => r.getString(0) -> r.getFloat(1)).toMap
    assert(m === Map("1" -> 100.0f, "2" -> 0.0f, "4" -> 50.0f, "5" -> 0.0f))
  }

  test("reviews: null Title filled; from_unixtime is a UTC string") {
    val r4 = reviews.filter(reviews("Id") === "4").collect().head
    assert(r4.getAs[String]("Title") === "N.A")
    val r1 = reviews.filter(reviews("Id") === "1")
      .select("review_Time").head().getString(0)
    assert(r1 === "2011-03-13 07:06:40")
  }

  test("malformed CSV rows: PERMISSIVE keeps + flags, DROPMALFORMED drops") {
    val bad = tmpDir("badcsv") + "/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bad),
      "a,b\n1,x\nnotanint,z\n2,y\n")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").csv(bad)
      .cache()
    assert(permissive.count() === 3)
    assert(permissive.filter(permissive("_corrupt_record").isNotNull).count() === 1)
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("header", "true").option("mode", "DROPMALFORMED").csv(bad)
    // collect(), not count(): count() prunes every column, so the parser
    // never attempts the failing conversion and drops nothing
    assert(dropped.collect().length === 2)
    permissive.unpersist()
  }

  test("reviews: header-only CSV cleans to an empty 10-column parquet") {
    // no parseable score: the global mean is NULL and the score fill is
    // skipped (it used to fail with ROW_VALUE_IS_NULL)
    val dir = tmpDir("reviews_empty")
    val in = s"$dir/Books_rating.csv"
    val header = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(fixture("Books_rating.csv"))).get(0)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(in), header + "\n")
    ReviewsClean.run(spark, in, s"$dir/out")
    val out = spark.read.parquet(s"$dir/out")
    assert(out.count() === 0)
    assert(out.schema.map(f => f.name -> f.dataType) ===
      Schemas.ratingsCleaned.map(f => f.name -> f.dataType))
  }

  test("reviews: 10-column cleaned schema") {
    assert(reviews.columns.toSeq === Seq("Id", "Title", "User_id",
      "profileName", "Review_helpfulness", "review_score",
      "review_time_unix", "review_Time", "review_summary", "review_text"))
  }
}
