package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: comma-separated entry-name prefixes — a fast
    // local loop for one entry ("… /tmp/out st42,ext_ann"); the driver
    // always passes two args, so the full dump is unchanged
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").map(_.trim).toSet))
    }
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Watchdog: one hung query (e.g. a stream that never drains in a
    // changed environment) must not stall the whole correctness dump.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      // fresh daemon thread per query: a timed-out thread is abandoned
      // (it cannot block the next query the way a pooled worker would)
      @volatile var err: Throwable = null
      val t = new Thread(() => {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable => err = e }
      }, s"verify-$name")
      t.setDaemon(true)
      t.start()
      t.join(timeoutSec * 1000)
      if (t.isAlive) {
        t.interrupt()
        spark.sparkContext.cancelAllJobs()
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        System.err.println(s"[verify] $name timed out after ${timeoutSec}s")
      } else if (err != null) {
        System.err.println(s"[verify] $name failed: ${err.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // `__SF__` → the sf-dir name: staged-parquet oracles (ExtQueries) read
    // intermediates keyed by the scale this dump ran at, so a later run at
    // another sf can't clobber what the driver's DuckDB pass will read
    val sfName = new java.io.File(sfDir).getName
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__SF__", sfName))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Orderly stream/state-store/session teardown — a RocksDB metrics poll
    // racing JVM exit SIGSEGVs in native code (see Graft.shutdown).
    Graft.shutdown(spark)
  }
}
