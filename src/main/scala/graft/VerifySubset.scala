package graft

import java.nio.file.{Files, Paths}

/** Dev-loop variant of [[Verify]]: dump only the named catalog entries
  * (args: sfDir outDir name1 name2 …) plus their oracle_sql.json, so a new
  * entry can be checked with tools/check.py in seconds instead of re-running
  * the full 150+-entry dump. Same output layout as Verify — check.py works
  * on the subset directory unchanged.
  */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val defs = SparkEntry.catalog.filter(q => names.contains(q.name))
    val missing = names -- defs.map(_.name).toSet
    if (missing.nonEmpty) System.err.println(s"[verify-subset] unknown: $missing")
    defs.foreach { q =>
      try {
        q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        println(s"[verify-subset] dumped ${q.name}")
      } catch {
        case e: Throwable =>
          System.err.println(s"[verify-subset] ${q.name} failed: $e")
      }
    }
    def esc(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val sfName = new java.io.File(sfDir).getName
    val json = defs
      .flatMap(q => q.oracle.map(o =>
        s"${esc(q.name)}: ${esc(o.replace("__SF__", sfName))}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Graft.shutdown(spark)
  }
}
