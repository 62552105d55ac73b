package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{BookReviewEngine, Graft, SparkEntry}

/** JVM side of the benchmark. Drives only the program's public entry points
  * (the [[BookReviewEngine]] facade and the `SparkEntry.queries` catalog)
  * and writes what it measured to a JSON file that `run.py` turns into
  * metrics and checks.
  *
  * Arguments are `key=value`: workload, seconds, trace (0/1), result, work,
  * and per workload data (books_bulk) or sf/entries (catalog). One run:
  *
  *   1. one set-up: a fresh session, the workload's own set-up (fixture
  *      staging from an empty stage root) and [[WarmPasses]] discarded
  *      passes; set-up time is process start to the first timed operation;
  *   2. passes over the workload's operations until `seconds` elapsed —
  *      with trace=1 twice as long, alternating untraced and traced passes;
  *   3. output for the checks, outside every timed region.
  */
object Harness {
  /** Passes run and discarded before timing: a pass still gets faster
    * over the first two while the JIT compiles the program's hot paths. */
  val WarmPasses = 2

  private[perfbench] val rec = new Recorder
  private var nextOp = 0
  private val passes = collection.mutable.ArrayBuffer.empty[String]
  private val notes = collection.mutable.ArrayBuffer.empty[String]

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val seconds = a("seconds").toDouble
    val work = Paths.get(a("work"))
    val w: Workload = a("workload") match {
      case "books_bulk" => new BooksBulk(a, work)
      case "catalog" => new Catalog(a, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setUp()
    for (p <- 1 to WarmPasses) w.pass("warm", p)
    val spark = w.spark
    if (a("trace") == "1") {
      // untraced and traced passes alternate, so the tracing overhead is
      // measured in the same window as the numbers it qualifies
      rec.attach(spark)
      region(Seq("untraced", "traced"), 2 * seconds, Some(work))(w.pass)
    } else region(Seq("timed"), seconds, None)(w.pass)
    w.finish()
    Graft.shutdown(spark)
    val extra = Seq(
      "passes" -> passes.mkString("[", ",\n", "]"),
      "notes" -> notes.mkString("[", ",\n", "]"))
    Files.write(Paths.get(a("result")), rec.json(extra).getBytes("UTF-8"))
    // the caller reads peak RSS from /proc while this process still lives
    println("PERFBENCH_DONE")
    System.out.flush()
    scala.io.StdIn.readLine()
  }

  /** Whole passes, cycling through `names`, until `seconds` have elapsed
    * and every name has had a pass. Listener events are only kept during
    * "traced" passes; with `txlogRoot`, the txlog commits each traced pass
    * adds under it are noted, counted outside the pass's own time. */
  private def region(names: Seq[String], seconds: Double, txlogRoot: Option[Path])(
      pass: (String, Int) => Unit): Unit = {
    val start = rec.now()
    var commits = 0
    var bytes = 0L
    var i = 0
    while (i < names.size || rec.now() - start < seconds * 1000) {
      val name = names(i % names.size)
      val traced = name == "traced"
      val logBefore = txlogRoot.filter(_ => traced).map(txlogFiles)
      rec.drain()
      rec.traced = traced
      val t0 = rec.now()
      pass(name, i / names.size)
      passes += s"""{"region":"$name","pass":${i / names.size},"t0":$t0,"t1":${rec.now()}}"""
      rec.traced = false
      for (before <- logBefore; root <- txlogRoot) {
        val added = txlogFiles(root) -- before.keySet
        commits += added.size
        bytes += added.values.sum
      }
      i += 1
    }
    if (txlogRoot.isDefined) note("txlog_commits" -> commits, "txlog_bytes" -> bytes)
  }

  private def opId(): Int = { nextOp += 1; nextOp }

  private def note(fields: (String, Any)*): Unit = notes += fields.map {
    case (k, v: String) => s""""$k":${Recorder.str(v)}"""
    case (k, null) => s""""$k":null"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  private def walk[A](root: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(root)
    try f(s.iterator().asScala) finally s.close()
  }

  /** `_txlog/<version>.json` commit files under `root`, with their sizes. */
  private def txlogFiles(root: Path): Map[String, Long] = walk(root)(_.filter { f =>
    f.getParent.getFileName.toString == "_txlog" &&
      f.getFileName.toString.matches("\\d+\\.json")
  }.map(f => f.toString -> Files.size(f)).toMap)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p)(_.toSeq.reverse.foreach(Files.delete))

  private def session(): SparkSession = {
    val spark = Graft.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  sealed trait Workload {
    var spark: SparkSession = _
    /** A fresh session plus the workload's own set-up; leaves the
      * session in [[spark]]. */
    def setUp(): Unit
    def pass(region: String, p: Int): Unit
    /** Work after the timed region: output the checks need. */
    def finish(): Unit = ()
  }

  /** Raw CSV to gold from empty. The operation is the whole job, as a
    * user submits it; its three facade calls are spans. */
  final class BooksBulk(a: Map[String, String], work: Path) extends Workload {
    private def bulk(data: String, root: Path, region: String, p: Int): Unit = {
      val d = root.resolve("details").toString
      val r = root.resolve("reviews").toString
      rec.op(opId(), p, region, "bulk", "books") {
        rec.span("etl.cleanDetails", -1)(_ =>
          BookReviewEngine.cleanDetails(spark, s"$data/books_data.csv", d))
        rec.span("etl.cleanReviews", -1)(_ =>
          BookReviewEngine.cleanReviews(spark, s"$data/Books_rating.csv", r))
        rec.span("medallion.runMedallion", -1)(_ =>
          BookReviewEngine.runMedallion(spark, d, r, root.resolve("m").toString))
        ""
      }
    }

    def setUp(): Unit = spark = session()

    def pass(region: String, p: Int): Unit =
      bulk(a("data"), work.resolve("bulk").resolve(s"${region}_$p"), region, p)
  }

  /** A fixed sample of catalog entries, each run through the noop sink
    * the way graft.TimeEntries runs them: state-store providers unloaded
    * between entries, outside the timed operation. */
  final class Catalog(a: Map[String, String], work: Path) extends Workload {
    private val sf = a("sf")
    private val stageRoot = work.resolve("stage")
    private val entries = a("entries").split(",").toSeq.map { e =>
      val i = e.indexOf(':'); e.take(i) -> e.drop(i + 1)
    }
    // The catalog's fixture stage root is a constant of the program
    // (QueryDef.StageRoot, shared by every process on the host). Pointing
    // it into this run's directory, before any catalog object reads it,
    // makes every run start from an empty stage and leave nothing behind.
    // The field is static final, so only Unsafe can write it.
    locally {
      val u = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      u.setAccessible(true)
      val unsafe = u.get(null).asInstanceOf[sun.misc.Unsafe]
      val cls = graft.ops.QueryDef.getClass
      for ((f, v) <- Seq("StageRoot" -> stageRoot.toString,
          "StageSql" -> s"$stageRoot/__SF__")) {
        val field = cls.getDeclaredField(f)
        unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), v)
      }
      require(graft.ops.QueryDef.StageRoot == stageRoot.toString)
    }
    private val queries = SparkEntry.queries

    private def unload(): Unit = scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())

    private def runEntry(region: String, p: Int, name: String, family: String,
        out: Option[Path] = None): Boolean = {
      val ok = rec.op(opId(), p, region, name, family) {
        rec.span(s"ops.$family", -1) { _ =>
          val w = queries(name)(spark, sf).write.mode("overwrite")
          out.fold(w.format("noop").save())(o => w.parquet(o.toString))
        }
        ""
      }
      unload()
      ok
    }

    /** The set-up stages every sampled entry's fixtures from an empty
      * stage root by running each entry once, through the same noop sink
      * as the timed passes. */
    def setUp(): Unit = {
      deleteTree(stageRoot)
      spark = session()
      Graft.referenceSemantics(spark)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      graft.streaming.SessionizeTws.configure(spark)
      spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      runEntry("warm", 0, "a1_global_mean", "relational")
      entries.foreach { case (n, f) => runEntry("cold", 0, n, f) }
    }

    def pass(region: String, p: Int): Unit =
      entries.foreach { case (n, f) => runEntry(region, p, n, f) }

    /** One more run of each entry writes its result as parquet for the
      * oracle check. */
    override def finish(): Unit = {
      note("stage_bytes" ->
        walk(stageRoot)(_.filter(Files.isRegularFile(_)).map(Files.size).sum))
      val oracles = SparkEntry.oracleSql
      entries.foreach { case (n, f) =>
        val out = work.resolve("check").resolve(n)
        val ok = runEntry("check", 0, n, f, Some(out))
        note("entry" -> n, "out" -> out.toString, "ok" -> ok,
          "oracle" -> oracles.getOrElse(n, null))
      }
    }
  }
}
