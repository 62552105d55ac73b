package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Everything a run measures, kept in memory and written as one JSON file
  * when the run ends. Times are epoch milliseconds (doubles, from one
  * nanoTime base) so they line up with Spark's task and progress clocks.
  *
  * Untraced runs record only operation and pass boundaries. Traced runs
  * also record spans around each call into a layer, the task and job
  * events of a `SparkListener`, and the micro-batch progress of every
  * stream through [[ProgressListener]].
  * Listener events are tagged with the operation running when they were
  * handled; [[drain]] at the end of every traced operation keeps late
  * events from leaking into the next one.
  */
final class Recorder {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val opRows = new ArrayBuffer[String]()
  private val spans = new ArrayBuffer[String]()
  private val tasks = new ArrayBuffer[String]()
  private val jobs = new ArrayBuffer[String]()
  private val stages = new ArrayBuffer[String]()
  private val progress = new ArrayBuffer[String]()

  @volatile var traced = false
  @volatile private var currentOp = -1
  private var nextSpan = 0
  private var spark: SparkSession = _

  /** One timed operation: `f` returns an error text, empty when it passed. */
  def op(opId: Int, pass: Int, region: String, name: String, family: String)(
      f: => String): Boolean = {
    currentOp = opId
    val t0 = now()
    val err = try f catch { case e: Throwable =>
      s"${e.getClass.getName}: ${e.getMessage}".take(300) }
    val t1 = now()
    if (traced) drain()
    currentOp = -1
    opRows.synchronized(opRows += s"""{"op":$opId,"pass":$pass,"region":"$region","name":${Recorder.str(name)},"family":"$family","t0":$t0,"t1":$t1,"ok":${err.isEmpty},"err":${Recorder.str(err)}}""")
    err.isEmpty
  }

  /** A span around one call into a layer (traced runs only). */
  def span[A](name: String, parent: Int)(f: Int => A): A =
    if (!traced) f(-1)
    else {
      val id = synchronized { nextSpan += 1; nextSpan }
      val t0 = now()
      try f(id)
      finally synchronized {
        spans += s"""{"id":$id,"op":$currentOp,"parent":$parent,"name":"$name","t0":$t0,"t1":${now()}}"""
      }
    }

  def drain(): Unit = if (spark != null) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def attach(session: SparkSession): Unit = {
    spark = session
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (traced)
        jobs.synchronized(jobs += s"[$currentOp,${e.time}]")
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced)
        stages.synchronized(stages += s"[$currentOp,${e.stageInfo.numTasks}]")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) {
        val i = e.taskInfo
        val m = e.taskMetrics
        val row =
          if (m == null) s"[$currentOp,${i.launchTime},${i.finishTime},0,0,0,0,0,0,0,0,${if (i.failed) 1 else 0}]"
          else s"[$currentOp,${i.launchTime},${i.finishTime},${m.executorRunTime}," +
            s"${m.jvmGCTime},${m.shuffleReadMetrics.totalBytesRead}," +
            s"${m.shuffleWriteMetrics.bytesWritten}," +
            s"${m.memoryBytesSpilled + m.diskBytesSpilled},${m.inputMetrics.bytesRead}," +
            s"${m.outputMetrics.bytesWritten},${m.outputMetrics.recordsWritten}," +
            s"${if (i.failed) 1 else 0}]"
        tasks.synchronized(tasks += row)
      }
    })
  }

  /** One micro-batch of any stream of any session (see [[ProgressListener]]). */
  def onProgress(p: StreamingQueryProgress): Unit = if (traced) {
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators
    val obs = new ArrayBuffer[String]()
    p.observedMetrics.forEach { (name, row) =>
      val fields = row.schema.fieldNames.zipWithIndex.collect {
        case (f, ix) if row.get(ix).isInstanceOf[Number] =>
          s"${Recorder.str(f)}:${row.get(ix)}"
      }
      obs += s"${Recorder.str(name)}:{${fields.mkString(",")}}"
    }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    progress.synchronized(progress += s"""{"op":$currentOp,"sink":${Recorder.str(p.sink.description)},""" +
      s""""t0":$start,"trigger":${d("triggerExecution")},"add_batch":${d("addBatch")},""" +
      s""""planning":${d("queryPlanning")},"latest_offset":${d("latestOffset")},""" +
      s""""wal_commit":${d("walCommit")},"commit_offsets":${d("commitOffsets")},""" +
      s""""in_rows":${p.numInputRows},"state_rows":${ops.map(_.numRowsTotal).sum},""" +
      s""""state_bytes":${ops.map(_.memoryUsedBytes).sum},"state_commit":${ops.map(_.commitTimeMs).sum},""" +
      s""""observed":{${obs.mkString(",")}}}""")
  }

  def json(extra: Seq[(String, String)]): String = {
    def arr(b: ArrayBuffer[String]) = b.synchronized(b.mkString("[", ",\n", "]"))
    val fields = extra ++ Seq("ops" -> arr(opRows), "spans" -> arr(spans),
      "tasks" -> arr(tasks), "jobs" -> arr(jobs), "stages" -> arr(stages),
      "progress" -> arr(progress))
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",\n", "}\n")
  }
}

object Recorder {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}

/** Registered through `spark.sql.streaming.streamingQueryListeners` (a
  * `-D` system property of traced runs), so Spark attaches it to every
  * session's stream manager, including the sessions catalog entries open
  * for themselves. */
final class ProgressListener extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = Harness.rec.onProgress(e.progress)
}
