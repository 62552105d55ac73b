package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

/** Dev-loop job-level attribution for one catalog entry (guide §1/§7):
  * runs the entry through the noop sink exactly like Bench's sequential
  * pass with a listener capturing every Spark job's wall time and
  * description, so an entry's fixed-cost structure (staging jobs,
  * per-micro-batch jobs, serving jobs) is visible without the UI.
  *
  * Usage: runMain graft.JobProfile <sfDir> <entryName> [reps]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Graft.referenceSemantics(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.SessionizeTws.configure(spark)
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties.getProperty("spark.job.description"))
            .orElse(Option(js.properties.getProperty("callSite.short")))
            .getOrElse("?")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val st = jobs.remove(je.jobId)
        if (st != null) done.add((je.jobId, je.time - st._1, st._2))
      }
    }
    def runOnce(tag: String): Double = {
      val s0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - s0) / 1e9
      scala.util.Try(
        org.apache.spark.sql.execution.streaming.state.StateStore.stop())
      println(f"[profile] $tag total ${t}%.2f s")
      t
    }
    runOnce("warmup") // fixture staging + JIT, discarded
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach(i => runOnce(s"rep$i"))
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val rows = done.asScala.toSeq
    println(s"[profile] ${rows.size} jobs over $reps reps, " +
      f"sum ${rows.map(_._2).sum / 1000.0}%.2f s of job wall time")
    rows.sortBy(-_._2).take(40).foreach { case (id, ms, desc) =>
      println(f"[profile] job $id%5d ${ms / 1000.0}%7.3f s  ${desc.take(110)}")
    }
    Graft.shutdown(spark)
  }
}
