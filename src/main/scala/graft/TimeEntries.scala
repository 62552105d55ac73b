package graft

/** Dev-loop per-entry timer (args: sfDir [--all] [--reps N]
  * [--json path] name1 name2 …): runs the named catalog entries (or the
  * whole catalog with --all) exactly the way Bench's sequential pass
  * does — noop sink, state-store providers unloaded OUTSIDE the timed
  * region between entries, maintenance daemon parked — and prints
  * min/median of `reps` runs. With --json it also writes the full
  * isolation table as `{"entry":{"min":s,"med":s},…}` — the per-round
  * ISOLATION_r<N>.json artifact, so a per-entry regression is visible
  * by diffing two rounds' files instead of eyeballing hand-copied
  * PERF.md tables (the r16 trainer regression hid exactly there).
  */
object TimeEntries {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    var reps = 3
    var jsonPath: Option[String] = None
    var all = false
    val explicit = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--all" => all = true
        case "--reps" => reps = args(i + 1).toInt; i += 1
        case "--json" => jsonPath = Some(args(i + 1)); i += 1
        case n => explicit += n
      }
      i += 1
    }
    val names =
      if (all) SparkEntry.queries.keys.toSeq.sorted else explicit.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    Graft.referenceSemantics(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.streaming.SessionizeTws.configure(spark)
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    def unload(): Unit = scala.util.Try(
      org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    def once(name: String): Double = {
      val s0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[time] $name failed: ${e.getMessage}")
        return Double.NaN
      }
      val t = (System.nanoTime() - s0) / 1e9
      unload()
      t
    }
    // JVM/classload warmup, discarded
    once(names.head)
    unload()
    val rows = names.map { n =>
      val ts = (1 to reps).map(_ => once(n)).sorted
      val med = ts(ts.length / 2)
      println(f"[time] $n%-36s min=${ts.head}%6.2f s  med=$med%6.2f s")
      (n, ts.head, med)
    }
    jsonPath.foreach { p =>
      val body = rows.map { case (n, mn, md) =>
        f"""  "$n": {"min": $mn%.3f, "med": $md%.3f}"""
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        body.getBytes("UTF-8"))
      println(s"[time] wrote $p")
    }
    Graft.shutdown(spark)
  }
}
