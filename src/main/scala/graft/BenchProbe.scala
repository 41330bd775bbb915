package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB decomposition of a single query's wall time — the diagnostic
  * behind the composed-ingest fixed-cost work (SURVEY's q160 replay,
  * made repeatable): runs one named `SparkEntry` query under a job
  * listener and prints every Spark job's call site + duration plus the
  * driver-side GAP time (wall − Σ jobs), which is where session fixed
  * cost (stream start/stop, plan analysis, FS probes) hides.
  *
  * Usage: `runMain graft.BenchProbe <queryName> [sfDir] [reps]`.
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q166_decontaminated_quota_ingest")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession.build(GraftSession.cpus())
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    // warmup: JIT + page cache + per-JVM standing artifacts
    fn(spark, sfDir).count()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // the LAST stage's name is the job's action site (collect/
        // write/count at file:line) — finer than the foreachBatch-wide
        // callSite property
        val site = j.stageInfos.lastOption.map(_.name)
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(j.jobId, (System.nanoTime(), site)); ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          rows.add((t0, (System.nanoTime() - t0) / 1e9, site)) }
        ()
      }
    }
    (1 to reps).foreach { rep =>
      rows.clear()
      spark.sparkContext.addSparkListener(listener)
      val w0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      Thread.sleep(500) // drain the async listener bus
      spark.sparkContext.removeSparkListener(listener)
      val jobs = rows.toArray(Array.empty[(Long, Double, String)]).sortBy(_._1)
      val sum = jobs.map(_._2).sum
      println(f"== $name rep $rep: wall $wall%.3f s, ${jobs.length} jobs, " +
        f"sum(jobs) $sum%.3f s, gap ${wall - sum}%.3f s")
      // per-job idle attribution: `at` = start offset from the query's
      // t0, `idle` = driver time since the latest end of any PRIOR job
      // (0 when jobs overlap) — the column that localizes the wall−Σjobs
      // gap to the exact boundary it occurs at
      var maxEnd = w0
      jobs.zipWithIndex.foreach { case ((t0, d, site), i) =>
        val idle = math.max(0L, t0 - maxEnd) / 1e9
        maxEnd = math.max(maxEnd, t0 + (d * 1e9).toLong)
        println(f"  job $i%3d  at ${(t0 - w0) / 1e9}%7.3f  " +
          f"idle $idle%6.3f  $d%7.3f s  $site")
      }
      val bySite = jobs.groupBy(_._3).view
        .mapValues(js => (js.length, js.map(_._2).sum)).toSeq
        .sortBy(-_._2._2)
      println("  -- by call site --")
      bySite.foreach { case (site, (n, s)) =>
        println(f"  $s%7.3f s  x$n%-3d  $site") }
    }
    spark.stop()
  }
}
