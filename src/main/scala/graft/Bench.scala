package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one measurement main. One session prologue (`GraftSession.build`,
  * WARN logging, the fixture dir from `SPARK_GRAFT_SF_DIR`, default
  * sf0.1), then the mode the first argument names:
  *  - none: the timed suite ([[suite]]) — one JSON line, a summary line
  *    and the `BENCH_LOCAL.json` artifact (`SPARK_GRAFT_BENCH_OUT`);
  *  - `jobs <query> [reps]`: one query's per-job decomposition ([[jobs]]);
  *  - `plan <outDir> <suffix> <q1,q2,…>`: formatted plans to files
  *    ([[plan]]);
  *  - `calib`: the channel-calibration probes alone ([[calib]]);
  *  - `scale`: the `SPARK_GRAFT_SCALE`× stress of the banded/blocked
  *    family ([[scale]]), written to `BENCH_SCALE.json`
  *    (`SPARK_GRAFT_SCALE_OUT`).
  * Each mode body takes the session and the fixture dir, so a spec can
  * run it on its own session. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    try args.toList match {
      case Nil => suite(spark, sfDir, cpus)
      case "jobs" :: name :: reps if reps.size <= 1 =>
        jobs(spark, sfDir, name, reps.headOption.fold(2)(_.toInt)); ()
      case List("plan", outDir, suffix, names) =>
        plan(spark, sfDir, outDir, suffix, names.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      case List("calib") => println("CALIB " + calib(spark, sfDir))
      case List("scale") => scale(spark, sfDir, cpus); ()
      case _ => throw new IllegalArgumentException("usage: graft.Bench " +
        "[jobs <query> [reps] | plan <outDir> <suffix> <q1,q2,...> | calib | scale]")
    } finally spark.stop()
  }

  /** The timed suite over every `SparkEntry` query: two untimed warm-up
    * passes, then two timed ones (min per query). */
  def suite(spark: SparkSession, sfDir: String, cpus: Int): Unit = {
    val run = (n: String, dir: String) => { SparkEntry.queries(n)(spark, dir).count(); () }
    // Two untimed warmup passes, then the timed pass — measuring
    // steady-state throughput, not first-touch costs:
    //  1. smallest sibling SF: catches per-query failures cheaply and
    //     compiles every plan (codegen + JIT dominated round-1 numbers);
    //  2. the bench SF itself: faults in parquet footers + page-cache
    //     bytes for the actual data (the first timed query otherwise
    //     bills the whole dataset's cold read — q01 was 17 s of mostly
    //     I/O warmup in round 2).
    warm(sibling(sfDir) :+ sfDir, SparkEntry.queries.keys.toSeq)(run)
    val (gateNote, calibSec) = gated(spark, sfDir, cpus)
    val loadBefore = Calib.loadavg()
    val results = timed(spark, SparkEntry.queries.keys.toSeq.sorted, sfDir)(run)
    val loadAfter = Calib.loadavg()
    val qs = results.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","passes":2,"agg":"min","loadavg_before":"$loadBefore","loadavg_after":"$loadAfter","load_gate":"$gateNote","calib_sec":$calibSec,"cpus":$cpus}"""
    println(full)
    // The full line above can exceed a log tail's capture window (round 6
    // recorded parsed:null after the driver's tail cut off its head). Tails
    // keep line ENDS, so emit a short self-contained summary AFTER it, and
    // persist the full artifact to a repo file as the durable copy.
    val nFailed = results.count(!_._3)
    println(s"""{"metric":"total_summary","value":$total,"unit":"sec","n":${results.size},"failed":$nFailed,"sf":"$sfDir"}""")
    writeArtifact("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json", full)
  }

  /** Per-JOB decomposition of one query's wall time — the diagnostic
    * behind the composed-ingest fixed-cost work: after one warm-up call,
    * runs the query `reps` times under a job listener and prints every
    * Spark job's call site and duration, plus the driver-side GAP (wall −
    * Σ jobs), which is where session fixed cost (stream start/stop, plan
    * analysis, FS probes) hides. Returns each rep's job count. */
  def jobs(spark: SparkSession, sfDir: String, name: String, reps: Int): Seq[Int] = {
    val fn = SparkEntry.queries(name)
    // warmup: JIT + page cache + per-JVM standing artifacts
    fn(spark, sfDir).count()
    val sc = spark.sparkContext
    // a marker job closes each rep: the listener bus delivers in order,
    // so once the marker's start is seen every earlier job's end has been
    val markKey = "graft.bench.drain"
    val drained = new java.util.concurrent.Semaphore(0)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, String)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty(markKey) != null)) drained.release()
        else {
          // the LAST stage's name is the job's action site (collect/
          // write/count at file:line) — finer than the foreachBatch-wide
          // callSite property
          val site = j.stageInfos.lastOption.map(_.name)
            .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          starts.put(j.jobId, (System.nanoTime(), site))
        }
        ()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, site) =>
          rows.add((t0, (System.nanoTime() - t0) / 1e9, site)) }
        ()
      }
    }
    sc.addSparkListener(listener)
    try (1 to reps).map { rep =>
      rows.clear()
      val w0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      sc.setLocalProperty(markKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markKey, null)
      drained.tryAcquire(10, java.util.concurrent.TimeUnit.SECONDS)
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
      jobs.length
    } finally sc.removeSparkListener(listener)
  }

  /** `.explain("formatted")` of each named query to
    * `<outDir>/<query>_<suffix>.txt` — the optimization-round plan
    * evidence (plans/rNN/). Building a composed query's frame EXECUTES
    * its pipeline (the eager streaming harnesses), so the dumped plan is
    * the final returned frame's; [[jobs]] is the per-job evidence there. */
  def plan(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (s"== $name ($suffix, sf=$sfDir) ==\n" + plan + "\n").getBytes("UTF-8"))
      println(s"[plan] wrote $outDir/${name}_$suffix.txt")
    }
  }

  /** The bench's calibration probes ([[Calib.json]]) after one warm-up
    * scan — a cheap channel-health check before a full gated run. */
  def calib(spark: SparkSession, sfDir: String): String = {
    Calib.scanAll(spark, sfDir)
    Calib.json(spark, sfDir)
  }

  /** The scale stress ([[BenchScale]]): the family timed on `sfDir` and on
    * its `SPARK_GRAFT_SCALE`× (default 10×) blow-up, with the suite's
    * warm-up (the sibling dir only), gate, calibration and min-of-two
    * passes. Prints and writes one JSON line: per-query base/scaled
    * seconds and ratio, plus cell partitions read for the ANN probes. */
  def scale(spark: SparkSession, sfDir: String, cpus: Int): String = {
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val family = BenchScale.family
    val session = new BenchScale.Session(spark, sfDir, replicas, cpus)
    try {
      warm(sibling(sfDir), family)(session.run)
      // Per-dir sweep timing, two passes, min per query (r18's committed
      // methodology, kept for cross-round ratio comparability). Round 19
      // trialed interleaving each query's base/scaled runs back-to-back
      // to cancel slow host drift — but measured it introducing real
      // cross-dataset interference instead (a query's base pass running
      // right after the previous query's 10× pass inherits its context-
      // cleaner/GC debt). Drift is handled by the gate + the recorded
      // `calib_sec`, not by reordering the runs.
      val (gateNote, calibSec) = gated(spark, sfDir, cpus)
      val base = timed(spark, family, sfDir)(session.run)
      val scaled = timed(spark, family, session.scaledDir)(session.run)
      val parts = family.filter(BenchScale.probeQueries).map(n =>
        n -> (session.partitionsRead(n, sfDir), session.partitionsRead(n, session.scaledDir))).toMap
      val qs = base.zip(scaled).map { case ((n, b, _), (_, sc, _)) =>
        val p = parts.get(n).fold("") { case (pb, ps) =>
          s""","parts_base":$pb,"parts_scaled":$ps""" }
        f""""$n":{"base_sec":$b%.3f,"scaled_sec":$sc%.3f,"ratio":${sc / b}%.2f$p}"""
      }.mkString("{", ",", "}")
      val failed = (base ++ scaled).collect { case (n, _, false) => "\"" + n + "\"" }
        .distinct.mkString("[", ",", "]")
      // cpus is part of the artifact's identity: scaled-side times are
      // CPU-bound, so ratios recorded at different local[n] are not
      // comparable
      val line =
        s"""{"metric":"scale_stress","replicas":$replicas,"cpus":$cpus,"calib_sec":$calibSec,"load_gate":"$gateNote","base":"$sfDir",""" +
          s""""salt":"${BenchScale.salt(replicas)}","queries":$qs,"failed":$failed}"""
      println(line)
      writeArtifact("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json", line)
      line
    } finally session.close()
  }

  /** The smallest sibling fixture dir (`sf0.001` beside `sfDir`), when it
    * exists. */
  private def sibling(sfDir: String): Seq[String] = {
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (dir.isDirectory) Seq(dir.getPath) else Seq.empty
  }

  /** Untimed warm-up: `run` each named query on each dir, with one retry
    * per failure. The warmup is also what builds every per-dir standing
    * artifact (signature indexes, ANN trees, staged landings) — a
    * transient failure here would push that build into a timed pass,
    * where min-of-passes can no longer hide it if the other pass hits
    * contention (the q109 driver-vs-builder 2x spread of r17). */
  private def warm(dirs: Seq[String], names: Seq[String])(
      run: (String, String) => Unit): Unit =
    for (dir <- dirs; n <- names)
      try run(n, dir)
      catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] $n: ${e.getMessage}; retrying")
        try run(n, dir)
        catch { case e2: Throwable =>
          System.err.println(s"[bench-warmup-retry] $n: ${e2.getMessage}") }
      }

  /** The load gate, then the calibration probes: (`load_gate`,
    * `calib_sec`). Every gate decision lands in the artifact, so the
    * number is self-describing ([[Calib.gate]]); the probes ([[Calib]])
    * run AFTER the gate so they measure the same conditions as the timed
    * passes. */
  private def gated(spark: SparkSession, sfDir: String, cpus: Int): (String, String) =
    (Calib.gate(spark, sfDir, cpus), Calib.json(spark, sfDir))

  /** Two timed passes of `run` over `names` on `dir`, per-query MIN:
    * (name, seconds, ok). Wall-clock in this sandbox varies up to ~10x
    * under transient CPU contention from sibling JVMs; a single-shot
    * measurement poisoned the round-4 artifact (recorded 164 s vs a
    * verified 33.5 s re-run of the same build). The min of two spaced
    * passes survives any one contention window. clearCache() before EACH
    * pass so both pay every operator's real compute (the near-dup
    * operators persist their shingle/fingerprint inputs — see Dedup's
    * lifecycle note); warmup is for JIT + page cache only. */
  private def timed(spark: SparkSession, names: Seq[String], dir: String)(
      run: (String, String) => Unit): Seq[(String, Double, Boolean)] = {
    val passes = (1 to 2).map { _ =>
      spark.catalog.clearCache()
      names.map { n =>
        val t0 = System.nanoTime()
        val ok = try { run(n, dir); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $n FAILED: ${e.getMessage}"); false }
        (n, (System.nanoTime() - t0) / 1e9, ok)
      }
    }
    // min over SUCCESSFUL passes only: a failed pass aborts fast, and its
    // duration would understate the query (and the total) while the ok
    // flag says failed. Both-failed rows keep the max as the honest upper
    // bound of what was observed.
    passes.head.zip(passes.last).map { case ((k, v1, ok1), (_, v2, ok2)) =>
      val time =
        if (ok1 != ok2) (if (ok1) v1 else v2)
        else if (ok1) math.min(v1, v2) else math.max(v1, v2)
      (k, time, ok1 && ok2)
    }
  }

  /** Write `line` to the artifact path `envKey` names, else `default`
    * relative to the working directory (a hardcoded absolute path
    * silently wrote outside the checkout when run from anywhere else). */
  private def writeArtifact(envKey: String, default: String, line: String): Unit =
    try Files.write(Paths.get(sys.env.getOrElse(envKey, default)).toAbsolutePath,
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
}
