package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** Benchmark driver: one workload, one seed, one process.
  *
  *   perfbench.Main --workload <snapshot_refresh|stream_ingest>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --pins <file>
  *
  * Prints informational JSON lines, then as its last line one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`. See
  * perfbench/README.md for the workloads and metric definitions.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, pins: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("pins"))
  }

  /** Battle-log volume: the reference's production TopN (Makefile TOPN=1000)
    * times one battlelog page (~25 battles). */
  val Players = 1000
  val BattlesPerPlayer = 25
  /** Untimed ingests before timing: the first is cold, and the planning
    * of every micro-batch's jobs keeps getting faster after it. */
  val StreamWarmups = 2

  /** Traced dashboard rounds of the analyst queries in a traced run. */
  val QueryRounds = 3

  val Workloads: Seq[String] = Seq("snapshot_refresh", "stream_ingest")

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // the session settings the repository's entry points ship with
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.NioCheckpointFileManager")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** Aggregate CPU jiffies from /proc/stat: (steal, total). */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
        .drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  private def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Pinned fingerprints: `seed<TAB>kind<TAB>name<TAB>hash` lines. */
  private def readPins(path: String, seed: Long): Map[(String, String), String] = {
    val f = new File(path)
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f).getLines().map(_.split("\t"))
      .collect { case Array(s, k, n, h) if s == seed.toString => (k, n) -> h }.toMap
  }

  final class Outcome {
    var attempted = 0
    var failed = 0
    val notes = mutable.ArrayBuffer.empty[String]
    def check(what: String)(problems: Seq[String]): Unit = {
      attempted += 1
      if (problems.nonEmpty) { failed += 1; notes += s"$what: ${problems.mkString("; ")}" }
    }
    /** Runs `body` as one operation: an exception fails it like a check. */
    def attempt(what: String)(body: => Seq[String]): Unit =
      check(what)(try body catch { case e: Exception => Seq(s"error: $e") })
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadBefore = loadavg()
    val cpu0 = cpuJiffies()
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    new File(o.work).mkdirs()

    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val pins = readPins(o.pins, o.seed)
    val outcome = new Outcome
    // per-operation engine counters of the workload's own operations; the
    // layers a workload does not run itself get tracers of their own
    val opTracer = new Tracer(spark)
    val queryTracer = new Tracer(spark)
    val streamTracer = if (o.workload == "stream_ingest") opTracer else new Tracer(spark)
    val lat = mutable.ArrayBuffer.empty[Double]       // untraced op latencies, s
    val tracedLat = mutable.ArrayBuffer.empty[Double] // traced twins, for the overhead
    val planMs, execMs, filesRead, rowsRatio = mutable.ArrayBuffer.empty[Double]
    val fingerprints = mutable.LinkedHashMap.empty[String, String]
    val setupParts = mutable.LinkedHashMap("session_s" -> sessionS)
    var checksS = 0.0
    val out = s"${o.work}/snapshot"

    /** Set-up work: timed into setup_s under `part`. */
    def setup[T](part: String)(f: => T): T = {
      val (r, s) = timed(f)
      setupParts(part) = setupParts.getOrElse(part, 0.0) + s
      r
    }
    /** Harness checks: timed, and kept out of setup_s. */
    def checking[T](f: => T): T = { val (r, s) = timed(f); checksS += s; r }

    /** Records `got` as the seed's fingerprints of `kind`, and returns
      * the ones that differ from a pin. */
    def pinned(kind: String, got: Map[String, String]): Seq[String] =
      got.toSeq.sorted.flatMap { case (n, h) =>
        fingerprints(s"$kind/$n") = h
        pins.get((kind, n)).filter(_ != h).map(p => s"$n: $h != pinned $p")
      }

    lazy val (inputs, truth) = BattleGen.generate(o.seed, s"${o.work}/input", Players, BattlesPerPlayer)
    lazy val (streamIn, streamTruth) = Ingest.generate(spark, o.seed, s"${o.work}/stream")

    def checkRefresh(dir: String, failedInv: Seq[String]): Seq[String] =
      failedInv ++ (if (Refresh.usesMatch(spark, dir, truth)) Nil else Seq("sum(uses) != 2 x matches"))

    /** One refresh into `out`, checked by its invariants and Σ uses. */
    def refresh(traced: Boolean): Double = {
      val ((_, failedInv), s) = opTracer.run(traced)(Refresh.run(spark, inputs, out))
      spark.catalog.clearCache()
      outcome.check("refresh")(checking(checkRefresh(out, failedInv)))
      s
    }

    /** One analyst query; traced, it also records the query layers. */
    def query(i: Int, traced: Boolean): Array[Row] = {
      val df = spark.sql(Analyst.instances(i).sql)
      val ((rows, plan), s) = queryTracer.run(traced) {
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan
        val plan = (System.nanoTime() - p0) / 1e6
        (df.collect(), plan)
      }
      if (traced) {
        val sc = Plans.scans(df.queryExecution.executedPlan)
        planMs += plan; execMs += s * 1e3 - plan
        filesRead += sc.files.toDouble
        rowsRatio += sc.rows.toDouble / math.max(1, rows.length)
      }
      rows
    }

    /** The traced run's query layers over the snapshot in `dir`. One
      * untraced pass of every query instance, its results checked against
      * the generator's truth and the pins, warms the queries up; then
      * traced dashboard rounds, each running each of the six named queries
      * once, in a seeded order, with its deck type or min_uses drawn from
      * the seed, and each result checked against the pass. */
    def queryLayers(dir: String): Unit = {
      Analyst.register(spark, Refresh.written(spark, dir))
      val results = Analyst.instances.indices.map(i => query(i, traced = false))
      val expected = checking {
        val hashes = results.map(Analyst.hash)
        outcome.attempt("analyst results")(
          Analyst.truthChecks(results, truth) ++ pinned("analyst", Analyst.perQuery(hashes)))
        hashes
      }
      val rng = new java.util.SplittableRandom(o.seed ^ 0x5DEECE66DL)
      for (_ <- 1 to QueryRounds) {
        val picks = Analyst.queryNames.map(q => Analyst.byQuery(q)(rng.nextInt(Analyst.byQuery(q).size)))
          .toBuffer
        for (k <- picks.indices.reverse) {
          val j = rng.nextInt(k + 1); val t = picks(k); picks(k) = picks(j); picks(j) = t
        }
        picks.foreach { i =>
          val q = Analyst.instances(i)
          outcome.attempt(s"${q.query}(${q.param})")(
            if (Analyst.hash(query(i, traced = true)) == expected(i)) Nil
            else Seq("result differs from the checked pass"))
        }
      }
    }

    /** One ingest session, checked against the generator's truth (and,
      * the first time, the pins). */
    def ingest(traced: Boolean): Double = {
      val dir = s"${o.work}/ingest"
      Ingest.prepare(streamIn, dir)
      val (res, s) = streamTracer.run(traced)(Ingest.run(spark, streamIn, dir))
      outcome.check("ingest")(checking(Ingest.check(res, streamTruth) ++
        (if (fingerprints.keys.exists(_.startsWith("stream/"))) Nil
         else pinned("stream", Ingest.fingerprints(res)))))
      s
    }

    /** Operations until --seconds have passed, at least `minOps`: ops
      * keep getting faster as the JIT warms up, so `minOps` is set to
      * outlast --seconds and every run measures the same op positions.
      * Traced runs alternate untraced and traced ones, so the overhead is
      * measured in the same JVM. `op` returns its latencies. */
    def measure(minOps: Int)(op: Boolean => Seq[Double]): Unit = {
      val loop0 = System.nanoTime()
      var n = 0
      while (n < minOps || (System.nanoTime() - loop0) / 1e9 < o.seconds) {
        val traced = o.trace && n % 2 == 1
        try (if (traced) tracedLat else lat) ++= op(traced)
        catch { case e: Exception => outcome.check(o.workload)(Seq(s"error: $e")) }
        n += 1
      }
    }

    var layerMetrics = Seq.empty[(String, Double)]
    /** The traced run's refresh layers, on a warm JVM, into their own
      * directory. */
    def refreshLayers(dir: String): Unit = {
      val (failedInv, m) = Refresh.layers(spark, inputs, dir)
      outcome.check("traced refresh")(checking(checkRefresh(dir, failedInv)))
      layerMetrics = m
      spark.catalog.clearCache()
    }

    if (o.workload == "snapshot_refresh") {
      // Warm-up: the first refresh compiles the plans and JIT paths; its
      // output is checked in full against the generator's truth and the
      // pins. Each measured refresh is checked by its invariants and Σ uses.
      setup("generate_s")(inputs)
      val (_, failedInv0) = setup("warmup_s")(Refresh.run(spark, inputs, out))
      spark.catalog.clearCache()
      outcome.attempt("refresh")(checking(checkRefresh(out, failedInv0) ++
        Refresh.oracle(spark, out, truth) ++ pinned("snapshot", Refresh.tableHashes(spark, out))))
      measure(2)(traced => Seq(refresh(traced)))
      if (o.trace) {
        refreshLayers(s"${o.work}/layers")
        queryLayers(out)
        // the stream layers: one traced ingest, the first of the run
        ingest(traced = true)
      }
    } else {
      // Set-up: the inputs and the standing index, then ingests to warm
      // up, the first checked against the truth and the pins.
      setup("generate_s")(streamIn)
      setupParts("warmup_s") = (1 to StreamWarmups).map(_ => ingest(traced = false)).sum
      measure(3)(traced => Seq(ingest(traced)))
      if (o.trace) {
        // the refresh and query layers, the first refresh of the run
        refreshLayers(s"${o.work}/layers")
        queryLayers(s"${o.work}/layers")
      }
    }
    val setupS = setupParts.values.sum
    val spin1 = graft.Calib.spin1()
    val loadAfter = loadavg()
    val cpu1 = cpuJiffies()
    val stealShare = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    val rssMb = vmHwmMb()

    val info = mutable.LinkedHashMap.empty[String, String]
    info("channel") = s"""{"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""loadavg_before":${jsonStr(loadBefore)},"loadavg_after":${jsonStr(loadAfter)},""" +
      s""""steal_share":${num(stealShare)},"spin1_s":${num(spin1)}}"""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
    info("setup") = obj((setupParts ++ Seq("setup_s" -> setupS, "checks_s" -> checksS))
      .map { case (k, v) => k -> num(v) })
    val sizes =
      if (o.workload == "stream_ingest")
        Seq("landing_docs" -> streamTruth.landingDocs, "admitted" -> streamTruth.admitted.size)
      else Seq("lines" -> truth.lines, "ranked_1v1_lines" -> truth.ranked1v1Lines,
        "matches" -> truth.matches, "decks" -> truth.deckUses.size)
    info("workload") = obj(Seq("name" -> jsonStr(o.workload), "seed" -> o.seed.toString,
      "ops" -> (lat.size + tracedLat.size).toString) ++ sizes.map { case (k, v) => k -> v.toString } ++
      Seq("op_s" -> lat.map(num).mkString("[", ",", "]")))
    // the fingerprints this run computed; pins.tsv takes them as
    // `seed<TAB>kind<TAB>name<TAB>fingerprint` lines, kind/name split at "/"
    info("fingerprints") = obj(fingerprints.map { case (k, v) => k -> jsonStr(v) })
    if (outcome.notes.nonEmpty)
      info("failures") = outcome.notes.map(jsonStr).mkString("[", ",", "]")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!o.trace) {
      metrics("latency_p50_ms") = (median(lat.toSeq) * 1e3, "ms")
      metrics("setup_s") = (setupS, "s")
      metrics("peak_rss_mb") = (rssMb, "MB")
    } else {
      layerMetrics.foreach { case (k, v) =>
        metrics(k) = (v, if (k.endsWith("_s")) "s" else if (k.endsWith("_files")) "count"
          else if (k.endsWith("_bytes")) "bytes" else "ratio")
      }
      val opStats = opTracer.stats.toSeq
      def perOp(f: EngineStats => Double): Double = opStats.map(s => f(s._1)).sum / opStats.size
      metrics("spark.jobs") = (perOp(_.jobs.toDouble), "count")
      metrics("spark.tasks") = (perOp(_.tasks.toDouble), "count")
      metrics("spark.executor_cpu_s") = (perOp(_.cpuNs / 1e9), "s")
      metrics("spark.gc_s") = (perOp(_.gcMs / 1e3), "s")
      metrics("spark.shuffle_bytes") = (perOp(_.shuffleBytes.toDouble), "bytes")
      metrics("spark.spill_bytes") = (perOp(_.spillBytes.toDouble), "bytes")
      metrics("spark.driver_gap_s") =
        (opStats.map { case (s, a, b) => s.driverGapMs(a, b) / 1e3 }.sum / opStats.size, "s")
      val qs = queryTracer.stats.map(_._1).toSeq
      metrics("spark.plan_ms") = (median(planMs.toSeq), "ms")
      metrics("spark.exec_ms") = (median(execMs.toSeq), "ms")
      metrics("spark.jobs_per_query") = (qs.map(_.jobs.toDouble).sum / qs.size, "count")
      metrics("spark.tasks_per_query") = (qs.map(_.tasks.toDouble).sum / qs.size, "count")
      metrics("sources.files_read_per_query") = (filesRead.sum / filesRead.size, "count")
      metrics("sources.rows_read_per_row_returned") = (median(rowsRatio.toSeq), "ratio")
      val trig = streamTracer.streams.triggers.toSeq
      // durationMs has millisecond resolution: the short phases are means
      // over every traced trigger, not medians of a few whole milliseconds
      def perTrigger(k: String): Double = trig.map(_.getOrElse(k, 0.0)).sum / trig.size
      metrics("streaming.triggers") = (trig.size.toDouble / streamTracer.stats.size, "count")
      metrics("streaming.trigger_p50_ms") = (median(trig.map(_.getOrElse("triggerExecution", 0.0))), "ms")
      metrics("streaming.add_batch_ms") = (perTrigger("addBatch"), "ms")
      metrics("streaming.wal_commit_ms") = (perTrigger("walCommit"), "ms")
      metrics("streaming.commit_offsets_ms") = (perTrigger("commitOffsets"), "ms")
      metrics("streaming.latest_offset_ms") = (perTrigger("latestOffset"), "ms")
      metrics("trace.overhead_ratio") = (median(tracedLat.toSeq) / median(lat.toSeq) - 1.0, "ratio")
    }

    spark.stop()
    info.foreach { case (k, v) => println(s"""{"$k":$v}""") }
    val body = metrics.map { case (k, (v, u)) =>
      s"""${jsonStr(k)}:{"value":${num(v)},"unit":${jsonStr(u)}}""" }.mkString(",")
    println(s"""{"correct":${outcome.failed == 0},"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":{$body}}""")
  }

  /** `f`'s result and its wall time in seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
