package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.streaming.EventStreams

/** Streaming semantics against the static fixtures: windowed aggregation
  * equals the batch plan (also oracle-checked as q29), and streaming
  * dedup drops replayed events. */
class EventStreamsSpec extends SparkSpecBase {

  test("streaming dedup drops a fully replayed input file") {
    // landing dir with the SAME events file twice → every event_id arrives twice
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    val landing = Files.createTempDirectory("graft_dedup_")
    Files.copy(src, landing.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, landing.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = EventStreams.dedupedEvents(
        EventStreams.readEventStream(spark, landing.toString))
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val total = spark.read.parquet(landing.toString).count()
    val deduped = spark.table("dedup_test").count()
    deduped shouldBe total / 2
  }

  test("sessionize emits data-closed and timed-out sessions; trailing session stays open") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val t0 = 1704067200L // 2024-01-01T00:00:00Z
    def ns(offsetMin: Long): Long = (t0 + offsetMin * 60) * 1000000000L
    // user 1: two events 10 min apart (one session), then a 50-min gap
    //         (closes it mid-stream), opening a second session;
    // user 2: a single event (no later data for that user);
    // user 3: a single far-future event that drives the final watermark to
    //         t0+8h — past user 1's and user 2's session close points (so
    //         those emit via event-time timeout) but NOT past its own.
    val batchA = Seq((1L, ns(0), 1L), (2L, ns(10), 1L), (10L, ns(5), 2L))
    val batchB = Seq((3L, ns(60), 1L), (20L, ns(600), 3L))
    val landing = Files.createTempDirectory("graft_sess_")
    def writeFile(rows: Seq[(Long, Long, Long)], name: String, modTime: Long): Unit = {
      val df = spark.createDataFrame(
          rows.map { case (id, ts, u) => (id, ts, u, "click", 1.0, "{}") })
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val stage = Files.createTempDirectory("graft_sess_stage_")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = landing.resolve(name)
      Files.move(part.toPath, dst)
      dst.toFile.setLastModified(modTime)
      ()
    }
    writeFile(batchA, "a.parquet", 1000000L)
    writeFile(batchB, "b.parquet", 2000000L)

    // one file per micro-batch (mod-time ordered) → the gap-close and the
    // open-session carry both cross a batch boundary
    val stream = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val q = EventStreams.sessionize(stream).writeStream
      .format("memory").queryName("sess_test").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_test")
      .select("user_id", "start_ts", "end_ts", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // batch truth: q38's session_window over the same events; a session is
    // emitted iff closed by data (a later event for that user exists) or
    // its close point (end + gap) is inside the final watermark
    val static = spark.read.parquet(landing.toString)
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val sessions = static
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_ts"),
        max(unix_timestamp(col("ts"))).as("end_ts"))
    val watermark = t0 + 600 * 60 - 2 * 3600
    val wLast = Window.partitionBy("user_id")
    val expected = sessions
      .withColumn("is_last", col("start_ts") === max(col("start_ts")).over(wLast))
      .filter(!col("is_last") || col("end_ts") + 30 * 60 <= lit(watermark))
      .select("user_id", "start_ts", "end_ts", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    got shouldBe expected
    got.exists(_._1 == 3L) shouldBe false // trailing session inside the horizon stays open
    spark.catalog.dropTempView("sess_test")
  }

  test("stream-stream interval self-join equals the batch IntervalJoin") {
    import org.apache.spark.sql.functions._
    val q = EventStreams.followedWithin(
        EventStreams.readEventStream(spark, "/root/testdata/sf0.001/events.parquet"),
        "view", "click", withinMinutes = 10)
      .writeStream.format("memory").queryName("follow_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("follow_test")
      .select("user_id", "first_id", "then_id")

    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("first_id"),
        unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("then_id"),
        unix_micros(col("ts")).as("cus"))
    val batch = graft.operators.IntervalJoin.followWithin(views, clicks,
        col("user_id"), col("us"), col("cu"), col("cus"), 600000000L)
      .select(col("user_id"), col("first_id"), col("matched.then_id").as("then_id"))

    streamed.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(streamed).count() shouldBe 0L
    spark.catalog.dropTempView("follow_test")
  }

  test("left-outer interval join: matches equal batch; nulls exactly for watermark-decided rows") {
    import org.apache.spark.sql.functions._
    val q = EventStreams.followedWithinOuter(
        EventStreams.readEventStream(spark, "/root/testdata/sf0.001/events.parquet"),
        "view", "click", withinMinutes = 10)
      .writeStream.format("memory").queryName("follow_outer_test")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("follow_outer_test")
      .select("user_id", "first_id", "then_id")

    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("first_id"),
        unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("then_id"),
        unix_micros(col("ts")).as("cus"))
    val batch = views.join(clicks,
      col("user_id") === col("cu") &&
        col("cus") >= col("us") && col("cus") <= col("us") + 600000000L,
      "left_outer")

    // matched portion: equal to the batch join as a SET (distinct for the
    // same duplicate-collapse reason as the null assertions below)
    val mStream = streamed.filter(col("then_id").isNotNull).distinct()
    val mBatch = batch.filter(col("then_id").isNotNull)
      .select("user_id", "first_id", "then_id").distinct()
    mStream.exceptAll(mBatch).count() shouldBe 0L
    mBatch.exceptAll(mStream).count() shouldBe 0L

    // null rows: a subset of the batch's unmatched set (never a false
    // null), and COMPLETE for rows old enough that the final watermark
    // (max ts − 2h) passed their join horizon (+1 min slack for the
    // eviction boundary) — the emission-latency trade of outer streaming.
    // Set semantics (distinct): the fixture replays value-identical
    // events, whose unmatched multiplicities collapse in join state (see
    // the operator's duplicate-row caveat)
    val nullStream = streamed.filter(col("then_id").isNull)
      .select("user_id", "first_id").distinct()
    val nullBatch = batch.filter(col("then_id").isNull)
      .select("user_id", "first_id", "us")
    nullStream.exceptAll(nullBatch.select("user_id", "first_id").distinct())
      .count() shouldBe 0L
    // the final global watermark is the MIN across the two sides' column
    // watermarks (each = that side's max event time − 2h) — the view and
    // click streams end at different times, so the overall max would
    // overstate how far eviction could have progressed
    val maxView = views.agg(max(col("us"))).head.getLong(0)
    val maxClick = clicks.agg(max(col("cus"))).head.getLong(0)
    val wmBase = math.min(maxView, maxClick)
    val decided = nullBatch
      .filter(col("us") < wmBase - (2L * 3600 + 600 + 60) * 1000000L)
      .select("user_id", "first_id").distinct()
    decided.count() should be > 0L
    decided.exceptAll(nullStream).count() shouldBe 0L
    spark.catalog.dropTempView("follow_outer_test")
  }

  test("events loader raises on implausible converted timestamps (unit mismatch guard)") {
    // a long-typed ts holding MICROS (not nanos) is exactly the silent
    // corruption the r10 fixture change caused: div-1000 lands every
    // event in 1970. The guard must turn that into a loud error.
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_guard_")
    try {
      val micros = 1704067200L * 1000000L // 2024-01-01 as MICROS
      spark.range(1).select(lit(1L).as("event_id"), lit(micros).as("ts"),
          lit(1L).as("user_id"), lit("click").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve("events.parquet").toString)
      val e = intercept[Exception] {
        graft.sources.Tables.events(spark, dir.toString).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      msgs should include("plausible range")
    } finally {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("optimizer keeps the interval-join type filters above the watermark node") {
    // the heartbeat contract (EventStreams.intervalJoin scaladoc): every
    // event must advance the watermark clock, so no event_type predicate
    // may sink below EventTimeWatermark. The filters carry an inert
    // ts-referencing disjunct precisely to pin this placement — this spec
    // makes an optimizer change that starts splitting the OR fail loudly.
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Filter}
    val joined = EventStreams.followedWithin(
      EventStreams.readEventStream(spark, "/root/testdata/sf0.001/events.parquet"),
      "view", "click", withinMinutes = 10)
    // a streaming frame can't go through batch queryExecution.optimizedPlan
    // (UnsupportedOperationChecker) — run the shared optimizer directly on
    // the analyzed plan, exactly what IncrementalExecution does per batch
    val plan = spark.sessionState.optimizer.execute(joined.queryExecution.analyzed)
    val wmNodes = plan.collect { case w: EventTimeWatermark => w }
    wmNodes should not be empty
    wmNodes.foreach { w =>
      val sunk = w.child.collect {
        case f: Filter if f.condition.references.exists(_.name == "event_type") => f
      }
      sunk shouldBe empty
    }
    val above = plan.collect {
      case f: Filter if f.condition.references.exists(_.name == "event_type") => f
    }
    above.size should be >= 2
  }

  test("incrementalRollup via foreachBatch equals the batch rollup across micro-batches") {
    import org.apache.spark.sql.functions._
    // two landing files forced into separate micro-batches → the additive
    // merge path runs at least twice (create, then fold)
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    val landing = Files.createTempDirectory("graft_rollup_")
    Files.copy(src, landing.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, landing.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val target = Files.createTempDirectory("graft_rollup_out_").resolve("rollup").toString
    val ckpt = Files.createTempDirectory("graft_rollup_ckpt_spec_")
      .resolve("ckpt").toString

    EventStreams.incrementalRollup(spark, landing.toString, target,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))

    val got = spark.read.parquet(target)
    val rawExp = spark.read.parquet(landing.toString)
    val expected = rawExp
      .withColumn("ts",
        graft.sources.Tables.eventTsToTimestamp(rawExp.schema("ts").dataType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("value_cents"))
    got.exceptAll(expected).count() shouldBe 0L
    expected.exceptAll(got).count() shouldBe 0L

    // re-run under the SAME durable checkpoint: both files committed,
    // nothing processes, the rollup is byte-identical — the real
    // cross-session exactly-once
    val before = spark.read.parquet(target).orderBy("event_type")
      .collect().toSeq
    EventStreams.incrementalRollup(spark, landing.toString, target,
      maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    val after = spark.read.parquet(target).orderBy("event_type")
      .collect().toSeq
    after shouldBe before

    // a scratch-checkpoint session over the standing rollup would
    // restart batch ids and silently skip its data — fail fast
    val ex = intercept[IllegalArgumentException] {
      EventStreams.incrementalRollup(spark, landing.toString, target,
        maxFilesPerTrigger = Some(1))
    }
    ex.getMessage should include("checkpointDir")
  }

  test("streamingCmsCells: sketch merged over micro-batches equals the batch CMS; replay is idempotent; scratch re-session fails fast") {
    import org.apache.spark.sql.functions._
    // two micro-batches of the SAME file: the standing sketch must be the
    // batch sketch of the doubled stream (additivity), and a re-run under
    // the SAME durable checkpoint must change nothing (the file source
    // has committed both files — real cross-session exactly-once, not the
    // silent id-collision skip)
    val src = Paths.get("/root/testdata/sf0.001/events.parquet")
    val landing = Files.createTempDirectory("graft_cms_landing_")
    Files.copy(src, landing.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, landing.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val target = Files.createTempDirectory("graft_cms_out_").resolve("cms").toString
    val ckpt = Files.createTempDirectory("graft_cms_durable_ckpt_")
      .resolve("ckpt").toString

    EventStreams.streamingCmsCells(spark, landing.toString, target,
      col("user_id"), depth = 3, width = 128, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))

    val got = spark.read.parquet(target).select("r", "c", "cnt")
      .orderBy("r", "c").collect().map(_.toSeq).toSeq
    val expected = graft.operators.Sketch.cmsCells(
        spark.read.parquet(landing.toString), col("user_id"),
        depth = 3, width = 128)
      .orderBy("r", "c").collect().map(_.toSeq).toSeq
    got shouldBe expected

    EventStreams.streamingCmsCells(spark, landing.toString, target,
      col("user_id"), depth = 3, width = 128, maxFilesPerTrigger = Some(1),
      checkpointDir = Some(ckpt))
    val after = spark.read.parquet(target).select("r", "c", "cnt")
      .orderBy("r", "c").collect().map(_.toSeq).toSeq
    after shouldBe got

    // a second session over the same standing sketch WITHOUT the durable
    // checkpoint would restart batch ids at 0, collide with the applied
    // markers, and silently skip its data — must fail fast instead
    val ex = intercept[IllegalArgumentException] {
      EventStreams.streamingCmsCells(spark, landing.toString, target,
        col("user_id"), depth = 3, width = 128, maxFilesPerTrigger = Some(1))
    }
    ex.getMessage should include("checkpointDir")
  }

  test("hourlyCategoryCounts: stream-static broadcast enrichment equals the batch join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = Seq(("click", "engagement"), ("view", "engagement"),
      ("purchase", "conversion")).toDF("event_type", "category")
    val streamed = EventStreams.runToCompletion(spark,
      "/root/testdata/sf0.001/events.parquet", "es_dim_spec",
      ev => EventStreams.hourlyCategoryCounts(ev, dim))
    val batch = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .join(dim, Seq("event_type"), "left")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).cast("long").as("hour"),
        col("category"))
      .agg(count(lit(1)).as("events"))
    // event types missing from the dimension roll up under a null
    // category (the fail-closed left join) — assert they exist so the
    // equivalence actually covers that branch
    streamed.filter(col("category").isNull).count() should be > 0L
    streamed.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(streamed).count() shouldBe 0L
  }

  test("file-sink append harness equals the memory-sink complete harness") {
    // the production shape: append mode + parquet sink + watermark flush
    // via the far-future sentinel — must produce exactly the rows the
    // complete-mode memory sink (and therefore the batch oracle) yields
    val scratchRoot = {
      val probe = EventStreams.scratchDir("graft_probe_")
      graft.operators.Maintenance.rmTree(probe.toFile)
      probe.getParent.toFile
    }
    def outDirs = Option(scratchRoot.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft_stream_out_")).toSet
    val outBefore = outDirs
    val fileSink = EventStreams.runToCompletionFileSink(spark,
      "/root/testdata/sf0.001/events.parquet", EventStreams.hourlyTypeCounts)
    // the sink's output tree is removed before the call returns
    (outDirs -- outBefore) shouldBe empty
    val memSink = EventStreams.runToCompletion(spark,
      "/root/testdata/sf0.001/events.parquet", "es_filesink_spec",
      EventStreams.hourlyTypeCounts)
    fileSink.count() shouldBe memSink.count()
    fileSink.exceptAll(memSink).count() shouldBe 0L
    memSink.exceptAll(fileSink).count() shouldBe 0L
    // no sentinel leakage into the result
    fileSink.filter(org.apache.spark.sql.functions.col("event_type")
      .startsWith("__graft")).count() shouldBe 0L
  }

  test("outer interval join through the file-sink harness is COMPLETE") {
    import org.apache.spark.sql.functions._
    // the harness' sentinel advances the watermark past every real
    // row's join horizon (the type filters stay above the watermark
    // node — intervalJoin's placement comment), so unlike the bounded
    // memory-sink replay above, EVERY row gets its verdict and the
    // result is exactly the batch LEFT join
    val streamed = EventStreams.runToCompletionFileSink(spark,
      "/root/testdata/sf0.001/events.parquet",
      df => EventStreams.followedWithinOuter(df, "view", "click", 10))
      .select("user_id", "first_id", "then_id")
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("user_id").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("first_id"),
        unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("then_id"),
        unix_micros(col("ts")).as("cus"))
    val batch = views.join(clicks,
        col("user_id") === col("cu") &&
          col("cus") >= col("us") && col("cus") <= col("us") + 600000000L,
        "left_outer")
      .select("user_id", "first_id", "then_id")
    streamed.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(streamed).count() shouldBe 0L
  }

  test("chained dedup → window agg collapses a duplicated feed to batch counts") {
    // at-least-once transport simulated by self-union: every event
    // delivered twice. The two-stateful-operator chain (dedup feeding
    // the window aggregate) must yield exactly the single-delivery
    // batch rollup.
    val deduped = EventStreams.runToCompletionFileSink(spark,
      "/root/testdata/sf0.001/events.parquet",
      df => EventStreams.dedupedHourlyTypeCounts(df.union(df)))
    val batch = EventStreams.runToCompletionFileSink(spark,
      "/root/testdata/sf0.001/events.parquet", EventStreams.hourlyTypeCounts)
    deduped.count() shouldBe batch.count()
    deduped.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(deduped).count() shouldBe 0L
  }

  test("hourlyTypeCounts run to completion equals the batch aggregation") {
    val streamed = EventStreams.runToCompletion(spark,
      "/root/testdata/sf0.001/events.parquet", "es_spec",
      EventStreams.hourlyTypeCounts)
    val batch = {
      import org.apache.spark.sql.functions._
      graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).cast("long").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("events"),
          sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("value_cents"))
    }
    streamed.exceptAll(batch).count() shouldBe 0L
    batch.exceptAll(streamed).count() shouldBe 0L
  }
}
