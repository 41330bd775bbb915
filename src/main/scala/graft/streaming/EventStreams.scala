package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.operators.Maintenance

/** Structured Streaming extension of the snapshot pipeline (SURVEY §2.11):
  * the batch engine's event aggregations re-expressed as an incremental
  * stream — file source → watermark → tumbling window → stateful agg.
  *
  * At scale this is the continuous-refresh replacement for the reference's
  * TRUNCATE+reload snapshot: the same groupBy keys, but maintained
  * incrementally with bounded state (watermark evicts closed windows).
  * `dropDuplicates` on a match/event key before aggregation gives the
  * streaming analog of the batch match-dedup (state also watermark-bounded).
  */
object EventStreams {

  /** The CMS fold's flushed state-table schema. */
  private val cmsStateSchema: StructType = StructType(Seq(
    StructField("r", IntegerType),
    StructField("c", LongType),
    StructField("cnt", LongType)))

  /** events.parquet logical layout with `ts` as raw long nanos — the
    * LEGACY physical encoding (see [[graft.sources.Tables.events]] for the
    * encodings the fixture has shipped). Kept public for specs that stage
    * their own long-nanos landing files; production paths derive the
    * schema from the landing files' actual footer via [[eventSchemaFor]]. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** [[eventSchema]] with `ts` swapped to the probed physical type. */
  def eventSchemaFor(tsType: DataType): StructType =
    StructType(eventSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))

  /** Probe the physical type of `ts` from the landing files' parquet
    * footers (a batch schema read — no data scan). A file stream source
    * needs its schema up front, and hard-coding one silently corrupts
    * timestamps when the encoding changes (long micros read "as nanos"
    * land every event in 1970 — no error, wrong windows), so probe, don't
    * assume. */
  def probeTsType(spark: SparkSession, dir: String): DataType =
    spark.read.parquet(dir).schema("ts").dataType

  /** Open the events table as a file stream (a directory of parquet files —
    * at scale, the landing zone a collector keeps appending to). A single
    * parquet FILE is staged into a temp landing dir first: Spark's file
    * stream source only lists directories. */
  /** Staged single-file landing dirs by source path, so
    * [[runToCompletion]] can clean up after the stream finishes. */
  private val stagedDirs =
    scala.collection.concurrent.TrieMap.empty[String, java.io.File]

  /** Scratch dir for harness state (landing staging, checkpoints,
    * sentinels): tmpfs when the host offers it, java.io.tmpdir
    * otherwise. The bounded-replay harnesses re-pay checkpoint/offset/
    * state-store I/O on EVERY run — pure fixed cost that durability buys
    * nothing for (the scratch is removed after the run, or at JVM exit)
    * — so keeping it off disk amortizes the ~2-3 s/query
    * streaming-harness overhead. A real
    * deployment puts the checkpoint on durable shared storage; that is
    * exactly what this scratch is NOT. */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix)
    else java.nio.file.Files.createTempDirectory(prefix)
  }

  /** Scratch dirs that stand until JVM exit (per-JVM caches, standing
    * artifacts, frames returned to the caller), removed by one shutdown
    * hook — `File.deleteOnExit` cannot remove a non-empty directory. */
  private val standingDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  private lazy val standingDirsHook =
    sys.addShutdownHook(standingDirs.forEach(f => Maintenance.rmTree(f)))

  /** A [[scratchDir]] removed at JVM exit. */
  private[graft] def standingScratchDir(prefix: String): java.nio.file.Path = {
    standingDirsHook
    val d = scratchDir(prefix)
    standingDirs.add(d.toFile)
    d
  }

  def readEventStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = new java.io.File(path)
    val dir =
      if (f.isFile) {
        val d = scratchDir("graft_stream_")
        // hard-link from the shm-staged copy (one disk→shm copy per
        // fixture per session, not per query per pass; superseded
        // versions of a mutated fixture are evicted — see stagedCopy)
        val staged = stagedCopy(f.getPath,
          s"${f.length}:${f.lastModified}", Seq(f))
        Option(staged.toFile.listFiles()).getOrElse(Array.empty).foreach(s =>
          java.nio.file.Files.createLink(d.resolve(s.getName), s.toPath))
        stagedDirs.put(path, d.toFile)
        d.toString
      } else path
    val tsType = probeTsType(spark, dir)
    StateFold.landing(spark, dir, eventSchemaFor(tsType), maxFilesPerTrigger)
      .withColumn("ts",
        graft.sources.Tables.guardTs(graft.sources.Tables.eventTsToTimestamp(tsType)))
  }

  /** Tumbling 1-hour windows per event_type: event counts + value sums
    * (as integer cents — double sums depend on accumulation order, which
    * differs between incremental state updates and any batch engine).
    * The watermark bounds state only in append/update output mode (closed
    * windows evict once the watermark passes); in complete mode — which
    * [[runToCompletion]] uses for batch equivalence — Spark retains every
    * window's state for re-emission, so the bound does not apply there.
    * Exact distinct-user counts are not available incrementally (use
    * approx_count_distinct in production). */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("w.start")).cast("long").as("hour"),
        col("event_type"), col("events"), col("value_cents"))

  /** Streaming exact dedup — the incremental form of the batch
    * match-hash dedup (SURVEY A13/§2.11): duplicates arriving within the
    * watermark horizon are dropped with bounded state; late duplicates
    * beyond it age out of the state store (the explicit correctness/state
    * trade of streaming dedup). */
  def dedupedEvents(events: DataFrame, gap: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", gap)
      .dropDuplicatesWithinWatermark("event_id")

  /** Dedup CHAINED INTO the windowed rollup — two stateful operators in
    * one streaming query (dropDuplicatesWithinWatermark → window
    * aggregate), the shape a real feed needs when the transport
    * redelivers (at-least-once Kafka, retried uploads): counts must be
    * per unique event, not per delivery. Watermark set once upstream and
    * PROPAGATED through the dedup into the window (Spark 3.5+/4.x
    * multi-stateful-operator support); dedup state evicts with the same
    * horizon the windows close on. The duplicated-feed equivalence
    * (self-union in, batch-distinct counts out) is pinned in
    * EventStreamsSpec and driven as q86 through the file-sink harness. */
  def dedupedHourlyTypeCounts(events: DataFrame, gap: String = "2 hours"): DataFrame =
    dedupedEvents(events, gap)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("value_cents"))
      .select(unix_timestamp(col("w.start")).cast("long").as("hour"),
        col("event_type"), col("events"), col("value_cents"))

  /** Open session carried between micro-batches by [[sessionize]]
    * (timestamps in epoch micros). */
  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)

  /** Closed session emitted by [[sessionize]] (epoch seconds, truncated —
    * the engine-portable output convention). */
  final case class SessionRow(user_id: Long, start_ts: Long, end_ts: Long,
      n_events: Long)

  /** Custom-state streaming sessionization via `flatMapGroupsWithState` —
    * the arbitrary-state API the built-in `session_window` aggregation
    * (q38) doesn't need but bespoke session payloads do (SURVEY §2.11
    * extension). Sessions close on a ≥ `gap` event-time silence, matching
    * `session_window`'s merge rule (merge iff diff < gap).
    *
    * State per user is ONE OpenSession (24 bytes); data-closed sessions
    * emit in the batch that observes the gap; the trailing open session
    * emits when the event-time timeout fires (watermark passes lastTs +
    * gap) — which for a bounded replay means sessions inside the final
    * watermark horizon stay unemitted: the deliberate streaming trade,
    * asserted in EventStreamsSpec. Within-batch events are sorted per
    * group; cross-batch ordering relies on the watermark bounding
    * disorder (a production pipeline buffering later-than-open-session
    * events would hold them in state until the watermark passes). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def usOf(t: java.sql.Timestamp): Long =
      java.lang.Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    events.filter(col("user_id").isNotNull)
      .withWatermark("ts", "2 hours")
      .select(col("user_id").cast("long"), col("ts"),
        col("event_id").cast("long"))
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, evs: Iterator[(Long, java.sql.Timestamp, Long)],
            state: GroupState[OpenSession]) => {
          def toRow(o: OpenSession) =
            SessionRow(user, o.startUs / 1000000L, o.lastUs / 1000000L, o.n)
          if (state.hasTimedOut) {
            val out = state.getOption.map(toRow).iterator
            state.remove()
            out
          } else {
            val sorted = evs.map { case (_, ts, id) => (usOf(ts), id) }
              .toIndexedSeq.sortBy(identity)
            val closed = Seq.newBuilder[SessionRow]
            var open = state.getOption
            sorted.foreach { case (us, _) =>
              open match {
                case Some(o) if us - o.lastUs >= gapUs =>
                  closed += toRow(o)
                  open = Some(OpenSession(us, us, 1L))
                case Some(o) =>
                  open = Some(o.copy(lastUs = us, n = o.n + 1L))
                case None =>
                  open = Some(OpenSession(us, us, 1L))
              }
            }
            open.foreach { o =>
              state.update(o)
              // fire once the watermark passes the session's close point;
              // clamp above the current watermark (setTimeoutTimestamp
              // rejects timestamps the watermark already passed)
              state.setTimeoutTimestamp(math.max(
                o.lastUs / 1000L + gapMinutes * 60L * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            closed.result().iterator
          }
        })
  }

  /** Stream-stream interval self-join: pairs each `firstType` event with
    * the same user's `thenType` events arriving within `withinMinutes`
    * after it — the streaming form of [[graft.operators.IntervalJoin]]
    * (q45 is the batch/oracle-checked counterpart; the spec asserts the
    * two agree on a bounded replay). Inner stream-stream join: results
    * emit as soon as both sides arrive; the watermarks + the time-range
    * condition bound both join-state buffers (Spark derives the state
    * eviction horizon from them — an unconstrained stream-stream join
    * would buffer forever). */
  def followedWithin(events: DataFrame, firstType: String, thenType: String,
      withinMinutes: Int = 10, watermark: String = "2 hours"): DataFrame =
    intervalJoin(events, firstType, thenType, withinMinutes, watermark, "inner")

  /** Shared body of [[followedWithin]]/[[followedWithinOuter]] — the two
    * differ ONLY in join type, and the interval condition + watermark
    * handling must never diverge between them.
    *
    * The watermark is assigned UPSTREAM of the event-type filters (one
    * EventTimeWatermark node both join inputs derive from; the rename
    * keeps the attribute's watermark metadata): every event advances
    * the clock, including types the join never keeps — which is what
    * lets an unrelated heartbeat/flush event (the file-sink harness'
    * sentinel) close out outer-join state. A per-side post-filter
    * watermark would freeze whenever that side's type stops arriving. */
  private def intervalJoin(events: DataFrame, firstType: String,
      thenType: String, withinMinutes: Int, watermark: String,
      joinType: String): DataFrame = {
    val wm = events.filter(col("user_id").isNotNull)
      .withWatermark("ts", watermark)
    // the type filters must stay ABOVE the watermark node or the
    // heartbeat contract breaks — Catalyst pushes any predicate not
    // referencing the event-time column below EventTimeWatermark, so
    // each filter is a non-splittable OR referencing `ts` (`ts` is
    // never null after readEventStream's conversion: the disjunct is
    // semantically inert, it exists to pin the filter's placement)
    val a = wm.filter(col("event_type") === firstType || col("ts").isNull)
      .select(col("user_id").as("a_user"), col("event_id").as("first_id"),
        col("ts").as("first_ts"))
    val b = wm.filter(col("event_type") === thenType || col("ts").isNull)
      .select(col("user_id").as("b_user"), col("event_id").as("then_id"),
        col("ts").as("then_ts"))
    a.join(b, col("a_user") === col("b_user") &&
        col("then_ts") >= col("first_ts") &&
        col("then_ts") <= col("first_ts") + expr(s"INTERVAL $withinMinutes MINUTES"),
      joinType)
      .select(col("a_user").as("user_id"), col("first_id"), col("then_id"))
  }

  /** LEFT OUTER stream-stream interval join — [[followedWithin]] with
    * unmatched-left emission: a `firstType` event with no `thenType`
    * follow-up inside the interval emits (user_id, first_id, null) once
    * the WATERMARK has passed its join horizon (only then can the engine
    * prove no match is still in flight — the null row is a watermark
    * decision, not a data one). State stays bounded exactly as in the
    * inner form; the cost of outer semantics is emission LATENCY, not
    * memory. Rows still inside the final watermark horizon when a bounded
    * replay ends never get their verdict — the spec asserts that trade
    * explicitly (matched rows equal the batch join; emitted null rows are
    * exactly the batch's unmatched set old enough to be decided).
    *
    * Duplicate-row caveat: VALUE-IDENTICAL left rows (same user, id and
    * timestamp — the events fixture contains such replays by design) can
    * collapse to one row in join state, so unmatched-side multiplicities
    * are per-VALUE, not per-row. Feed [[dedupedEvents]] upstream when
    * exact per-row multiplicities matter; matched results are unaffected. */
  def followedWithinOuter(events: DataFrame, firstType: String, thenType: String,
      withinMinutes: Int = 10, watermark: String = "2 hours"): DataFrame =
    intervalJoin(events, firstType, thenType, withinMinutes, watermark, "left_outer")

  /** Stream-static enrichment join + windowed rollup by the DIMENSION's
    * attribute — the lookup-table pattern every continuous pipeline needs
    * (events arrive with a code; reporting wants the dimension's
    * category). The static side joins statelessly: Spark re-plans it per
    * micro-batch, so a slowly-changing dimension table picks up updates
    * without restarting the stream, and `broadcast` keeps the stream side
    * unshuffled — the join is a map-side hash probe, exactly like
    * [[graft.operators.Contamination]]'s benchmark probe in batch. LEFT
    * join: events with no dimension row roll up under a null category
    * instead of silently dropping (the fail-closed choice an audit can
    * see). The only stateful operator remains the windowed count.
    *
    * `dim` must be (event_type, category) and BATCH (static); `events` a
    * streaming frame from [[readEventStream]]. */
  def hourlyCategoryCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), Seq("event_type"), "left")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("category"))
      .agg(count(lit(1)).as("events"))
      .select(unix_timestamp(col("w.start")).cast("long").as("hour"),
        col("category"), col("events"))

  /** Continuous rollup materialization via `foreachBatch` — the streaming
    * sink form of the snapshot pipeline's incremental refresh: each
    * micro-batch is aggregated with plain BATCH operators and folded into
    * the standing parquet rollup with
    * [[graft.operators.Upsert.additiveMerge]] + the crash-recovering
    * staged swap. No streaming-aggregation state at all — the stream
    * stays append-only, so arbitrarily many rollup columns cost nothing
    * between batches, and the merge is one dim-sized groupBy per batch.
    *
    * Exactly-once: `foreachBatch` can re-run a batch after a crash, and an
    * ADDITIVE merge would double-count a replayed batch — so each batch's
    * id is recorded inside [[graft.operators.Upsert.mergeParquet]]'s
    * staged swap (the applied-set commits in the same directory rename as
    * the data) and a replayed id is skipped outright. Replaying any
    * micro-batch leaves the rollup byte-identical (EventStreamsSpec). */
  def incrementalRollup(spark: SparkSession, path: String, targetPath: String,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit = {
    StateFold.requireFreshOrDurable(targetPath, "rollup", checkpointDir)
    StateFold.runBounded(readEventStream(spark, path, maxFilesPerTrigger),
        checkpointDir) { (batch, batchId) =>
      val agg = batch.groupBy(col("event_type"))
        .agg(count(lit(1)).as("events"),
          sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).as("value_cents"))
      graft.operators.Upsert.mergeParquet(spark, targetPath, agg,
        batchId = Some(batchId))(
        graft.operators.Upsert.additiveMerge(_, _,
          keys = Seq("event_type"), metrics = Seq("events", "value_cents")))
    }
    stagedDirs.remove(path).foreach(Maintenance.rmTree)
  }

  /** Streaming Count-Min maintenance — [[incrementalRollup]]'s shape
    * applied to a SKETCH: each micro-batch is folded into its own CMS
    * cell table ([[graft.operators.Sketch.cmsCells]], ≤ depth·width
    * rows) and additively merged into the standing parquet sketch. The
    * CMS additivity law (cell-wise sum ≡ sketch of the concatenated
    * streams) is exactly [[graft.operators.Upsert.additiveMerge]]'s
    * contract, so the standing table after any replay equals the batch
    * sketch of everything ingested — which is how the driver oracle
    * checks it. This is the firehose frequency monitor: per-batch cost
    * is one scan of the batch plus a depth·width-sized merge, state
    * never grows past depth·width rows, and no per-item state store
    * exists at all (a streaming groupBy over item would hold the item
    * universe in state). Exactly-once via the batchId-keyed staged swap,
    * same as the rollup.
    *
    * Across SESSIONS: batch ids are the exactly-once key, and they come
    * from the CHECKPOINT. The default scratch checkpoint (deleted on
    * exit) restarts ids at 0, so a second session over the SAME standing
    * sketch would collide with the applied-batch marker and silently
    * skip its data. A continuous deployment passes `checkpointDir` — a
    * DURABLE location, kept across sessions — so batch ids continue and
    * every new file folds in exactly once; the bounded-replay harness
    * (and the equivalence spec) stay on the scratch default. */
  def streamingCmsCells(spark: SparkSession, path: String, targetPath: String,
      item: Column, depth: Int, width: Int,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit = {
    // the cross-session collision above is SILENT data loss (restarted
    // ids are skipped as replays, no error anywhere) — runFold fails fast
    // instead of relying on the caller having read the scaladoc
    StateFold.runFold(targetPath, "cms", checkpointDir,
      readEventStream(spark, path, maxFilesPerTrigger))(
      cmsFold(spark, targetPath, item, depth, width, _, _))
    stagedDirs.remove(path).foreach(Maintenance.rmTree)
  }

  /** The SESSION-scoped sketch fold — [[streamingCmsCells]]'s loop body.
    * A [[StateFold]] (see there for the group-commit protocol and
    * durability contract) whose state is the standing cells held
    * driver-side (≤ depth·width rows — bounded by the sketch geometry,
    * never the stream); each batch contributes ONE cmsCells job,
    * collected and summed in memory. */
  private[graft] def cmsFold(spark: SparkSession, targetPath: String,
      item: Column, depth: Int, width: Int, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold =
    StateFold(spark, targetPath, "cms", cmsStateSchema, flushEvery, durable)(
      _.map(_.select(col("r"), col("c"), col("cnt")).collect()
        .map(row => (row.getInt(0), row.getLong(1)) -> row.getLong(2)).toMap)
        .getOrElse(Map.empty[(Int, Long), Long]))((cells, batch, _) => {
      // ONE job: ≤ depth·width cells, the documented bounded collect
      val delta = graft.operators.Sketch.cmsCells(batch, item, depth, width)
        .select(col("r"), col("c"), col("cnt")).collect()
      if (delta.isEmpty) None
      else Some(delta.foldLeft(cells) { (m, row) =>
        val k = (row.getInt(0), row.getLong(1))
        m.updated(k, m.getOrElse(k, 0L) + row.getLong(2))
      })
    }, _.toSeq.sortBy(_._1).map { case ((r, c), n) => Row(r, c, n) })

  /** Run a streaming aggregation over a static directory to completion and
    * return the final result — the batch-equivalence harness used by the
    * driver queries and specs (every micro-batch path is exercised; the
    * result must equal the batch groupBy). The memory-sink view and any
    * staged landing dir are torn down before returning (repeated calls in
    * one session must not accumulate driver state or /tmp copies), so the
    * result is materialized into a local DataFrame first — aggregated
    * output is bounded by (windows × keys), never raw-event-sized. */
  def runToCompletion(spark: SparkSession, path: String, name: String,
      agg: DataFrame => DataFrame): DataFrame = {
    // State-store partition count is fixed from spark.sql.shuffle.partitions
    // at query start, and every micro-batch commits one state + checkpoint
    // file PER partition — pure fixed overhead for a bounded replay whose
    // aggregated state is (windows × keys)-sized. Run the stream with two
    // state partitions and restore the session conf after: a measured
    // sweep at sf0.1 (stream-stream joins, the heaviest state users) put
    // 2 ≈ 0.85× of 4 and 0.4× of 16 — commit fan-out dominates compute
    // at replay scale — while 1 gave the savings back to serialization.
    // (A real continuous deployment sizes this to key cardinality.)
    val shufflePartitionsKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.get(shufflePartitionsKey)
    val ckpt = scratchDir("graft_mem_ckpt_")
    try {
      spark.conf.set(shufflePartitionsKey,
        math.min(2, prevShuffle.toInt).toString)
      val q = agg(readEventStream(spark, path))
        .writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete")
        .start()
      try { q.processAllAvailable() } finally q.stop()
    } finally {
      spark.conf.set(shufflePartitionsKey, prevShuffle)
      Maintenance.rmTree(ckpt.toFile)
    }
    val view = spark.table(name)
    val rows = view.collect().toIndexedSeq
    val schema = view.schema
    spark.catalog.dropTempView(name)
    stagedDirs.remove(path).foreach(Maintenance.rmTree)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 1000 + 1)), schema)
  }

  /** The production-shaped replay harness: APPEND-mode file sink instead
    * of [[runToCompletion]]'s complete-mode memory sink — results land as
    * a parquet table (exactly what a deployed stream writes), no driver
    * collect, state bounded by the watermark (closed windows evict
    * instead of being retained for re-emission).
    *
    * Append mode only emits a window once the watermark passes it, and a
    * bounded replay's LAST windows would otherwise never emit. The flush
    * is the standard heartbeat move: after the real files drain, one
    * far-future sentinel event (`event_type` = `sentinelType`, +7 days)
    * is appended to the landing dir, advancing the watermark past every
    * real window. The sentinel's own window stays open forever, so it
    * never reaches the sink; the result filter on `event_type` is a
    * safety net for aggregations that pass it through (the contract:
    * `agg` output must not mix sentinel rows into real groups — true for
    * any event_type-keyed aggregation such as [[hourlyTypeCounts]]).
    *
    * The source file(s) are COPIED into a private landing dir (the
    * original path is never mutated); landing + checkpoint dirs are
    * removed on return, the `out` parquet dir backs the returned frame
    * and is the caller's to keep or delete.
    *
    * `flushes` (default 1) is the number of staggered sentinel events
    * (+7 days, +7 days 1 h, …). One suffices for every operator here —
    * the post-sentinel no-data micro-batch re-evaluates window AND
    * join state against the advanced watermark (verified for the outer
    * interval join in EventStreamsSpec) — but the knob stays for
    * stateful operators whose eviction only runs on data batches: each
    * later sentinel's batch applies the previous one's watermark. Later
    * sentinels stay 2 h inside the previous one's window horizon, so
    * sentinel state never closes into the sink regardless of count.
    * NOTE the contract this relies on: the agg must keep its
    * event-time column flowing through the WATERMARK node for every
    * input row, even rows its filters discard — see [[intervalJoin]]'s
    * filter-placement comment. */
  /** Max event time (as long micros) of a bounded source, cached by the
    * source files' identity (path, size, mtime — content-stable key):
    * the sentinel-flush probe is one full scan of the source per replay,
    * pure fixed cost for a harness that replays the SAME fixture file
    * per query — seven file-sink queries × two timed passes re-scanned
    * the events table fourteen times for one constant. */
  private val maxTsCache =
    scala.collection.concurrent.TrieMap.empty[String, Option[Long]]

  /** Staged sentinel parquet FILE, cached by (ts physical type, sentinel
    * micros, sentinel type): the one-row flush file is a pure function of
    * those three, and the replay harness flushes the SAME fixture's
    * watermark for every file-sink query — writing it fresh was one
    * coalesce(1) Spark job per query per pass for identical bytes. Files
    * live in harness scratch and are COPIED into each query's private
    * landing dir (the landing dir is deleted per run; the cached original
    * survives the session). */
  private val sentinelFileCache =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  /** Source files staged ONCE into tmpfs scratch per source path — the
    * replay harness lands the SAME fixture files for every file-sink
    * query, and each per-query landing dir hard-links from this
    * shm-resident copy (same filesystem, so links work; per-query cost
    * is directory entries, not a disk→shm copy of the events table per
    * query per pass). Keyed by PATH with the (size, mtime) content
    * identity stored alongside: a fixture that mutates in place
    * replaces its staged copy and the superseded dir is deleted — a
    * long-lived session over changing fixtures holds at most one shm
    * copy per path, not one per historical version. (Deleting a
    * superseded dir is safe mid-run: active landing dirs hold hard
    * links, which keep the inodes alive.) */
  private val srcStageCache = scala.collection.concurrent.TrieMap
    .empty[String, (String, java.nio.file.Path)]

  private[streaming] def stagedCopy(pathKey: String, identity: String,
      files: Seq[java.io.File]): java.nio.file.Path = srcStageCache.synchronized {
    srcStageCache.get(pathKey) match {
      case Some((id, dir)) if id == identity => dir
      case prev =>
        prev.foreach { case (_, dir) => Maintenance.rmTree(dir.toFile) }
        val d = standingScratchDir("graft_stream_srccache_")
        files.foreach(f =>
          java.nio.file.Files.copy(f.toPath, d.resolve(f.getName)))
        srcStageCache.put(pathKey, (identity, d))
        d
    }
  }

  def runToCompletionFileSink(spark: SparkSession, path: String,
      agg: DataFrame => DataFrame,
      sentinelType: String = "__graft_flush",
      flushes: Int = 1): DataFrame = {
    require(flushes >= 1 && flushes <= 4, "flushes must be in [1, 4]")
    import java.nio.file.Files
    // landing + checkpoint + out are all harness scratch (tmpfs-backed —
    // see scratchDir): `out` backs the RETURNED frame, whose lifetime is
    // this session (callers persist real artifacts themselves; a
    // deployed stream writes its sink to durable storage, which this
    // bounded-replay harness is exactly not)
    val landing = scratchDir("graft_stream_land_")
    val out = standingScratchDir("graft_stream_out_")
    val ckpt = scratchDir("graft_stream_ckpt_")
    val src = new java.io.File(path)
    val srcFiles =
      if (src.isFile) Seq(src)
      else Option(src.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_")
          && !f.getName.startsWith(".")).toSeq
    val srcKey = srcFiles.map(f =>
      s"${f.getPath}:${f.length}:${f.lastModified}").sorted.mkString("|")
    val stagedSrc = stagedCopy(path, srcKey, srcFiles)
    Option(stagedSrc.toFile.listFiles()).getOrElse(Array.empty)
      .foreach(f => Files.createLink(landing.resolve(f.getName), f.toPath))
    val shufflePartitionsKey = "spark.sql.shuffle.partitions"
    val prevShuffle = spark.conf.get(shufflePartitionsKey)
    // watermark flush: sentinel event(s) 7 days past the max real event
    // time, staged as parquet files the source picks up. The sentinel
    // must carry the SAME physical ts encoding as the landing files (the
    // source reads with the probed schema), so normalize max-ts to long
    // micros, then re-encode per type. Both the max-ts probe and the
    // one-row sentinel file are cached — pure functions of the fixture.
    val tsType =
      if (srcFiles.nonEmpty) probeTsType(spark, landing.toString)
      else LongType
    val tsAsMicros = tsType match {
      case LongType => expr("ts div 1000") // raw nanos
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case _ => unix_micros(col("ts"))
    }
    val maxTs =
      if (srcFiles.isEmpty) None
      else maxTsCache.getOrElseUpdate(srcKey,
        spark.read.schema(eventSchemaFor(tsType))
          .parquet(landing.toString)
          .agg(max(tsAsMicros)).collect().headOption
          .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])))
    def sentinelFile(sentMicros: Long): java.nio.file.Path =
      sentinelFileCache.getOrElseUpdate(
        s"${tsType.simpleString}:$sentMicros:$sentinelType", {
          val sentTs = tsType match {
            case LongType => lit(sentMicros * 1000L)
            case TimestampNTZType =>
              timestamp_micros(lit(sentMicros)).cast(TimestampNTZType)
            case _ => timestamp_micros(lit(sentMicros))
          }
          val sentinel = spark.range(1).select(
            lit(-1L).as("event_id"), sentTs.as("ts"), lit(-1L).as("user_id"),
            lit(sentinelType).as("event_type"), lit(0.0).as("value"),
            lit(null).cast(StringType).as("props"))
          val tmp = scratchDir("graft_stream_sentinel_")
          sentinel.coalesce(1).write
            .mode("overwrite").parquet(tmp.resolve("s").toString)
          val part = Option(tmp.resolve("s").toFile.listFiles())
            .getOrElse(Array.empty)
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .head
          val keep = standingScratchDir("graft_stream_sentcache_")
            .resolve("sentinel.parquet")
          Files.move(part.toPath, keep)
          Maintenance.rmTree(tmp.toFile)
          keep
        })
    def sentMicrosFor(t: Long, n: Int): Long =
      t + 7L * 24 * 3600 * 1000000L + (n - 1) * 3600L * 1000000L
    // single-flush fast path: the sentinel rides the landing dir from the
    // START, so one processAllAvailable covers the whole replay — batch 0
    // reads real data + sentinel (watermark 0, nothing emits), and the
    // trailing no-data micro-batch applies the sentinel-advanced
    // watermark, closing every real window/join horizon into the sink.
    // Equivalent output to the append-after loop below (the sentinel is
    // just another event; event-time semantics don't order within a
    // batch), minus one data batch + one state-commit round + one
    // directory-listing cycle per query. Multi-flush keeps the staggered
    // append-after loop: its contract is that each LATER sentinel's DATA
    // batch applies the previous one's watermark, which pre-placement
    // cannot express.
    // INVARIANT: this pre-placement is only sound because the read below
    // opens the stream with NO trigger limit (readEventStream is called
    // without maxFilesPerTrigger), so batch 0 is guaranteed to contain
    // every real file alongside the sentinel. Under a file-count limit,
    // file pickup order is mtime-based and the cached sentinel inode is
    // OLD — it could land in an early micro-batch and advance the
    // watermark past later real batches, silently dropping them as
    // late. Belt and braces: the link's mtime is bumped to now (links
    // share the inode, so the cached copy ages forward too — harmless),
    // keeping the sentinel LAST in any mtime order a future trigger
    // limit would impose.
    if (flushes == 1)
      maxTs.foreach { t =>
        val link = landing.resolve("zz_sentinel1.parquet")
        Files.createLink(link, sentinelFile(sentMicrosFor(t, 1)))
        Files.setLastModifiedTime(link,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis()))
        ()
      }
    // the streaming frame is built before start() so its schema is known
    // even when the source turns out to be empty (see the guard below)
    var aggSchema: org.apache.spark.sql.types.StructType = null
    try {
      spark.conf.set(shufflePartitionsKey,
        math.min(2, prevShuffle.toInt).toString)
      val aggDf = agg(readEventStream(spark, landing.toString))
      aggSchema = aggDf.schema
      val q = aggDf
        .writeStream
        .format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .start()
      // stop() on ALL exits: a throw from processAllAvailable (or the
      // sentinel stage) must not leave the query running in the session
      try {
        q.processAllAvailable()
        if (flushes > 1) maxTs.foreach { t =>
          (1 to flushes).foreach { n =>
            Files.createLink(landing.resolve(s"zz_sentinel$n.parquet"),
              sentinelFile(sentMicrosFor(t, n)))
            q.processAllAvailable()
          }
        }
      } finally q.stop()
    } finally {
      spark.conf.set(shufflePartitionsKey, prevShuffle)
      // landing/checkpoint are private scratch — removed on success AND
      // failure (only `out` survives, as the caller's artifact)
      Maintenance.rmTree(landing.toFile)
      Maintenance.rmTree(ckpt.toFile)
    }
    // empty-source guard: append mode with no rows (or no closed windows)
    // writes no data files, and reading the bare dir would throw "Unable
    // to infer schema" — return an empty frame with the agg's schema.
    val hasData = Option(out.toFile.listFiles()).getOrElse(Array.empty)
      .exists(f => f.isFile && f.getName.endsWith(".parquet"))
    val raw =
      if (hasData) spark.read.parquet(out.toString)
      else spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), aggSchema)
    if (raw.columns.contains("event_type"))
      raw.filter(col("event_type") =!= sentinelType)
    else raw
  }
}
