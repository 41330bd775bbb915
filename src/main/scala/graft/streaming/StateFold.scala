package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.{Fs, Maintenance, Upsert}

/** A session-scoped micro-batch state fold whose standing-table writes
  * are GROUP-COMMITTED: each batch folds into driver-held state (bounded
  * by construction — per-source counts, an n×|sources| board, a
  * |sources|-row card, ≤ 2·nBuckets model cells, ≤ d²+d+1 moments,
  * ≤ depth·width sketch cells), and the parquet state table is
  * staged-swap written only every `flushEvery` folded batches and at
  * session end, with the applied-batch markers for EVERY batch the write
  * covers. Every fold is built by [[StateFold.apply]], which owns the
  * whole protocol below; a fold supplies only its parameter fail-fast
  * and state load, its per-batch job + merge, and its state → rows.
  *
  * Rationale: the fold state here is bounded, so the per-batch cost of a
  * write-every-batch discipline is pure fixed overhead — one Spark write
  * job + one staged swap per micro-batch that a real deployment
  * amortizes over many batches (group commit, the WAL batching of
  * databases). The EXACTLY-ONCE story is unchanged in kind: a flushed
  * marker set and its data always commit in the same rename.
  *
  * Construction resolves the standing state ONCE, in this order:
  *  1. staged-swap crash recovery (a prior session may have died
  *     mid-swap — restored BEFORE any read, or the recoverable table
  *     looks missing and every guard passes vacuously);
  *  2. the fold's parameter fail-fast and its state load off ONE read of
  *     the standing table (the p_* discipline: state built under one
  *     budget/width/sketch size is refused under another; a zero-row
  *     table carries no parameter evidence and is treated as absent) —
  *     before any applied gate, so a replayed batch under a changed
  *     parameter fails loudly instead of silently serving the old
  *     parameter's output. Only an ABSENT table counts as no evidence:
  *     any other read failure rethrows, so damaged state cannot slip
  *     past the fail-fast to be overwritten by the first flush;
  *  3. marker priming ([[StateFold.primeMarkerEvidence]]) when
  *     `durable || flushEvery != Int.MaxValue`;
  *  4. the applied set, then the single-writer lease
  *     ([[StateFold.takeLease]]), checked before each write.
  * Each batch is gated on `!applied && !pending` (a replay neither
  * recomputes nor double-counts), runs the fold's one job, and joins the
  * pending marker set; `dirty` records whether any fold changed the
  * state since the last flush. A flush writes the state's rows plus
  * every pending marker in one staged swap; a never-dirty session
  * against no standing table records nothing (an all-empty stream must
  * not create a zero-row table), but once a table exists a flush also
  * marker-annotates batches that folded nothing, keeping the applied
  * set complete for [[StateFold.requireNoLostFolds]].
  *
  * Durability contract (narrower than write-every-batch — deliberately):
  *
  *  - Under a SCRATCH checkpoint the stream itself has no cross-session
  *    durability (a restart replays every landing file against a fresh
  *    state — the runners' scratch guard enforces the fresh state), so
  *    deferring every write to one session-end flush loses nothing that
  *    the checkpoint wasn't already losing. This is the right cadence
  *    for bounded runs, and the factories default to it
  *    (`flushEvery = Int.MaxValue`).
  *  - Under a DURABLE checkpoint, batches the checkpoint committed are
  *    never re-presented, so folds that died in memory between flushes
  *    are unrecoverable from the stream. Runners therefore (a) pass a
  *    finite `flushEvery` ([[StateFold.DefaultFlushEvery]]) to bound the
  *    window, (b) run [[StateFold.requireNoLostFolds]] at session
  *    start, which turns the loss into a loud failure instead of a
  *    silently short count, and (c) prime marker evidence at
  *    construction: when no state table exists yet, a ZERO-ROW table is
  *    written before the stream starts, so even a session that dies
  *    before its FIRST flush leaves the table whose (empty) applied set
  *    exposes every checkpoint-committed id as lost. There is no
  *    undetected window: a missing table plus a non-empty commit log is
  *    itself reported as loss by the guard.
  *
  * A replayed batch (crash between a flush and the checkpoint commit)
  * is gated exactly as before: the in-memory applied set is the union
  * of the table's markers and this session's folds, so the replay
  * neither recomputes nor double-counts. Within a session nothing else
  * mutates the state (the lease), and a crash restarts the session,
  * which re-reads the table — markers included — from disk.
  */
trait StateFold extends ((DataFrame, Long) => Unit) {

  /** Staged-swap-write the in-memory state plus the applied markers of
    * every batch folded since the last flush. Idempotent; a no-op when
    * nothing is pending. Runners call this after the stream drains
    * (in a `finally` — a half-run session should still persist what it
    * folded). */
  def flush(): Unit
}

object StateFold {

  /** Flush cadence runners use under a DURABLE checkpoint: bounds the
    * crash window (see the trait scaladoc) at one table write per this
    * many folded batches. Scratch-checkpoint runs flush once at session
    * end instead (`Int.MaxValue`). */
  val DefaultFlushEvery = 32

  /** The group-commit fold over the state table at `statePath` (see the
    * trait scaladoc for the protocol, in order). `schema` is the flushed
    * table's schema — ONE definition shared by the marker priming and
    * every flush, so the primed table and the first real flush can
    * never diverge. The fold supplies:
    *  - `load`: its parameter fail-fast, then its driver-side state,
    *    off the standing table (`None` when there is none);
    *  - `step`: its one per-batch job merged into the state — `None`
    *    when the batch changed nothing;
    *  - `rows`: the state as `schema` rows, in a deterministic order. */
  def apply[S](spark: SparkSession, statePath: String, what: String,
      schema: StructType, flushEvery: Int, durable: Boolean)(
      load: Option[DataFrame] => S)(
      step: (S, DataFrame, Long) => Option[S],
      rows: S => Seq[Row]): StateFold = {
    Upsert.recoverStagedSwap(statePath)
    var state = load(
      if (Fs.exists(statePath)) Some(spark.read.parquet(statePath)) else None)
    // keyed on the SAME condition the restart guard uses: a durable fold
    // with an infinite cadence must prime too, and a finite cadence
    // still implies durability for callers of the cadence-only contract
    if (durable || flushEvery != Int.MaxValue)
      primeMarkerEvidence(spark, statePath, schema)
    var applied = Upsert.appliedBatches(statePath)
    var pending = Set.empty[Long] // folded since the last flush
    var dirty = false             // state changed since the last flush
    val assertLease = takeLease(statePath, what)
    def doFlush(): Unit =
      if (pending.nonEmpty && (dirty || Fs.exists(statePath))) {
        assertLease()
        Upsert.mergeParquetBatches(spark, statePath,
          spark.createDataFrame(java.util.Arrays.asList(rows(state): _*),
            schema).coalesce(1),
          pending)((_, updates) => updates)
        applied ++= pending
        pending = Set.empty
        dirty = false
      }
    new StateFold {
      override def apply(batch: DataFrame, batchId: Long): Unit =
        if (!applied.contains(batchId) && !pending.contains(batchId)) {
          step(state, batch, batchId).foreach { s => state = s; dirty = true }
          pending += batchId
          if (pending.size >= flushEvery) doFlush()
        }
      override def flush(): Unit = doFlush()
    }
  }

  /** Batch ids the streaming checkpoint at `ckptDir` has committed
    * (empty when the checkpoint doesn't exist yet). The commit log is
    * one numeric-named file per committed batch under `commits/`. */
  def committedBatchIds(ckptDir: String): Set[Long] =
    Fs.listNames(s"$ckptDir/commits")
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).toSet

  /** Single-writer lease for a fold's state table. The folds here
    * replace-write the WHOLE table from in-memory state, so a second
    * factory constructed against the same `statePath` in one session
    * (or any concurrent writer) would silently discard the other
    * writer's folds — where per-batch disk re-reads made interleaving
    * merely racy, in-memory state makes it lossy. Construction TAKES
    * the lease (a nonce file NEXT TO the table — inside it, the staged
    * swap would destroy it); the returned check runs before each
    * replace-write and fails fast when another construction has taken
    * the lease since. A crashed session's stale lease needs no expiry:
    * the next construction simply overwrites it. */
  def takeLease(statePath: String, what: String): () => Unit = {
    val leasePath = s"${statePath}__lease"
    val nonce = java.util.UUID.randomUUID().toString
    Fs.writeText(leasePath, nonce)
    () => {
      val held = Fs.readText(leasePath).map(_.trim)
      require(held.contains(nonce),
        s"$what state at $statePath is leased to another session fold " +
          s"(lease ${held.getOrElse("<missing>")}, this session $nonce) — " +
          "a second fold constructed against the same statePath would " +
          "silently overwrite this one's folds; one writer per state " +
          "table per session")
    }
  }

  /** Group-commit crash guard for a DURABLE-checkpoint continuation:
    * batch ids the checkpoint committed but the state table never
    * applied were folded only in memory by a session that died before
    * its flush — the stream will never re-present their landing files,
    * so the loss is permanent and must be loud, not a silently short
    * count. Batches that folded nothing still enter the pending marker
    * set (once the table exists — guaranteed from construction by
    * [[primeMarkerEvidence]]), so a committed-but-unmarked id after a
    * clean session end cannot occur. A MISSING table with a non-empty
    * commit log is the same loss in its most total form: every
    * committed batch's fold is gone (a pre-prime session died before
    * its first flush, or the table was removed out-of-band) — for a
    * quota that silence would even let the restart re-admit up to the
    * cap ON TOP of the lost session's still-on-disk outputs, so it too
    * must fail here, not downstream. */
  def requireNoLostFolds(statePath: String, ckptDir: String,
      what: String): Unit = {
    val committed = committedBatchIds(ckptDir)
    if (Fs.exists(statePath)) {
      val lost = (committed -- Upsert.appliedBatches(statePath)).toSeq.sorted
      require(lost.isEmpty,
        s"$what state at $statePath is missing the folds of checkpoint-" +
          s"committed batches ${lost.mkString(",")} — a prior session " +
          "group-committing its state died between flushes, and committed " +
          "landing files are never re-presented; restart from a fresh " +
          "statePath + checkpointDir (re-presenting all landing files), " +
          "or lower flushEvery to shrink this window")
    } else require(committed.isEmpty,
      s"the checkpoint at $ckptDir has committed batches " +
        s"${committed.toSeq.sorted.mkString(",")} but no $what state " +
        s"table exists at $statePath — every committed batch's fold is " +
        "lost (a prior session died before its construction-time " +
        "evidence write, or the table was removed), and committed " +
        "landing files are never re-presented; restart from a fresh " +
        "statePath + checkpointDir (re-presenting all landing files)")
  }

  /** Construction-time marker evidence for a DURABLE-checkpoint session:
    * when no state table exists at `statePath` yet, write a ZERO-ROW
    * table of the fold's flushed schema (no applied markers) BEFORE the
    * stream starts. Closes the first-flush crash window: a session that
    * dies before its first flush now leaves a table whose empty applied
    * set exposes every checkpoint-committed id to
    * [[requireNoLostFolds]], instead of no evidence at all — and an
    * empty-only session's flushes are no longer skipped by the
    * only-empty-folds-against-no-table guard, so its committed ids get
    * markers and a later healthy continuation is not mistaken for a
    * loss. Zero-row tables carry no embedded-parameter evidence (every
    * p_* fail-fast reads a DISTINCT set, empty for zero rows, treated
    * as absent), so priming never pins a budget/width the first real
    * flush didn't choose. Scratch-checkpoint sessions never prime: a
    * restart replays everything, so there is no loss to evidence — and
    * the write would be pure fixed cost on the bounded-replay path. */
  def primeMarkerEvidence(spark: SparkSession, statePath: String,
      schema: StructType): Unit =
    if (!Fs.exists(statePath))
      Upsert.mergeParquetBatches(spark, statePath,
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .coalesce(1),
        Set.empty)((_, updates) => updates)

  /** The cross-session guard of a runner over standing state: a SCRATCH
    * checkpoint restarts batch ids at 0, and against state that already
    * carries applied-batch markers a colliding id's NEW landing data
    * would be skipped as a replay — silent data loss — so that pairing
    * fails fast. Recovers a mid-swap crash first, or the recoverable
    * table looks missing and the guard passes vacuously. */
  private[streaming] def requireFreshOrDurable(statePath: String,
      what: String, checkpointDir: Option[String]): Unit = {
    Upsert.recoverStagedSwap(statePath)
    require(checkpointDir.nonEmpty || Upsert.appliedBatches(statePath).isEmpty,
      s"standing $what state at $statePath already carries applied-batch " +
        "markers and no durable checkpointDir was supplied — a scratch " +
        "checkpoint restarts batch ids at 0, which would collide with " +
        "the applied set and silently skip this session's data; pass " +
        "the prior session's checkpointDir (or start a fresh state path)")
  }

  /** The footer schema of the parquet files already in `landingDir`
    * ([[Fs.parquetSchema]]: one footer read on the driver, no job —
    * probe, don't assume: a hard-coded schema silently mis-reads a
    * re-encoded landing) or, for a dir with no file yet (a stream opened
    * before its first file lands), `fallback`, else `default`. */
  private[streaming] def landingSchema(spark: SparkSession, landingDir: String,
      fallback: Option[StructType], default: StructType): StructType =
    scala.util.Try(Fs.parquetSchema(spark, landingDir)).toOption
      .orElse(fallback).getOrElse(default)

  /** `landingDir` as a parquet file stream of `schema`, at most
    * `maxFilesPerTrigger` files per micro-batch when set. */
  private[streaming] def landing(spark: SparkSession, landingDir: String,
      schema: StructType, maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    reader.parquet(landingDir)
  }

  /** Run the bounded stream `source` to completion through `batch`
    * (a `foreachBatch` body) under `checkpointDir` — or, when none is
    * given, a scratch checkpoint that is deleted afterwards, also when
    * the stream failed (a caller-supplied durable checkpoint is KEPT: it
    * is the cross-session exactly-once state). `atEnd` runs after the
    * query stops, also when it failed — a half-run session still
    * flushes what it folded. Returns the highest batch id processed (-1
    * for none). */
  private[streaming] def runBounded(source: DataFrame,
      checkpointDir: Option[String])(batch: (DataFrame, Long) => Unit,
      atEnd: () => Unit = () => ()): Long = {
    val ckpt = checkpointDir.map(java.nio.file.Paths.get(_))
      .getOrElse(EventStreams.scratchDir("graft_ckpt_"))
    // foreachBatch runs driver-side, so the mutation is safe
    var lastBatchId = -1L
    try {
      val q = source.writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          lastBatchId = math.max(lastBatchId, batchId)
          batch(b, batchId)
        }
        .start()
      try q.processAllAvailable() finally { q.stop(); atEnd() }
    } finally if (checkpointDir.isEmpty) Maintenance.rmTree(ckpt.toFile)
    lastBatchId
  }

  /** [[runBounded]] folding every batch into the group-commit state at
    * `statePath`: the scratch guard ([[requireFreshOrDurable]]), the
    * lost-fold guard on a durable continuation, then ONE session fold
    * from `fold(flushEvery, durable)` — a scratch checkpoint flushes once
    * at session end (a restart replays everything anyway), a durable one
    * every [[DefaultFlushEvery]] batches — flushed after the stream
    * stops. `source` is opened after the guards. */
  private[streaming] def runFold(statePath: String, what: String,
      checkpointDir: Option[String], source: => DataFrame)(
      fold: (Int, Boolean) => StateFold): Long = {
    requireFreshOrDurable(statePath, what, checkpointDir)
    checkpointDir.foreach(requireNoLostFolds(statePath, _, what))
    val src = source
    val f = fold(if (checkpointDir.isEmpty) Int.MaxValue else DefaultFlushEvery,
      checkpointDir.nonEmpty)
    runBounded(src, checkpointDir)(f, () => f.flush())
  }
}
