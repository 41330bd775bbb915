package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Upsert

/** A session-scoped micro-batch state fold whose standing-table writes
  * are GROUP-COMMITTED: each batch folds into driver-held state (bounded
  * by construction — per-source counts, an n×|sources| board, a
  * |sources|-row card), and the parquet state table is staged-swap
  * written only every `flushEvery` folded batches and at session end,
  * with the applied-batch markers for EVERY batch the write covers.
  *
  * Rationale: the fold state here is |sources|-bounded, so the per-batch
  * cost of the old write-every-batch discipline was pure fixed overhead
  * — one Spark write job + one staged swap per micro-batch that a real
  * deployment amortizes over many batches (group commit, the WAL
  * batching of databases). The EXACTLY-ONCE story is unchanged in kind:
  * a flushed marker set and its data always commit in the same rename.
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
  *    construction ([[StateFold.primeMarkerEvidence]]): when no state
  *    table exists yet, a ZERO-ROW table is written before the stream
  *    starts, so even a session that dies before its FIRST flush leaves
  *    the table whose (empty) applied set exposes every
  *    checkpoint-committed id as lost. There is no undetected window:
  *    a missing table plus a non-empty commit log is itself reported
  *    as loss by the guard.
  *
  * A replayed batch (crash between a flush and the checkpoint commit)
  * is gated exactly as before: the in-memory applied set is the union
  * of the table's markers and this session's folds, so the replay
  * neither recomputes nor double-counts.
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

  /** Batch ids the streaming checkpoint at `ckptDir` has committed
    * (empty when the checkpoint doesn't exist yet). The commit log is
    * one numeric-named file per committed batch under `commits/`. */
  def committedBatchIds(ckptDir: String): Set[Long] =
    graft.operators.Fs.listNames(s"$ckptDir/commits")
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
    graft.operators.Fs.writeText(leasePath, nonce)
    () => {
      val held = graft.operators.Fs.readText(leasePath).map(_.trim)
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
    if (graft.operators.Fs.exists(statePath)) {
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
  def primeMarkerEvidence(spark: org.apache.spark.sql.SparkSession,
      statePath: String, schema: org.apache.spark.sql.types.StructType): Unit =
    if (!graft.operators.Fs.exists(statePath))
      Upsert.mergeParquetBatches(spark, statePath,
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          schema).coalesce(1),
        Set.empty)((_, updates) => updates)
}
