package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.{Dedup, Fs}

/** STREAMING ADMISSION — the continuous form of the incremental-ingest
  * dedup ([[Dedup.admitNewDocsWithIndex]]): a document stream lands in
  * micro-batches, each batch is near-dup-checked against the standing
  * corpus's materialized signature index, admitted docs append to the
  * output table AND their signatures fold back into the index — so the
  * next batch dedups against everything admitted before it, exactly the
  * invariant the batch API documents ("the index IS the kept set,
  * maintained by feeding admissions back").
  *
  * Engineered as `foreachBatch` over an append-only parquet index rather
  * than `flatMapGroupsWithState`: admission state is the CORPUS-sized
  * signature index, which belongs in storage shared across restarts, not
  * in per-key executor state (there is no bounded key horizon to
  * watermark it by — a duplicate can arrive years later). Each batch pays
  * |batch| shingling plus one band-filtered scan of the index — never a
  * re-shingle of history — which is what makes the loop viable when the
  * standing corpus is 100 TB and the stream is a firehose.
  *
  * Per-trigger job budget (bounded path, no tombstones): the batch
  * collect (the landing scan and hash — two jobs when the one-file
  * batch is spread over the cores first), the index collect (one
  * map-only scan), the two concurrent writes, and whatever the observer
  * runs (one job for [[TopNStream.boardFold]]) — six in all, and one
  * more index collect in a batch where a document shares a band with an
  * index id but matches none of its band-sharing rows (the id's other
  * rows verify too). Every verify runs on the driver
  * ([[Dedup.admitPrehashedBounded]]).
  *
  * Exactly-once: the index append and the admissions append are both
  * keyed by `batchId` subdirectories; a replayed micro-batch (failure
  * recovery re-runs the last uncommitted batch) overwrites its own
  * subdirectory instead of double-admitting — and the probe READS the
  * index tree MINUS the batch's own `batch-<id>` subdir, so signatures
  * a prior (failed or repeated) attempt of the SAME batch already wrote
  * never band-match the batch against itself (every doc is Jaccard 1.0
  * with its own signatures; probing them would reject the whole replay
  * and the overwrite would then silently drop it). The self-exclusion
  * makes the admission decision a pure function of the batch and the
  * PRIOR batches' index — replays, including a full re-invocation of
  * [[runAdmission]] against the same dirs (fresh checkpoint restarts
  * batchIds at 0), land the same admissions. Both tables are read with
  * recursiveFileLookup (plain nested dirs, no partition-column
  * inference), so a caller can seed `indexPath` with any subdirectory
  * name — `seed/` by convention — holding the standing corpus's
  * [[Dedup.nearDupIndex]].
  */
object AdmissionStream {

  /** Bound on each concurrent batch write's await: a hung write job
    * fails the batch (which the checkpoint then replays) instead of
    * wedging the foreachBatch thread — and with it session teardown —
    * forever. Generous: the writes are batch-sized appends that
    * normally finish in well under a second. */
  private[streaming] val WriteAwait =
    scala.concurrent.duration.Duration(10, scala.concurrent.duration.MINUTES)

  /** Run independent batch writes CONCURRENTLY (wall pays max, not sum)
    * with the calling thread's Spark job group COPIED onto each worker.
    * Job group / description are THREAD-locals: a job submitted from a
    * thread that does not carry them cannot be interrupted by
    * `q.stop()`'s cancelJobGroup and keeps writing through session
    * teardown. Each write runs on a thread of its own, started by the
    * caller, so it inherits the caller's local properties (Spark copies
    * them into a thread at its creation) — a pooled thread would carry
    * whatever its creator had set, long ago; each also sets the captured
    * group before its write. Each write is awaited with [[WriteAwait]],
    * and ALL are awaited before the first error is rethrown: no
    * in-flight sibling writer may outlive the batch (crash recovery
    * relies on a failed batch replaying and overwriting every subdir). */
  private[graft] def runConcurrentWrites(spark: SparkSession,
      writes: Seq[() => Unit]): Unit = {
    val sc = spark.sparkContext
    val callerGroup = sc.getLocalProperty("spark.jobGroup.id")
    val desc = sc.getLocalProperty("spark.job.description")
    val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    // always run the writes under SOME group: the caller's when present
    // (so `q.stop()`'s cancelJobGroup still reaches them), a dedicated
    // per-call group otherwise — a timed-out Await below must be able to
    // cancel the still-running write, or it outlives the batch and races
    // a same-JVM replay on the same subdir (the r20 ADVICE finding)
    val group = Option(callerGroup).getOrElse(
      "graft-concurrent-writes-" + java.util.UUID.randomUUID())
    val perWrite = scala.concurrent.ExecutionContext.fromExecutor { r =>
      val t = new Thread(r, "graft-concurrent-write")
      t.setDaemon(true)
      t.start()
    }
    val fs = writes.map(w => scala.concurrent.Future {
      sc.setJobGroup(group, desc, "true".equals(interrupt))
      w()
    }(perWrite))
    val outcomes = fs.map(f => scala.util.Try(
      scala.concurrent.Await.result(f, WriteAwait)))
    // on ANY timeout, cancel the writes' group before rethrowing so no
    // in-flight writer survives the failed batch (within a foreachBatch
    // the caller's group holds only this batch's jobs — the stream thread
    // is blocked right here — so the cancel cannot hit unrelated work)
    if (outcomes.exists(_.failed.toOption.exists(
        _.isInstanceOf[java.util.concurrent.TimeoutException])))
      sc.cancelJobGroup(group)
    outcomes.foreach(_.get)
  }

  /** The landing schema assumed when the landing dir holds no parquet
    * file yet (footer probing needs at least one file): the admission
    * document shape. A production firehose opens the stream BEFORE the
    * first file lands, so the empty-dir case must not throw. */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The index tree minus the batch's own subdir AND any LATER batch's —
    * the replay-idempotence read (see the object scaladoc): the decision
    * for batch b must be a function of the batches strictly BEFORE b.
    * Excluding only b's own subdir is enough for a mid-stream crash
    * replay (later subdirs don't exist yet), but a FULL re-invocation
    * starts over at batch 0 with the prior run's later subdirs still
    * standing — probing those would change batch 0's decisions (a doc
    * can match a LATER admission it never saw in the first run). So:
    * keep `batch-<id>` only for id < excludeBatchId; non-batch entries
    * (the seed) always read. */
  private def indexExcludingBatch(spark: SparkSession, indexPath: String,
      excludeBatchId: Long, tombstones: Option[DataFrame],
      indexSchema: Option[StructType] = None): DataFrame = {
    val base = new org.apache.hadoop.fs.Path(indexPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = fs.listStatus(base)
      .filterNot { st =>
        val n = st.getPath.getName
        // hidden entries (the tombstone table, markers) must never be
        // listed as data roots — an EXPLICIT path bypasses Spark's
        // hidden-file rule
        n.startsWith("_") || n.startsWith(".") ||
        (st.isDirectory && n.startsWith("batch-") &&
          scala.util.Try(n.stripPrefix("batch-").toLong).toOption
            .exists(_ >= excludeBatchId))
      }
      .map(_.getPath.toString)
    // the index schema is CONSTANT under a running session (fold-backs
    // append rows of the same shape), so the session resolves it once and
    // pins it here — re-inferring it per micro-batch re-reads parquet
    // footers over the whole tree, pure per-batch driver fixed cost
    val reader = spark.read
    indexSchema.foreach(reader.schema)
    // deleted-but-not-yet-compacted docs are masked from the probed set,
    // so a streamed document that matches ONLY deleted docs admits; the
    // table was resolved ONCE per session (deletes are a between-sessions
    // verb)
    Fs.masked(reader.option("recursiveFileLookup", "true").parquet(paths: _*),
      tombstones, "doc_id", "doc_id")
  }

  /** Drop `batch-<id>` subdirs with id STRICTLY AFTER the run's last
    * processed batch — the re-invocation stale-generation sweep, shared
    * with [[SemanticAdmission]]: a re-run over FEWER landing files than
    * the prior run (fresh checkpoint, ids restart at 0) overwrites only
    * the ids it reaches, and the prior run's higher-id subdirs would
    * otherwise stand in both the index tree and the output tree — the
    * final recursive read (and any later session's full-tree read)
    * would silently include those stale rows. Run AFTER the stream
    * stops. A run that processed ZERO batches (`lastBatchId = -1`) must
    * NOT sweep: opening the stream before the first file lands is an
    * explicitly supported production flow, and treating it as "everything
    * is stale" would destroy the prior session's entire admitted corpus —
    * only a run that actually re-processed batch 0 onward has re-derived
    * the state the sweep preserves. Non-batch entries (the seed,
    * compacted flat files) are never touched. */
  private[streaming] def pruneStaleBatches(spark: SparkSession, dir: String,
      lastBatchId: Long): Unit = {
    if (lastBatchId < 0) return
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) {
      fs.listStatus(base).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("batch-") &&
            scala.util.Try(n.stripPrefix("batch-").toLong).toOption
              .exists(_ > lastBatchId)) {
          fs.delete(st.getPath, true)
          ()
        }
      }
    }
  }

  /** The `batch-<id>` tree at `dir` as one frame of `schema` — the shape
    * the caller wrote it in, so the read infers nothing (a footer
    * inference is a job of its own) — read with recursiveFileLookup
    * (plain nested dirs, no partition-column inference); empty when
    * `dir` does not exist — a run of zero micro-batches (empty landing
    * dir) never creates it, and that result is simply empty, not an
    * error. */
  private[streaming] def readBatchTree(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.schema(schema).option("recursiveFileLookup", "true")
        .parquet(dir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
  }

  /** Run a bounded document stream to completion, admitting each
    * micro-batch against `indexPath` (a [[Dedup.nearDupIndex]] parquet
    * dir, extended in place as batches admit). Admitted rows append
    * under `outPath/batch-<id>/`. Returns the admitted docs frame.
    * `schemaFallback` is used when the landing dir has no parquet file
    * to probe yet ([[defaultLandingSchema]] if unset).
    *
    * Across SESSIONS, the safe continuation is a DURABLE `checkpointDir`
    * (the production deployment): batch ids then continue across
    * invocations — already-committed landing files are never
    * re-processed, new batches take fresh ids that can neither clobber a
    * prior `batch-<id>` subdir nor trip the stale-batch sweep, and the
    * self-exclusion stays correct by construction. The scratch default
    * is the SINGLE-GENERATION bounded replay (driver queries, specs): a
    * fresh checkpoint restarts ids at 0, which is only safe against the
    * same landing content (the replay the sweep and self-exclusion
    * handle). To continue a SCRATCH-mode index into a new session
    * anyway, compact BOTH trees first
    * ([[graft.operators.Maintenance.compactTree]] on the index — or let
    * `compactEvery` fold it during the run — and on the out tree):
    * folded files carry no batch id to clobber or sweep. Do NOT re-run
    * already-ingested landing files against a COMPACTED tree under a
    * scratch checkpoint — folded signatures can neither be
    * self-excluded nor swept, so the replay would band-match itself and
    * admit nothing; the durable checkpoint makes that impossible
    * (committed files are skipped at the source).
    *
    * Index lifecycle: every admitted batch adds one `batch-<id>` subdir,
    * and every later batch re-lists the whole tree — at firehose cadence
    * that is O(batches) file listings per batch, the classic small-files
    * death. `compactEvery = Some(n)` bounds it: whenever a batch starts
    * with ≥ n `batch-*` subdirs standing, the tree is folded into flat
    * target-sized files first ([[graft.operators.Maintenance.compactTree]],
    * staged-swap crash-safe), EXCLUDING the current batch's own subdir so
    * a replayed batch still never probes its prior attempt's signatures.
    * Listings stay O(n + files/128MB) per batch; admissions are unchanged
    * (the probe reads the same signature rows, flat or nested — the spec
    * pins compacted ≡ uncompacted).
    *
    * `onBatchAdmitted`: per-batch observer invoked AFTER the batch's
    * admissions and index fold-back commit, with (admitted rows carrying
    * EVERY landing column — source/metadata ride along, not just
    * (doc_id, text) — and the batchId). The composition point for
    * per-batch derived state — e.g. folding a [[CardStream]] partial of
    * only the admitted docs into a standing dataset card, the
    * continuous-ingest observability loop. The observer owns its own
    * exactly-once discipline (key whatever it writes by the batchId —
    * [[graft.operators.Upsert.mergeParquet]]'s applied markers do this);
    * a replayed batch re-invokes it with identical rows and the same id.
    *
    * `compactWhenTombstoneRatio`: the tombstone-PRESSURE policy
    * ([[Fs.overPressure]]) — deletes accumulate in the index's tombstone
    * table between sessions and every
    * probe pays the anti-join; when the deleted fraction of the
    * standing tree crosses this threshold, the session folds them
    * physically ONCE at start ([[Dedup.compactNearDupIndex]] —
    * pointer roots publish a new generation with ONE superseded
    * generation retained for in-flight readers). Checked at session
    * START only: deletes are a between-sessions verb, so the ratio
    * cannot change under a running session and a per-batch check
    * would be pure fixed cost. Same cross-session caveat as
    * `compactEvery`: under a SCRATCH checkpoint, do not re-run
    * already-ingested landing files against the folded tree (folded
    * signatures can neither be self-excluded nor swept). */
  def runAdmission(spark: SparkSession, landingDir: String,
      indexPath: String, outPath: String,
      shingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      compactEvery: Option[Int] = None,
      compactWhenTombstoneRatio: Option[Double] = None,
      checkpointDir: Option[String] = None,
      onBatchAdmitted: Option[(DataFrame, Long) => Unit] = None): DataFrame = {
    // ---- ONE artifact-state resolution per session ----
    // The session prologue previously paid one scan per VERB: the
    // pressure policy counted the tombstones and the index, the
    // parameter fail-fast re-scanned the index for its RLE'd constants,
    // and the tombstone mask read the table a second time — four jobs
    // where the artifact state is one tree + one side table. Now: the
    // tombstone table is read ONCE (distinct + pinned — the distinct
    // both dedups replayed deletes for the pressure numerator and
    // shrinks the per-batch anti-join's build side), and the index pays
    // ONE aggregate job carrying both the parameter evidence and the
    // pressure denominator. The pre-fold evidence stands for the
    // post-fold tree too: compaction carries the p_* columns through
    // unchanged, it only drops deleted rows.
    // (Pointer-root discipline unchanged: resolve the CURRENT
    // generation first — tombstones live inside it, and a root-level
    // read would union every retained superseded generation.)
    val pre = Fs.concrete(indexPath)
    val preTombs = Fs.tombstones(spark, pre, "doc_id")
      .map(_.distinct().localCheckpoint(true))
    val preFrame = scala.util.Try(
        spark.read.option("recursiveFileLookup", "true").parquet(pre))
      .toOption
    val standingRows = preFrame
      .map(ix => Dedup.validateIndexParamsAndCount(ix, shingleN, k,
        rowsPerBand,
        needCount = compactWhenTombstoneRatio.isDefined && preTombs.nonEmpty))
      .getOrElse(0L)
    // the session's index schema, resolved once off the prologue read and
    // pinned for every per-batch probe (fold-backs append the same shape;
    // a fired pressure fold carries every column through) — see
    // [[indexExcludingBatch]]'s per-batch footer-inference note
    val sessionIndexSchema = preFrame.map(_.schema)
    // tombstone-pressure fold (deletes are a between-sessions verb, so
    // the ratio is checked once at session start): a fired fold removes
    // the tombstone table WITH the deleted rows, so the session mask
    // below is None; the tombstones are counted off the pinned distinct
    // frame — no table re-read
    val folded = compactWhenTombstoneRatio.exists(theta =>
      preTombs.exists(tb => Fs.overPressure(tb.count(), standingRows, theta)))
    if (folded) Dedup.compactNearDupIndex(spark, indexPath, retain = Some(1))
    val landingSchema = StateFold.landingSchema(spark, landingDir,
      schemaFallback, defaultLandingSchema)
    // the concrete tree this SESSION works under, resolved AFTER the
    // pressure fold (a fired fold publishes a new generation on pointer
    // roots): probes read it, batch fold-backs blind-append into it
    // (the pointer protocol's allowed mutation — same discipline as
    // SemanticAdmission's stream/ subdirs)
    val concrete = Fs.concrete(indexPath)
    // the mid-stream fold stage-swaps the tree IN PLACE — on a pointer
    // root that would mutate a published (immutable) generation under
    // readers; between-sessions compaction (compactNearDupIndex, or the
    // pressure knob above) is the pointer-root maintenance path
    require(compactEvery.isEmpty || concrete == indexPath,
      s"compactEvery is an in-place mid-stream fold and $indexPath is a " +
        "pointer-committed root (generations are immutable once " +
        "published); compact between sessions via compactNearDupIndex " +
        "or compactWhenTombstoneRatio instead")
    // SESSION-scoped tombstone mask: the pinned pre-fold read (deletes
    // cannot change under a running session; a fired fold has no table
    // left to mask — re-resolving per micro-batch was pure fixed cost)
    val sessionTombstones = if (folded) None else preTombs
    // the highest batch id this run processed feeds the stale-generation
    // sweep after the stream stops
    val lastBatchId = StateFold.runBounded(StateFold.landing(spark,
        landingDir, landingSchema, maxFilesPerTrigger), checkpointDir) {
      (batch, batchId) =>
        // fold the standing index BEFORE probing once enough batch
        // subdirs accreted — never the current batch's own (see the
        // index-lifecycle note above)
        compactEvery.foreach { every =>
          val base = new org.apache.hadoop.fs.Path(concrete)
          val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val standingBatches = fs.listStatus(base).count(st =>
            st.isDirectory && st.getPath.getName.startsWith("batch-") &&
              st.getPath.getName != s"batch-$batchId")
          if (standingBatches >= every) {
            graft.operators.Maintenance.compactTree(spark, concrete,
              keepSubdirs = Set(s"batch-$batchId"))
            ()
          }
        }
        // the landing scan is cheap to re-run (one small parquet file per
        // trigger) — the EXPENSIVE shared work is the signature hash,
        // held below; eagerly checkpointing the raw batch too was one
        // more per-batch job for no saved compute
        val docs = batch.select(col("doc_id"), col("text"))
        // hash the batch ONCE (signatures feed the probe AND the index
        // fold-back — rebuilding them per use would shingle the batch
        // twice per micro-batch): the batch collect, one bounded take
        // that brings the signature rows to the driver, where the probe
        // reads them and the fold-back writes them (a LocalRelation — no
        // plan re-runs the hash, and no pin needs a job or a release).
        // The admitted SET is then driver-side when bounded (the common
        // case — an in-batch admitted set is micro-batch-sized): the
        // index collect plus a driver-side verify, and every consumer
        // below filters with an isInCollection — no join, no broadcast
        // job. A batch past Dedup's payload bound is pinned instead and
        // goes straight to the distributed path (its take has already
        // crossed the bound; taking it again would hash it twice), whose
        // admitted frame the consumers semi-join against, pinned once.
        val hashed = Dedup.nearDupIndex(docs, col("doc_id"), col("text"),
          shingleN, k, rowsPerBand)
        val index = indexExcludingBatch(spark, concrete, batchId,
          sessionTombstones, sessionIndexSchema)
        val (sigs, admitted) = Dedup.heldLocally(hashed) match {
          case Some(held) =>
            (held, Dedup.admitPrehashedBounded(held, index, threshold))
          case None =>
            val pinned = hashed.localCheckpoint(false)
            (pinned, Right(Dedup.admitPrehashed(pinned, index, threshold)))
        }
        val keep = Dedup.admittedFilter(admitted, "doc_id")
        // batchId-keyed subdirs: a replayed batch overwrites itself
        // (exactly-once) instead of appending duplicates. The two
        // appends are INDEPENDENT (both read only the held sigs / the
        // landing file, write disjoint dirs) and each is a small
        // driver-latency-bound job, so they run CONCURRENTLY through
        // [[runConcurrentWrites]] (wall pays max, not sum; job group
        // propagated, awaits bounded, both awaited before rethrow).
        // Fold-back = the SAME signature rows, filtered to the admitted
        // ids under the sigs schema (parameter columns ride along) — no
        // re-shingle.
        runConcurrentWrites(spark, Seq(
          () => keep(docs).write.mode("overwrite")
            .parquet(s"$outPath/batch-$batchId"),
          () => keep(sigs)
            .write.mode("overwrite").parquet(s"$concrete/batch-$batchId")))
        // observer sees the admitted rows with EVERY landing column (the
        // raw batch, filtered to the admitted ids) — after the admission
        // state commits, so its view is never ahead of the tree
        onBatchAdmitted.foreach(_(keep(batch), batchId))
    }
    // a re-run over fewer landing files leaves the prior run's
    // higher-id batch subdirs standing in both trees — sweep them so
    // the final read (and the standing index) reflect THIS run only
    pruneStaleBatches(spark, concrete, lastBatchId)
    pruneStaleBatches(spark, outPath, lastBatchId)
    readBatchTree(spark, outPath,
      StructType(Seq("doc_id", "text").flatMap(n =>
        landingSchema.find(_.name == n))))
  }
}
