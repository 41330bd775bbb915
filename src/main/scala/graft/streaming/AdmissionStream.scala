package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * Session-resident index view: the session collects the index once
  * ([[Dedup.IndexView]], within [[Dedup.BoundedPayload]]), probes each
  * batch against it on the driver ([[Dedup.admitHeld]]) and appends each
  * batch's admitted signatures to it once its writes commit, so
  * per-batch state reuses the last batch's work instead of re-scanning
  * the tree. A view that would cross the bound, or a batch decided off
  * it, drops it; the session then probes the tree per batch, as one
  * whose index is too big from the start does (the tree's footers
  * decide that before anything is taken).
  *
  * Per-trigger job budget (view held, no tombstones): the batch collect
  * (the landing scan and hash — two jobs when the one-file batch is
  * spread over the cores first), the two concurrent writes, and
  * whatever the observer runs (one job for [[TopNStream.boardFold]]) —
  * five in all. Probing the tree adds the index collect (one map-only
  * scan) and one more in a batch where a document shares a band with
  * an index id but matches none of its band-sharing rows (the id's
  * other rows verify too); every verify still runs on the driver
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
  * PRIOR batches' index (the view applies the same rule to each held
  * row's origin) — replays, including a full re-invocation of
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

  /** The index tree's top-level data entries, each with its origin: the
    * id of a `batch-<id>` subdir, −1 for anything else (the seed,
    * compacted flat files). Hidden entries (the tombstone table, markers)
    * are never data roots — an EXPLICIT path bypasses Spark's
    * hidden-file rule. */
  private def treeEntries(spark: SparkSession,
      indexPath: String): Seq[(String, Long)] = {
    val base = new org.apache.hadoop.fs.Path(indexPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(base).toSeq.flatMap { st =>
      val n = st.getPath.getName
      val origin =
        if (st.isDirectory && n.startsWith("batch-"))
          scala.util.Try(n.stripPrefix("batch-").toLong).getOrElse(-1L)
        else -1L
      if (n.startsWith("_") || n.startsWith(".")) None
      else Some(st.getPath.toString -> origin)
    }
  }

  /** `paths` read as one index frame, with recursiveFileLookup under the
    * session's pinned `indexSchema` (fold-backs append rows of the same
    * shape, so re-inferring it per micro-batch would re-read footers for
    * nothing). */
  private def readIndex(spark: SparkSession, paths: Seq[String],
      indexSchema: Option[StructType]): DataFrame = {
    val reader = spark.read.option("recursiveFileLookup", "true")
    indexSchema.foreach(reader.schema)
    reader.parquet(paths: _*)
  }

  /** The index tree minus the batch's own subdir AND any LATER batch's —
    * the replay-idempotence read (see the object scaladoc): the decision
    * for batch b must be a function of the batches strictly BEFORE b.
    * Excluding only b's own subdir is enough for a mid-stream crash
    * replay (later subdirs don't exist yet), but a FULL re-invocation
    * starts over at batch 0 with the prior run's later subdirs still
    * standing — probing those would change batch 0's decisions (a doc
    * can match a LATER admission it never saw in the first run). So:
    * keep the entries of origin < `excludeBatchId` ([[treeEntries]]; the
    * seed always reads). Deleted-but-not-yet-compacted docs are masked,
    * so a streamed document that matches ONLY deleted docs admits; the
    * table was resolved ONCE per session (deletes are a between-sessions
    * verb). */
  private def indexExcludingBatch(spark: SparkSession, indexPath: String,
      excludeBatchId: Long, tombstones: Option[DataFrame],
      indexSchema: Option[StructType]): DataFrame =
    Fs.masked(readIndex(spark, treeEntries(spark, indexPath)
        .collect { case (p, o) if o < excludeBatchId => p }, indexSchema),
      tombstones, "doc_id", "doc_id")

  /** The session's index view ([[Dedup.IndexView]]): the tree's
    * (doc_id, bands, sh, p_*) rows, each tagged with its origin
    * ([[treeEntries]]), brought back by one [[Dedup.boundedRows]] take,
    * with the parameter fail-fast run over them; and the deleted ids,
    * one more take when a tombstone table stands. Returns the view with
    * the deletes masked, the tree's row count (the pressure denominator)
    * and the distinct deleted ids (its numerator). None for non-long ids,
    * or when either table weighs more than [[Dedup.BoundedPayload]] —
    * decided from the footers ([[Fs.footerWeight]]) before anything is
    * taken, so a session past the bound brings no index row to the
    * driver: it probes the tree. */
  private def indexView(spark: SparkSession, indexPath: String,
      indexSchema: StructType, tombstones: Option[DataFrame], shingleN: Int,
      k: Int, rowsPerBand: Int): Option[(Dedup.IndexView, Long, Long)] = {
    val params = Seq("p_shingle_n", "p_k", "p_rows_per_band")
      .filter(indexSchema.fieldNames.contains)
    val longIds = (indexSchema +: tombstones.map(_.schema).toSeq)
      .forall(_.find(_.name == "doc_id").exists(_.dataType == LongType))
    val fits = longIds &&
      Fs.footerWeight(spark, indexPath, Set("bands", "sh")) <=
        Dedup.BoundedPayload &&
      tombstones.forall(_ => Fs.footerWeight(spark,
        s"$indexPath/${Fs.TombstonesSubdir}", Set.empty) <= Dedup.BoundedPayload)
    val tombIds = if (!fits) None
      else tombstones.fold(Option(Seq.empty[Row]))(Dedup.boundedRows(_))
    tombIds.flatMap { tids =>
      val frame = treeEntries(spark, indexPath).groupMap(_._2)(_._1).toSeq
        .map { case (origin, paths) =>
          readIndex(spark, paths, Some(indexSchema))
            .select((Seq("doc_id", "bands", "sh") ++ params).map(col) :+
              lit(origin).as("origin"): _*)
        }.reduceOption(_ unionByName _)
      val taken = frame.fold(Option(Seq.empty[Row]))(Dedup.boundedRows(_))
      taken.map { rows =>
        if (params.size == 3)
          Dedup.requireIndexParams(rows.iterator
            .filter(r => (3 to 5).forall(!r.isNullAt(_)))
            .map(r => (r.getInt(3), r.getInt(4), r.getInt(5))).toSet,
            shingleN, k, rowsPerBand)
        val deleted = tids.map(r => Option(r.get(0))).distinct
        (Dedup.IndexView(rows, frame.fold(indexSchema)(_.schema),
            _.getLong(3 + params.size),
            deleted.flatten.map(_.asInstanceOf[Long]).toSet),
          rows.size.toLong, deleted.size.toLong)
      }
    }
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
    // (Pointer-root discipline: resolve the CURRENT generation first —
    // tombstones live inside it, and a root-level read would union every
    // retained superseded generation.) The index schema comes from one
    // footer on the driver and is pinned for every read of the tree
    // (fold-backs append the same shape; a fired pressure fold carries
    // every column through).
    val pre = Fs.concrete(indexPath)
    val sessionIndexSchema = scala.util.Try(
      Fs.parquetSchema(spark, pre, recursive = true)).toOption
    val tombs = Fs.tombstones(spark, pre, "doc_id")
    // the session-resident view: one collect of the tree, which also
    // carries the parameter evidence and both pressure counts
    val viewed = sessionIndexSchema.flatMap(indexView(spark, pre, _, tombs,
      shingleN, k, rowsPerBand))
    // without a view, today's prologue: the tombstone table read ONCE
    // (distinct + pinned — the distinct dedups replayed deletes for the
    // pressure numerator and shrinks the per-batch anti-join's build
    // side) and ONE aggregate over the tree for the parameter evidence
    // and the pressure denominator. The pre-fold evidence stands for the
    // post-fold tree too: compaction carries the p_* columns through
    // unchanged, it only drops deleted rows.
    val preTombs = if (viewed.isEmpty)
      tombs.map(_.distinct().localCheckpoint(true)) else None
    val standingRows = viewed.fold(sessionIndexSchema.fold(0L)(sc =>
      Dedup.validateIndexParamsAndCount(readIndex(spark, Seq(pre), Some(sc)),
        shingleN, k, rowsPerBand,
        needCount = compactWhenTombstoneRatio.isDefined && tombs.nonEmpty)))(
      _._2)
    // tombstone-pressure fold (deletes are a between-sessions verb, so
    // the ratio is checked once at session start): a fired fold removes
    // the tombstone table WITH the deleted rows, so the session mask
    // below is None, and every held row is standing after it
    val folded = compactWhenTombstoneRatio.exists(theta => tombs.nonEmpty &&
      Fs.overPressure(viewed.fold(preTombs.fold(0L)(_.count()))(_._3),
        standingRows, theta))
    if (folded) Dedup.compactNearDupIndex(spark, indexPath, retain = Some(1))
    var view = viewed.map { case (v, _, _) =>
      if (folded) new Dedup.IndexView(v.compacted(-1L).sigs, Set.empty) else v
    }
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
    // SESSION-scoped tombstone mask of the tree probe: the pre-fold
    // deletes (they cannot change under a running session; a fired fold
    // has no table left to mask) — the view's held ids as a local frame,
    // or the pinned read
    val sessionTombstones = if (folded) None else view.fold(preTombs)(v =>
      Some(v.tombstoned.toSeq).filter(_.nonEmpty).map(ids =>
        spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
          StructType(Seq(StructField("doc_id", LongType))))))
    // the highest batch id this run processed feeds the stale-generation
    // sweep after the stream stops
    val lastBatchId = StateFold.runBounded(StateFold.landing(spark,
        landingDir, landingSchema, maxFilesPerTrigger), checkpointDir) {
      (batch, batchId) =>
        // fold the standing index BEFORE probing once enough batch
        // subdirs accreted — never the current batch's own (see the
        // index-lifecycle note above); the view mirrors the fold
        compactEvery.foreach { every =>
          val standingBatches = treeEntries(spark, concrete)
            .count { case (_, o) => o >= 0 && o != batchId }
          if (standingBatches >= every) {
            graft.operators.Maintenance.compactTree(spark, concrete,
              keepSubdirs = Set(s"batch-$batchId"))
            view = view.map(_.compacted(batchId))
          }
        }
        // the landing scan is cheap to re-run (one small parquet file per
        // trigger) — the EXPENSIVE shared work is the signature hash,
        // held below
        val docs = batch.select(col("doc_id"), col("text"))
        // hash the batch ONCE (signatures feed the probe AND the index
        // fold-back): the batch collect, one bounded take that brings the
        // signature rows to the driver, where the probe reads them and
        // the fold-back writes them (a LocalRelation — no plan re-runs
        // the hash). With the view held the probe runs no job
        // ([[Dedup.admitHeld]]); without it, the index collect plus a
        // driver-side verify ([[Dedup.admitPrehashedBounded]]). Every
        // consumer below filters with an isInCollection of the admitted
        // ids — no join, no broadcast job. A batch past Dedup's payload
        // bound is pinned instead and goes straight to the distributed
        // path (its take has already crossed the bound; taking it again
        // would hash it twice), whose admitted frame the consumers
        // semi-join against, pinned once.
        val hashed = Dedup.nearDupIndex(docs, col("doc_id"), col("text"),
          shingleN, k, rowsPerBand)
        def index = indexExcludingBatch(spark, concrete, batchId,
          sessionTombstones, sessionIndexSchema)
        val taken = Dedup.boundedRows(hashed)
        // the batch's rows held for the view probe, which reads long ids
        // (admitPrehashedBounded routes any other id type to the
        // distributed path)
        val held = for {
          _ <- view; rows <- taken
          if hashed.schema("doc_id").dataType == LongType
        } yield Dedup.HeldSig.of(rows, hashed.schema, _ => batchId)
        val (sigs, admitted) = taken match {
          case Some(rows) =>
            val local = Dedup.heldFrame(hashed, rows)
            (local, view.zip(held).fold(
              Dedup.admitPrehashedBounded(local, index, threshold)) {
              case (v, nw) => Dedup.admitHeld(nw, v, batchId, threshold)(
                Dedup.admitPrehashed(local, index, threshold))
            })
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
        // re-shingle; held rows land as ONE file per batch (a held frame
        // otherwise splits over the cores), so the tree, and a later
        // session's view collect, read one file per fold-back.
        val foldBack = keep(sigs)
        runConcurrentWrites(spark, Seq(
          () => keep(docs).write.mode("overwrite")
            .parquet(s"$outPath/batch-$batchId"),
          () => (if (taken.isDefined) foldBack.coalesce(1) else foldBack)
            .write.mode("overwrite").parquet(s"$concrete/batch-$batchId")))
        // the committed fold-back joins the view (its rows are already
        // held); a batch decided off the view, or a view that would cross
        // the payload bound, drops it and later batches probe the tree
        view = for {
          v <- view; nw <- held; ids <- admitted.left.toOption.map(_.toSet)
          next <- v.landed(batchId, nw.filter(r => ids(r.id)))
        } yield next
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
