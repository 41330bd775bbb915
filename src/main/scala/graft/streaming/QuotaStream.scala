package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Fs, Upsert}

/** Per-domain QUOTA admission over a bounded landing stream — the
  * continuous-ingest form of
  * [[graft.operators.Sampling.exactNPerStratum]]'s cap: every source
  * (domain) may contribute at most `capPerSource` admitted documents
  * ACROSS the whole stream, first-come-first-served. The mix recipe a
  * tokens-per-domain budget specifies, enforced while the corpus is
  * still arriving instead of by a full re-selection pass.
  *
  * State is ONE ROW PER SOURCE (`source`, `admitted`) — bounded by the
  * domain vocabulary, never the corpus — folded additively per batch
  * through [[Upsert.mergeParquet]]'s applied-batch markers. A replayed
  * batch is recognized BEFORE recomputation: its admitted subdir is
  * already exactly the rows the original attempt wrote (the per-batch
  * admission is a deterministic function of the batch and the
  * pre-batch state), and the state fold is a marker no-op — so crash
  * replay can neither double-count a source nor admit a different set.
  * Within a batch the admitted rows are the per-source doc_id-ascending
  * head of the REMAINING quota; `rk` carries each row's position in its
  * source's overall admitted sequence (prior count + in-batch rank).
  *
  * At 100 TB: the per-batch work is one window over the batch
  * (partitioned by source) plus a join against the |sources|-row state
  * table — broadcast-sized by construction; rejected rows are dropped,
  * not deferred (the quota is a budget, not a queue), so no state ever
  * grows with the corpus.
  *
  * Reference scope: the head-N cap of
  * `/root/reference/scripts/etl_snapshot_topn.py` (TOP_N slice),
  * generalized per-domain and made continuous.
  */
object QuotaStream {

  /** Hard row cap on the quota fold's per-batch driver-side collect of
    * the admitted set (the [[graft.operators.Dedup.InBatchPairCap]]
    * discipline): at or under, the collected probe is the full set and
    * the write + count fold are pure driver work; over, the fold falls
    * back to the executor-side write-then-aggregate shape. ~128k
    * (source, id, rk) rows ≈ a few MB — bounded transfer whatever
    * capPerSource·|sources| is configured to. */
  private[graft] val AdmitCollectCap = 131072

  /** Landing schema fallback when the dir holds no parquet file yet:
    * the documents shape this stream consumes. */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType)))

  /** The SESSION-scoped quota fold — [[runQuotaAdmission]]'s loop body,
    * exposed as a factory so it also plugs straight into
    * [[AdmissionStream.runAdmission]]'s `onBatchAdmitted` observer seam
    * (the dedup → quota composition of a continuous ingest: only
    * near-dup-admitted rows reach the quota, q160). Idempotent per
    * batchId: the state's applied markers gate the WHOLE fold, so a
    * replayed batch neither recomputes against post-fold counts nor
    * double-counts.
    *
    * Construction resolves the standing state ONCE — crash recovery,
    * the embedded-budget fail-fast, the applied set, and the
    * |sources|-row counts, collected to a DRIVER-SIDE map (bounded by
    * the domain vocabulary, the same budget as the broadcast the old
    * shape paid every batch) — and each batch then carries the counts
    * forward IN MEMORY: re-reading the state parquet every micro-batch
    * (plus its p_cap distinct and applied marker) was pure per-batch
    * fixed cost, the dominant term of the composed-ingest benches (the
    * q116 per-batch-FS-cost lesson). Per batch the ONLY full-plan job
    * left is the admission window's COLLECT (quota-bounded by
    * construction — see the fold body); the subdir write replays the
    * collected rows through a trivial local plan and the per-source
    * delta folds driver-side (no localCheckpoint, no read-back, no
    * state write). State
    * WRITES are GROUP-COMMITTED ([[StateFold]]): one mergeParquet
    * staged swap per `flushEvery` folded batches and at session end,
    * carrying the applied markers of every batch it covers. Sound under
    * the single-writer contract every artifact mutation here assumes:
    * within a session nothing else mutates the state, and a crash
    * restarts the session, which re-reads the table (markers included)
    * from disk — see [[StateFold]] for the group-commit durability
    * contract. */
  def quotaFold(spark: SparkSession, statePath: String, outPath: String,
      capPerSource: Long,
      flushEvery: Int = Int.MaxValue,
      durable: Boolean = false,
      collectCap: Int = AdmitCollectCap): StateFold = {
    Upsert.recoverStagedSwap(statePath)
    // durable-checkpoint sessions prime construction-time marker
    // evidence so a session that dies before its first flush is
    // detectable (StateFold's first-flush-window contract). The flag is
    // the SAME condition requireNoLostFolds guards on — keying priming
    // on flushEvery here let a durable fold with an infinite cadence
    // skip priming and then fail the restart's guard (the r19 advice
    // finding); a finite cadence still implies durability for callers
    // of the old contract.
    if (durable || flushEvery != Int.MaxValue)
      StateFold.primeMarkerEvidence(spark, statePath, StructType(Seq(
        StructField("source", StringType),
        StructField("admitted", LongType),
        StructField("p_cap", LongType))))
    val state =
      if (Fs.exists(statePath)) Some(spark.read.parquet(statePath))
      else None
    // embedded-parameter fail-fast (the index p_* discipline): counts
    // accumulated under one budget are not comparable under another — a
    // cap change needs a fresh state table. Checked at session start,
    // BEFORE any applied gate, so a replayed batch under a changed cap
    // fails loudly instead of silently serving the old budget's output.
    // p_cap is an RLE'd constant; the distinct is |sources|-bounded. An
    // empty distinct set is a ZERO-ROW state table (a legacy empty-batch
    // merge) — no evidence of a budget, treated as absent.
    state.foreach { st =>
      // a table WITHOUT the p_cap column: construction-time evidence
      // written with a markers-only schema (primeMarkerEvidence) —
      // tolerated when zero-row (no budget evidence; crashing here would
      // be unrecoverable, priming never rewrites an existing table). A
      // ROW-carrying table without p_cap is a pre-parameter legacy state
      // under an unknown budget and still fails fast.
      val caps =
        if (!st.columns.contains("p_cap")) {
          require(st.isEmpty,
            s"quota state at $statePath carries rows but no p_cap " +
              "column (a pre-parameter legacy table under an unknown " +
              "budget) — rebuild the state under an explicit cap")
          Set.empty[Long]
        } else st.select(col("p_cap")).filter(col("p_cap").isNotNull)
          .distinct().collect().map(_.getLong(0)).toSet
      require(caps.isEmpty || caps == Set(capPerSource),
        s"quota state at $statePath was built with capPerSource=" +
          s"${caps.mkString(",")}; refusing to fold with " +
          s"$capPerSource — start a new state table for a new budget")
    }
    var applied = Upsert.appliedBatches(statePath)
    val stateSchema = StructType(Seq(StructField("source", StringType),
      StructField("admitted", LongType)))
    // THE state: one long per source, |sources|-bounded by construction
    // (the same budget the old per-batch broadcast already collected)
    var counts: Map[String, Long] = state
      .map(_.select(col("source"), col("admitted")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
      .getOrElse(Map.empty)
    var pending = Set.empty[Long] // folded since the last flush
    var dirty = false             // counts changed since the last flush
    val assertLease = StateFold.takeLease(statePath, "quota")
    def countsDf(): DataFrame = {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(counts.toSeq.sortBy(_._1).map {
          case (src, n) => org.apache.spark.sql.Row(src, n) }: _*)
      spark.createDataFrame(rows, stateSchema)
    }
    def doFlush(): Unit =
      // only-empty-fold sessions against no standing table record
      // nothing (replaying those batches re-reaches the same empty
      // sets); once a table exists, a flush also marker-annotates
      // batches that folded nothing, keeping the applied set complete
      // for StateFold.requireNoLostFolds
      if (pending.nonEmpty && (dirty || Fs.exists(statePath))) {
        assertLease()
        Upsert.mergeParquetBatches(spark, statePath,
          countsDf().withColumn("p_cap", lit(capPerSource)).coalesce(1),
          pending)((_, updates) => updates)
        applied ++= pending
        pending = Set.empty
        dirty = false
      }

    new StateFold {
      // the applied-set gates the WHOLE batch: recomputing a replayed
      // batch against the post-fold counts would admit a smaller
      // (wrong) set — the original attempt's subdir stands
      override def apply(batch: DataFrame, batchId: Long): Unit =
        if (!applied.contains(batchId) && !pending.contains(batchId)) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("source")).orderBy(col("doc_id").asc)
          val admitted = batch.select(col("doc_id"), col("source"))
            .withColumn("__rn", row_number().over(w).cast("long"))
            .join(broadcast(countsDf()
              .withColumnRenamed("admitted", "__got")), Seq("source"), "left")
            .filter(col("__rn") <=
              lit(capPerSource) - coalesce(col("__got"), lit(0L)))
            .withColumn("rk", col("__rn") + coalesce(col("__got"), lit(0L)))
            .select(col("source"), col("doc_id"), col("rk"))
          // ONE evaluation of the admission window, COLLECTED when the
          // transfer is provably small: the post-filter set is
          // quota-bounded (≤ remaining budget ≤ capPerSource·|sources|
          // rows however large the batch), but that bound is a factor
          // capPerSource LARGER than the sources-sized state — a big cap
          // over many sources is a legitimate configuration, so the
          // collect is guarded by a hard row cap (limit probes cap+1;
          // at-or-under means the probe IS the full set). Under the cap,
          // both downstream uses are driver-side: the per-source delta
          // is a local fold, and the batchId-keyed subdir (a replayed
          // batch overwrites itself with the identical set —
          // exactly-once) writes the collected rows through one trivial
          // local plan instead of re-running the window plan and reading
          // the file back (two full-plan jobs per micro-batch of pure
          // driver latency, the composed-ingest fixed-cost lesson).
          // Sorted canonically so the written file is deterministic
          // across replays. Past the cap, the pre-r19 executor-side
          // shape: write the admitted frame (one canonical sorted file),
          // read the per-source delta back as a sources-bounded
          // aggregate — two extra jobs, paid only when the admitted set
          // is genuinely too big to move through the driver.
          // one-job bounded take (Dedup.takeBounded): limit+collect's
          // incremental executeTake paid ~log₄(partitions) extra
          // driver-latency jobs per micro-batch on the under-cap frame
          val head = graft.operators.Dedup.takeBounded(admitted, collectCap)
          if (head.length <= collectCap) {
            val rows = head
              .sortBy(r => (String.valueOf(r.getString(0)), r.getLong(1)))
            val local: java.util.List[org.apache.spark.sql.Row] =
              java.util.Arrays.asList(rows: _*)
            spark.createDataFrame(local, admitted.schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$outPath/batch-$batchId")
            if (rows.nonEmpty) {
              counts = rows.groupBy(_.getString(0)).foldLeft(counts) {
                case (m, (src, rs)) =>
                  m.updated(src, m.getOrElse(src, 0L) + rs.length) }
              dirty = true
            }
          } else {
            val subdir = s"$outPath/batch-$batchId"
            admitted.coalesce(1)
              .sortWithinPartitions(col("source"), col("doc_id"))
              .write.mode("overwrite").parquet(subdir)
            val delta = spark.read.parquet(subdir)
              .groupBy(col("source")).agg(count(lit(1)).as("n"))
              .collect() // |sources|-bounded
            if (delta.nonEmpty) {
              counts = delta.foldLeft(counts) { (m, r) =>
                val src = r.getString(0)
                m.updated(src, m.getOrElse(src, 0L) + r.getLong(1)) }
              dirty = true
            }
          }
          pending += batchId
          if (pending.size >= flushEvery) doFlush()
        }
      override def flush(): Unit = doFlush()
    }
  }

  /** Run a bounded landing stream to completion, admitting per-source
    * heads until each source's running count reaches `capPerSource`.
    * Returns the admitted rows (`source`, `doc_id`, `rk`) across all
    * batches of THIS run (stale higher-id batch subdirs from a prior,
    * longer run are swept, mirroring [[AdmissionStream.runAdmission]]). */
  def runQuotaAdmission(spark: SparkSession, landingDir: String,
      statePath: String, outPath: String, capPerSource: Long,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(capPerSource > 0, "capPerSource must be positive")
    // cross-session guard (ModelStream/GramianStream's contract): against
    // standing state with applied-batch markers, a SCRATCH checkpoint
    // restarts batch ids at 0 — a colliding id whose batch now contains
    // NEW landing files would be skipped by the marker, silently dropping
    // that data from the quota output
    Upsert.recoverStagedSwap(statePath)
    require(checkpointDir.nonEmpty
        || Upsert.appliedBatches(statePath).isEmpty,
      s"standing quota state at $statePath already carries applied-batch " +
        "markers and no durable checkpointDir was supplied — a scratch " +
        "checkpoint restarts batch ids at 0, which would collide with " +
        "the applied set and silently skip this session's data; pass " +
        "the prior session's checkpointDir (or start a fresh statePath)")
    val ckpt = checkpointDir.map(java.nio.file.Paths.get(_))
      .getOrElse(EventStreams.scratchDir("graft_quota_ckpt_"))
    // group-commit crash guard (durable continuations only): batches
    // the checkpoint committed but the state never applied died in
    // memory between flushes — fail loudly, the stream will never
    // re-present their landing files
    checkpointDir.foreach(c =>
      StateFold.requireNoLostFolds(statePath, c, "quota"))
    val landingSchema =
      scala.util.Try(spark.read.parquet(landingDir).schema).toOption
        .orElse(schemaFallback).getOrElse(defaultLandingSchema)
    val reader = spark.readStream.schema(landingSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    var lastBatchId = -1L
    // ONE session fold: standing counts + applied set resolved here,
    // carried across batches in memory; scratch-checkpoint runs flush
    // once at session end (a restart replays everything anyway),
    // durable ones bound the crash window at DefaultFlushEvery
    val fold = quotaFold(spark, statePath, outPath, capPerSource,
      flushEvery =
        if (checkpointDir.isEmpty) Int.MaxValue
        else StateFold.DefaultFlushEvery,
      durable = checkpointDir.nonEmpty)
    val q = reader.parquet(landingDir)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lastBatchId = math.max(lastBatchId, batchId)
        fold(batch, batchId)
        ()
      }
      .start()
    // flush in the finally: a half-run session persists what it folded
    try { q.processAllAvailable() } finally { q.stop(); fold.flush() }
    AdmissionStream.pruneStaleBatches(spark, outPath, lastBatchId)
    if (checkpointDir.isEmpty)
      graft.operators.Maintenance.rmTree(ckpt.toFile)
    val outP = new org.apache.hadoop.fs.Path(outPath)
    if (outP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(outP))
      spark.read.option("recursiveFileLookup", "true").parquet(outPath)
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("source", StringType),
          StructField("doc_id", LongType), StructField("rk", LongType))))
  }
}
