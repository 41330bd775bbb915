package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.{Dedup, Fs, Similarity}

/** STREAMING SEMANTIC ADMISSION — [[AdmissionStream]]'s continuous-ingest
  * loop moved into embedding space, composed with the ANN index artifact:
  * a vector stream lands in micro-batches, each batch is cosine-near-dup
  * checked ([[Dedup.admitNewVecs]] — cell blocking under the artifact's
  * FROZEN centroids) against the standing [[Similarity.writeIvfFlatIndex]]
  * assignments, admitted vectors append to the output table AND their
  * index rows fold back — so the next batch dedups against everything
  * admitted before it. This is the SemDeDup ingest gate: a paraphrase of
  * an already-admitted document is rejected even though it shares no
  * n-grams with it (the case [[AdmissionStream]]'s MinHash gate cannot
  * see).
  *
  * Same state discipline as the text loop: admission state is the
  * corpus-sized index in shared storage, not executor state (no key
  * horizon bounds a years-later duplicate); each batch pays |batch|
  * assignment plus probes bounded by the touched cells' rows. Exactly-once
  * is the batchId-subdir pattern — output and fold-back rows land under
  * `batch-<id>` (a replayed batch overwrites itself), and the probe reads
  * the streamed tree MINUS the batch's own subdir, so a prior attempt's
  * rows never self-match the replay (every vector is cosine 1.0 with
  * itself; probing them would reject the whole batch and the overwrite
  * would silently drop it — the [[AdmissionStream]] lesson).
  *
  * Index layout: `indexPath/centroids` + `indexPath/assignments` are the
  * seeded artifact (untouched); admissions fold into
  * `indexPath/stream/batch-<id>/` with `cell` as a DATA column — probe
  * pruning on the streamed rows is row-group min/max, not directory
  * partitioning. At firehose cadence the streamed tree accretes one
  * subdir per batch; [[Similarity.compactIvfFlatIndex]]'s fold-back is
  * the maintenance shape (run between ingest sessions).
  */
object SemanticAdmission {

  /** Landing schema fallback for an empty landing dir (stream opened
    * before the first file lands — footer probing needs a file). */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** The streamed index rows from batches strictly BEFORE this one — the
    * replay-idempotence read: batch b's decision must be a function of
    * the PRIOR batches only. Excluding just b's own subdir handles a
    * mid-stream crash replay; a FULL re-invocation restarts at batch 0
    * with the prior run's later subdirs still standing, and probing
    * those would change batch 0's survivor set (a vector can match a
    * LATER admission it never saw first time). Empty (None) when no
    * prior batch has landed. */
  private def streamedExcludingBatch(spark: SparkSession, indexPath: String,
      excludeBatchId: Long): Option[DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(s"$indexPath/stream")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) None
    else {
      val paths = fs.listStatus(base)
        .filter { st =>
          val n = st.getPath.getName
          st.isDirectory && (!n.startsWith("batch-") ||
            scala.util.Try(n.stripPrefix("batch-").toLong).toOption
              .exists(_ < excludeBatchId))
        }
        .map(_.getPath.toString)
      if (paths.isEmpty) None
      else Some(spark.read.parquet(paths.toIndexedSeq: _*)
        .select(col("cell"), col("vec_id"), col("embedding"), col("c_norm")))
    }
  }

  /** Fold the streamed admission rows (`stream/batch-*`) into the
    * artifact's cell-partitioned `assignments` table and drop the
    * streamed tree — [[Similarity.compactIvfFlatIndex]]'s staged-swap
    * fold pointed at this loop's layout. Bounds the O(batches) subdir
    * listing growth; admissions afterwards are identical (the standing
    * set is seed ∪ admitted either way — pinned by spec). Run BETWEEN
    * ingest sessions, never concurrently with one: a mid-stream fold
    * would move a replaying batch's own prior rows into `assignments`,
    * where the self-exclusion cannot see them. */
  def compactStream(spark: SparkSession, indexPath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    Similarity.compactIvfFlatIndex(spark, indexPath, targetFileBytes,
      streamedSubdir = "stream", recursiveStreamed = true)

  /** Run a bounded vector stream to completion, admitting each
    * micro-batch against the `indexPath` artifact (seeded by
    * [[Similarity.writeIvfFlatIndex]]; extended under `stream/` as
    * batches admit). Admitted rows land under `outPath/batch-<id>/`;
    * returns the admitted vectors frame. */
  /** `compactWhenTombstoneRatio` — [[AdmissionStream.runAdmission]]'s
    * tombstone-pressure policy for this loop: when the deleted fraction
    * of the standing assignments crosses the threshold at session
    * START, [[compactStream]] folds deletes (and any prior session's
    * streamed rows) physically before the first batch. Same
    * cross-session caveat as running compactStream between sessions:
    * under a SCRATCH checkpoint, do not re-run already-ingested
    * landing files against the folded tree. */
  def runAdmission(spark: SparkSession, landingDir: String,
      indexPath: String, outPath: String,
      threshold: Double = 0.95,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      compactWhenTombstoneRatio: Option[Double] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    // cross-session contract = AdmissionStream's: a DURABLE checkpoint
    // continues batch ids (committed landing files skipped, no clobber,
    // sweep trivially safe); the scratch default is the
    // single-generation bounded replay
    // ---- ONE artifact-state resolution per session (the
    // AdmissionStream consolidation, vector form): the tombstone table
    // is read once — distinct + pinned, feeding both the pressure
    // numerator and the seed mask — instead of once per verb.
    // Pointer-committed roots keep tombstones AND assignments inside
    // the CURRENT generation (deleteFromAnnIndex resolves before its
    // blind append) — probe there, not at the root, or the fold
    // silently never fires on pointer roots (the AnnIngest discipline).
    val pre = Fs.concrete(indexPath)
    val preTombs = Fs.tombstones(spark, pre, "vec_id")
      .map(_.distinct().localCheckpoint(true))
    // the seed assignments, read ONCE under their footer schema (no
    // inference job): the pressure denominator counts this read and the
    // seed mask below probes it
    def assignments(dir: String) = {
      val p = s"$dir/assignments"
      spark.read.schema(Fs.parquetSchema(spark, p)).parquet(p)
    }
    val preAsg = scala.util.Try(assignments(pre)).toOption
    // a fired fold removes the tombstone table with the deleted rows,
    // so the seed mask below is None (tombstones counted off the pinned
    // distinct — no re-read)
    val folded = compactWhenTombstoneRatio.exists(theta =>
      preTombs.exists(tb => Fs.overPressure(tb.count(),
        preAsg.fold(0L)(_.count()), theta)))
    if (folded) compactStream(spark, indexPath)
    val landingSchema = StateFold.landingSchema(spark, landingDir,
      schemaFallback, defaultLandingSchema)
    // the concrete generation this SESSION works under, resolved once
    // AFTER the pressure fold (a fired fold publishes a new generation):
    // seed assignments are read from it, and the streamed fold-back
    // subdirs land inside it — blind appends into the current
    // generation are the pointer protocol's allowed mutation, and
    // [[compactStream]] folds `stream/` from the resolved generation too
    val concrete = Fs.concrete(indexPath)
    // the frozen quantizer: read ONCE — the loop assigns every batch
    // under the artifact's centroids, never re-derives them
    // (readCentroids resolves pointer roots itself)
    val centroids = Similarity.readCentroids(spark, indexPath)
    // tombstoned vectors (Similarity.deleteFromAnnIndex against this
    // artifact) are masked from the probed standing set, so a streamed
    // vector that matched ONLY deleted vectors admits; the pinned
    // pre-fold read — deletes are a between-sessions verb, like the
    // centroids. A fired fold rewrote the table, which is then read
    // afresh from the concrete tree.
    val seedAsg = Fs.masked(
      preAsg.filterNot(_ => folded).getOrElse(assignments(concrete))
        .select(col("cell"), col("vec_id"), col("embedding"), col("c_norm")),
      if (folded) None else preTombs, "vec_id", "vec_id")
    // the highest batch id this run processed feeds the stale-generation
    // sweep below
    val lastBatchId = StateFold.runBounded(StateFold.landing(spark,
        landingDir, landingSchema, maxFilesPerTrigger), checkpointDir) {
      (batch, batchId) =>
        // assign the batch ONCE under the frozen quantizer (the rows
        // feed the probe, the admitted output AND the index fold-back —
        // re-assigning per use would run the argmin pass thrice). A
        // LAZY localCheckpoint: the probe's first job over the batch
        // (the touched-cells collect inside
        // admitNewVecsPreassignedBounded) materializes every partition
        // into executor storage as a side effect — the standalone
        // EAGER per-batch checkpoint action was one more driver-latency
        // job per micro-batch for no saved compute (downstream plans
        // still read a LogicalRDD, blocks context-cleaner-reclaimed; a
        // lazy checkpoint still runs the jobs of any exchange in the
        // plan, which the assignment has none of).
        val asg = Similarity.assignCells(
            batch.select(col("vec_id"), col("embedding")), centroids)
          .localCheckpoint(false)
        val standing = streamedExcludingBatch(spark, concrete, batchId)
          .map(seedAsg.unionByName(_)).getOrElse(seedAsg)
        // admitted vec_ids driver-side when bounded (the AdmissionStream
        // fused shape): the two appends below then filter the assignment
        // rows with an isInCollection — no admitted-frame checkpoint, no
        // join, no broadcast job. Past the cap / non-long ids the
        // distributed frame comes back and they semi-join against it,
        // pinned once.
        val keep = Dedup.admittedFilter(
          Dedup.admitNewVecsPreassignedBounded(asg, standing, threshold),
          "vec_id")
        val admittedAsg = keep(asg)
        // the two appends are independent projections of the admitted
        // assignments into disjoint dirs — run concurrently
        // through [[AdmissionStream.runConcurrentWrites]] (wall pays
        // max, not sum; job group propagated, awaits bounded, both
        // awaited before rethrow; recovery unchanged: either missing ⇒
        // the batch replays and overwrites both). Fold-back = the SAME
        // assignment rows filtered to admitted ids.
        AdmissionStream.runConcurrentWrites(spark, Seq(
          () => admittedAsg.select(col("vec_id"), col("embedding"))
            .write.mode("overwrite").parquet(s"$outPath/batch-$batchId"),
          () => admittedAsg
            .select(col("cell"), col("vec_id"), col("embedding"), col("c_norm"))
            .write.mode("overwrite")
            .parquet(s"$concrete/stream/batch-$batchId")))
    }
    // a re-run over fewer landing files than the prior run leaves that
    // run's higher-id batch subdirs standing in the streamed index tree
    // and the output tree — sweep them so the final read (and any later
    // session's full-tree read) reflects THIS run only
    AdmissionStream.pruneStaleBatches(spark, s"$concrete/stream", lastBatchId)
    AdmissionStream.pruneStaleBatches(spark, outPath, lastBatchId)
    AdmissionStream.readBatchTree(spark, outPath,
      StructType(Seq("vec_id", "embedding").flatMap(n =>
        landingSchema.find(_.name == n))))
  }
}
