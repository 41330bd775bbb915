package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.{Fs, Similarity}

/** STREAMING ANN INGEST — the continuous form of
  * [[Similarity.appendToIvfFlatIndex]], completing the index-lifecycle
  * symmetry with the dedup stack ([[AdmissionStream]] : incremental
  * admission :: this : incremental index append): embedding vectors land
  * in micro-batches, each batch is assigned a cell under the standing
  * artifact's FROZEN centroids, and the assignments append to
  * `indexPath/assignments_stream/` — which [[Similarity.ivfFlatProbe]]
  * reads alongside the batch-built `assignments/` as one index.
  *
  * Engineering shape: unlike admission, ingest needs NO per-batch probe
  * or state — cell assignment is a pure per-row function of the frozen
  * centroids — so the whole loop is one scan-fused projection into
  * Structured Streaming's transactional FILE SINK (partitioned by cell).
  * No foreachBatch, no state store, no watermark, no shuffle; the
  * micro-batch is embarrassingly parallel and the sink's `_spark_metadata`
  * commit log provides exactly-once (a replayed micro-batch's files
  * commit once; batch readers resolve the directory THROUGH the log, so
  * partial attempt files are invisible).
  *
  * Exactly-once contract is the file sink's: the CHECKPOINT owns the
  * output log, so keep them together — a continuous deployment passes
  * `checkpointDir` (durable, reused across sessions) and batch ids keep
  * advancing. Re-invoking against a standing sink with a FRESH
  * checkpoint is the silent-loss mode: restarted batch ids collide with
  * the sink's `_spark_metadata` latest-batch watermark and the sink
  * SKIPS them without error — so that combination fails fast here
  * instead, the [[EventStreams.streamingCmsCells]] guard. (This differs
  * from [[AdmissionStream]]'s batchId-keyed overwrites, which make even
  * a fresh-checkpoint replay idempotent: admission must pay a probe per
  * batch anyway, ingest's zero-state design buys its idempotence from
  * the sink instead.) */
object AnnIngest {

  /** Landing schema fallback when the dir holds no parquet file yet
    * (a production firehose opens the stream before the first file
    * lands): the embeddings shape. */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Run a bounded embedding stream to completion, appending each
    * micro-batch's cell assignments into `indexPath`'s streamed
    * assignment table. The index must be a [[Similarity.writeIvfFlatIndex]]
    * artifact (its centroid table is the frozen quantizer). */
  /** `compactWhenTombstoneRatio` — the tombstone-pressure policy
    * ([[AdmissionStream.runAdmission]]'s knob for this loop): when the
    * deleted fraction of the standing assignments crosses the
    * threshold at session START, [[Similarity.compactIvfFlatIndex]]
    * folds the deletes (and any prior session's streamed table)
    * physically before the first batch — which also clears the
    * streamed sink log, so the scratch-checkpoint guard below passes
    * after a fired fold exactly as it does after a manual one.
    * Pointer roots publish the fold as a new generation with ONE
    * superseded generation retained for in-flight readers. */
  /** `transform` — an optional STATELESS per-row projection applied to
    * each micro-batch before cell assignment (must yield
    * (vec_id, embedding)): the composition seam for a frozen-artifact
    * preprocessing step, e.g. [[graft.operators.Pca.whiten]] under a
    * standing whitening model — the production firehose shape
    * fit → whiten → ingest. Stateless is load-bearing: the file-sink
    * loop has no state store, so the transform must be a pure column
    * projection (scan-fused, exactly like the assignment itself). */
  def runIngest(spark: SparkSession, landingDir: String, indexPath: String,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      compactWhenTombstoneRatio: Option[Double] = None,
      checkpointDir: Option[String] = None,
      transform: Option[org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame] = None): Unit = {
    compactWhenTombstoneRatio.foreach { theta =>
      val concrete = Fs.concrete(indexPath)
      Fs.tombstones(spark, concrete, "vec_id").foreach { tb =>
        // ONE aggregate job carries both pressure operands (the
        // AdmissionStream prologue discipline): the deduped tombstone
        // count (numerator) and the standing assignment count
        // (denominator) ride one tagged union — two table counts were
        // two driver-latency jobs for one session-start decision
        import org.apache.spark.sql.functions.{count, lit, when}
        val tombsSide = tb.distinct().select(lit(true).as("is_tomb"))
        val dataSide = scala.util.Try {
            val p = s"$concrete/assignments"
            spark.read.schema(Fs.parquetSchema(spark, p)).parquet(p)
              .select(lit(false).as("is_tomb"))
          }.toOption
        val r = dataSide.map(tombsSide.unionByName(_)).getOrElse(tombsSide)
          .agg(count(when(col("is_tomb"), lit(1))).as("tombs"),
            count(when(!col("is_tomb"), lit(1))).as("data"))
          .head()
        if (Fs.overPressure(r.getLong(0), r.getLong(1), theta))
          Similarity.compactIvfFlatIndex(spark, indexPath, retain = Some(1))
      }
    }
    // the concrete generation this SESSION extends, resolved once AFTER
    // the pressure fold (a fired fold publishes a new generation): the
    // streamed sink must land INSIDE it — probes and the compaction fold
    // both read `<generation>/assignments_stream`, so a root-level sink
    // on a pointer root would be silently invisible to every reader
    // (blind appends into the current generation are the pointer
    // protocol's allowed mutation, the SemanticAdmission discipline)
    val concrete = Fs.concrete(indexPath)
    val centroids = Similarity.readCentroids(spark, indexPath)
    require(centroids.nonEmpty,
      s"no centroid table under $indexPath — not a writeIvfFlatIndex artifact")
    // a standing streamed table + scratch checkpoint = restarted batch
    // ids colliding with the sink log's latest-batch watermark, which
    // the file sink skips SILENTLY — fail fast instead (compaction
    // folds the streamed table away between sessions, so a compacted
    // index passes; a durable checkpointDir continues ids safely)
    val sinkLog = new org.apache.hadoop.fs.Path(
      s"$concrete/assignments_stream/_spark_metadata")
    require(checkpointDir.nonEmpty ||
        !sinkLog.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(sinkLog),
      s"standing streamed assignments under $indexPath and no durable " +
        "checkpointDir — a scratch checkpoint restarts batch ids at 0 " +
        "and the file sink silently skips them against its commit log; " +
        "pass the prior session's checkpointDir, or compact the index " +
        "(compactIvfFlatIndex) between sessions")
    val ckpt = checkpointDir.map(java.nio.file.Paths.get(_))
      .getOrElse(EventStreams.scratchDir("graft_annin_ckpt_"))
    val src = StateFold.landing(spark, landingDir, StateFold.landingSchema(
      spark, landingDir, schemaFallback, defaultLandingSchema),
      maxFilesPerTrigger)
    val q = Similarity.assignCells(
        transform.map(_(src)).getOrElse(src), centroids)
      .writeStream
      .format("parquet")
      .option("path", s"$concrete/assignments_stream")
      .option("checkpointLocation", ckpt.toString)
      .partitionBy("cell")
      .outputMode("append")
      .start()
    try { q.processAllAvailable() } finally q.stop()
    if (checkpointDir.isEmpty)
      graft.operators.Maintenance.rmTree(ckpt.toFile)
  }
}
