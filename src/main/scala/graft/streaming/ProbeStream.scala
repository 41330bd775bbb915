package graft.streaming

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.{Fs, Similarity}

/** STREAMING ANN PROBE — the serving side of the index lifecycle, and
  * the missing half of [[AnnIngest]]'s symmetry: query vectors land in
  * micro-batches and each batch retrieves its top-k from the STANDING
  * IVF-flat artifact ([[Similarity.ivfFlatProbe]] — partition-pruned to
  * the probed cells, tombstone-masked, streamed-appends visible). The
  * continuous form of a retrieval service's request loop: index builds
  * are rare and batch; probes arrive forever.
  *
  * Engineering shape: probing is STATELESS — each query's answer is a
  * pure function of (query vector, standing index) — so the loop needs
  * no state store, no watermark, and no standing-table rewrite. Each
  * micro-batch writes its results to `outDir/batch=<id>/` with
  * deterministic overwrite: a replayed batch rewrites the same bytes
  * into the same directory, so the sink is exactly-once by idempotence
  * (the per-batch-directory idiom; [[AdmissionStream]] pays
  * [[graft.operators.Upsert.mergeParquet]]'s batchId-keyed standing
  * rewrite only because admission must FOLD state — results here are
  * append-only, and rewriting a standing results table per batch would
  * be O(all results so far) per batch at serving scale). Readers see
  * the union via partition discovery over `outDir` (the `batch` column
  * is the directory key); read AFTER the run completes, or tolerate an
  * in-flight batch directory being rewritten.
  *
  * Scale: per batch the probe collects ≤ nLists probed cell ids and
  * scans only those cells' partitions — batch cost ∝ queries·cells
  * touched, never corpus size, the same bound the batch probe proves in
  * BENCH_SCALE. */
object ProbeStream {

  /** Run a bounded query-vector stream to completion against the
    * standing index at `indexPath`, landing per-batch top-k results
    * under `outDir/batch=<id>/` as (query_id, neighbor_id, rnk).
    * `landingDir` files must carry (vec_id, embedding) — the
    * embeddings shape ([[AnnIngest.defaultLandingSchema]]). */
  def runProbes(spark: SparkSession, landingDir: String, indexPath: String,
      outDir: String, k: Int, nProbe: Int = 2,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): Unit = {
    // ---- ONE artifact-state resolution per session (the
    // AdmissionStream prologue discipline): the quantizer is frozen at
    // build time and deletes are a between-sessions verb, so the
    // concrete generation, the centroid table (one read+collect — it
    // doubles as the "is an artifact" check) and the pinned tombstone
    // mask are all session constants; every micro-batch below probes
    // with them instead of re-reading centroid parquet + tombstone
    // footers per batch. Streamed-append visibility stays per batch
    // (ivfFlatProbeResolved's existence check is a driver FS call).
    val concrete = Fs.concrete(indexPath)
    val centroids = Similarity.readCentroids(spark, concrete)
    require(centroids.nonEmpty,
      s"no centroid table under $indexPath — not a writeIvfFlatIndex artifact")
    val sessionTombstones = Fs.tombstones(spark, concrete, "vec_id")
      .map(_.localCheckpoint(true))
    StateFold.runBounded(StateFold.landing(spark, landingDir,
        StateFold.landingSchema(spark, landingDir, schemaFallback,
          AnnIngest.defaultLandingSchema), maxFilesPerTrigger),
        checkpointDir) { (batch, batchId) =>
      Similarity.ivfFlatProbeResolved(
          batch.select("vec_id", "embedding"), concrete, k, nProbe,
          centroids, sessionTombstones)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/batch=$batchId")
    }
    ()
  }
}
