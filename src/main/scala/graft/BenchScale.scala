package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Superlinear-tail stress for the banded dedup AND blocked ANN
  * families, past the sf0.1 fixture cap where a 2× bar cannot see
  * quadratic terms.
  *
  * Synthesizes a `SPARK_GRAFT_SCALE`× (default 10×) documents blow-up:
  * replica 0 is the fixture verbatim (its true near-dup structure
  * intact); each further replica rewrites every token through a
  * per-replica PERMUTATION OF THE VOCABULARY, drawn within groups of
  * (token length, is-stopword) and seeded by md5(token:replica), so
  *   - token-level statistics (counts, lengths, n_chars, stopword
  *     ratios) are unchanged — quality gates treat every replica like
  *     the base;
  *   - intra-replica near-dup structure is preserved EXACTLY: renaming
  *     tokens consistently within a replica is an isomorphism of the
  *     shingle/fingerprint relation, so each replica reproduces the
  *     base fixture's pair structure, no more and no less;
  *   - inter-replica shingle overlap is scrambled (different
  *     permutation per replica), so replicas do not pair with each
  *     other and duplicate DENSITY per unit data is preserved.
  * The result is N independent copies of the original dedup problem: a
  * genuinely banded operator should grow ~linearly (ratio ≲ N·overhead),
  * while any hidden all-pairs term grows ~N².
  *
  * (The first cut of this synthesizer re-ORDERED each document's tokens
  * by a per-replica hash instead. On this fixture's ~40-word vocabulary
  * that collapses every permuted document into the same run-grouped
  * sorted sequence — a manufactured all-pairs-duplicate corpus whose
  * verified PAIR OUTPUT is quadratic by construction, which no banding
  * can bound. Vocabulary renaming keeps the output linear because the
  * base fixture's pair structure is.)
  *
  * `graft.Bench scale` times each family query twice per scale (min,
  * clearCache between) and writes BENCH_SCALE.json: per-query
  * base/scaled seconds + ratio. This object holds what is the stress's
  * own: the scaled-input staging, the family, the per-query overrides
  * and the partitions-read capture ([[Session]]). */
object BenchScale {

  /** Per-replica vocabulary mapping: tokens grouped by (length,
    * is-stopword), each group permuted by md5(token:replica) rank —
    * deterministic, length- and stopword-preserving, identity for
    * replica 0. Returned as one Map per replica. */
  private def vocabPermutations(vocab: Seq[String],
      stopwords: Set[String], replicas: Int): IndexedSeq[Map[String, String]] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until replicas).map { r =>
      if (r == 0) Map.empty[String, String]
      else vocab.groupBy(t => (t.length, stopwords.contains(t)))
        .valuesIterator.flatMap { group =>
          val sorted = group.sorted
          val shuffled = sorted.sortBy(t => md5hex(s"$t:$r"))
          sorted.zip(shuffled)
        }.toMap
    }
  }
  /** Stage the salted `replicas`× documents table under
    * `dest/documents.parquet` — the object scaladoc's per-replica
    * vocabulary-permutation blow-up. */
  private def stageScaledDocuments(spark: SparkSession,
      sfDir: String, replicas: Int, dest: java.nio.file.Path,
      partitions: Int): Unit = {
    val docs = sources.Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1L
    // the fixture vocabulary (bounded collect — synthetic fixtures carry
    // tens of distinct tokens; the guard keeps the literal maps sane)
    val vocab = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("tk"))
      .filter(col("tk") =!= "").distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    require(vocab.size <= 100000,
      s"vocabulary ${vocab.size} too large for literal replica maps")
    val stop = graft.functions.TextFunctions.DefaultLangMarkers("en").toSet
    val perms = vocabPermutations(vocab, stop, replicas)
    // one literal map per replica, applied token-by-token: a CASE chain
    // over the replica picks the map, element_at renames (identity
    // fallback keeps unknown/cased tokens verbatim)
    val renamed = concat_ws(" ",
      transform(split(col("text"), " "), tk => {
        perms.zipWithIndex.drop(1).foldLeft(tk) { case (acc, (m, r)) =>
          when(col("replica") === r.toLong,
            coalesce(element_at(typedLit(m), lower(tk)), tk)).otherwise(acc)
        }
      }))
    spark.range(replicas.toLong).select(col("id").as("replica"))
      .crossJoin(docs)
      .select(
        (col("doc_id") + col("replica") * maxId).as("doc_id"),
        when(col("replica") === 0L, col("text")).otherwise(renamed).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(partitions)
      .write.mode("overwrite")
      .parquet(dest.resolve("documents.parquet").toString)
  }

  /** Per-replica DIMENSION permutation (seeded shuffle of the 64 dims):
    * permutations are orthogonal, so dot(Pv, Pw) = dot(v, w) — each
    * replica's internal cosine/neighbor structure is EXACTLY the
    * base's — while against the FIXED SRP planes / centroids /
    * codebooks a permuted vector looks unrelated, so replicas spread
    * across buckets and cells instead of piling into the base's.
    * Replica 0 verbatim, ids offset. */
  private def stageScaledEmbeddings(spark: SparkSession,
      sfDir: String, replicas: Int, dest: java.nio.file.Path,
      partitions: Int): Unit = {
    val embs = sources.Tables.embeddings(spark, sfDir)
    val maxVecId = embs.agg(max("vec_id")).head.getLong(0) + 1L
    val dim = embs.select(size(col("embedding"))).head.getInt(0)
    val dimPerms: IndexedSeq[Seq[Int]] = (0 until replicas).map { r =>
      if (r == 0) (0 until dim).toSeq
      else (0 until dim).sortBy(j => {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$j:$r".getBytes("UTF-8"))
        md.take(8).foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      })
    }
    val permutedVec = dimPerms.zipWithIndex.drop(1)
      .foldLeft(col("embedding")) { case (acc, (perm, r)) =>
        when(col("replica") === r.toLong,
          array(perm.map(j => col("embedding").getItem(j)): _*)).otherwise(acc)
      }
    spark.range(replicas.toLong).select(col("id").as("replica"))
      .crossJoin(embs)
      .select(
        (col("vec_id") + col("replica") * maxVecId).as("vec_id"),
        when(col("replica") === 0L, col("embedding")).otherwise(permutedVec)
          .as("embedding"),
        col("label"))
      .repartition(partitions)
      .write.mode("overwrite")
      .parquet(dest.resolve("embeddings.parquet").toString)
  }

  /** The banded/blocked family (documents + embeddings inputs). */
  val family = Seq(
    "q23_neardup_minhash", "q51_dedup_components_star", "q55_dup_ngrams",
    "q97_winnowing_pairs", "q114_clean_winnowing", "q115_fuzzy_join",
    "q20_knn_bruteforce", "q25_neardup_embedding", "q28_ann_srp",
    "q49_ann_ivf_flat", "q57_ann_pq",
    "q124_cms_heavy_hitters", "q126_bloom_contamination",
    "q127_semantic_dedup", "q130_model_quality_gate", "q131_dedup_recall",
    // the sharded-rank + scan-gate families (r12 gap: their shard-
    // parallelism claims were spec-proven but never measured at 10×)
    "q78_vocab_encode", "q91_interleave_order", "q92_length_batches",
    "q118_temperature_mix", "q129_kmeans_train",
    // DSIR selection: two hashed-count fit scans (shuffle bounded at
    // 2·nBuckets cells regardless of corpus) + one literal-table
    // scoring scan + a bounded take-ordered — linear in data by
    // design, measured here
    "q144_dsir_selection",
    // the incremental-admission engine path (probe pays |new batch|
    // shingling + band joins against a 10× standing index — the claim
    // is the INDEX side scales, not the batch side; the per-dir
    // standing-index build lands in pass 1 and min-of-2 keeps the
    // probe-only pass, mirroring the sf bench semantics)
    "q109_incremental_admit",
    // the ANN artifact PROBES (r13 gap: "probe I/O ∝ cells touched,
    // never corpus size" was spec-asserted but never measured at 10×).
    // nLists scales with the data — the same per-cell-population
    // deployment knob as q127/q129 — so a literal-IN pruned probe
    // touches nProbe cells' worth of rows at EVERY corpus size: the
    // claim is probe ratio ≈ 1, with partitions-read recorded
    // alongside wall-clock. Artifact builds land once per dir (cached
    // on disk); min-of-2 keeps the probe-only pass.
    "q120_ann_index_probe", "q133_trained_index_probe",
    "q134_pq_index_probe", "q138_compacted_index_probe",
    // the streaming card: per-batch fold cost is batch-scan +
    // sources-sized merge — linear in data by design, recorded to
    // show the state (not the cost) is what stays bounded
    "q135_streaming_dataset_card",
    // the DELETE lifecycle at scale (r15 queue item 5): a 10%
    // tombstone load on the 10× standing artifacts — the "anti-join
    // over an already-pruned left side" claim measured, not argued.
    // Expected: q139 ≈ q120 (same probe, plus a tombstone-table
    // anti-join on the pruned candidate rows) and q140 ≈ q109 (same
    // admission, minus the deleted fifth of the index side), at BOTH
    // scales — the tombstone table is O(|deleted|), never corpus-
    // sized, so the delta must not grow with the corpus
    "q139_delete_probe", "q140_delete_admit",
    // the PCA co-moment pass: one corpus scan folded to P·(d²+d+1)
    // tiny rows before the shuffle — the claim is strictly linear
    // growth (ratio ≈ replicas·overhead) with a corpus-independent
    // shuffle, the same bounded-state discipline as q144's fit
    "q151_pca_comoment",
    // scoped near-dup: the per-(scope, band) bucket split keeps the
    // banded profile — replicas keep the fixture's source values, so
    // per-source volume scales with the corpus and the ceiling caps
    // per-scope buckets exactly as the unscoped path's are capped
    "q152_scoped_neardup",
    // the composed pipeline: q152's pairs through star components +
    // keep-best — components are the superlinear risk (iterations ∝
    // cluster diameter), but replicas never pair with each other, so
    // diameters stay fixture-sized and the closure should track q51's
    // ~linear profile
    "q155_scoped_dedup_survivors",
    // the full selection pass (gate → exact dedup → scoped near-dup →
    // exact per-source quota): the quota window sorts per source, so
    // the stress measures the one stage that grows with per-source
    // volume (exactNPerStratum's prefilterHexBound is the production
    // lever when a domain's corpus share outgrows a partition)
    "q156_scoped_corpus_selection",
    // q156 plus the decontamination screen: the benchmark slice is
    // ~1/97 of the corpus at every scale, so the Bloom bits stay one
    // 2048-entry literal, the exact-confirm broadcast grows with the
    // benchmark (linear), and the candidate side pays one extra
    // scan-fused bit-test pass — the whole screen should track the
    // chain it feeds
    "q164_decontaminated_selection",
    // the whitened serving surface (r17 gap: the newest serving loops
    // had no 10× measurement). q163: one standing PCA fit per dir
    // (moment pass linear, shuffle d²-bounded, cached per JVM — pass
    // 1 pays the fit, min-of-2 keeps the serving cost, the ANN-probe
    // discipline) + whitened-vs-raw IVF recall, whose brute-force
    // ground truth is 5 queries × corpus (linear); q165: the
    // frozen-quantizer whitened ingest loop (2 micro-batches, probe
    // ∝ cells touched)
    "q163_whitened_ann_serve", "q165_whitened_stream_ingest",
    // the semantic-admission and tombstone-pressure ingest loops
    // (r18 gap: top-8 flat-bench queries with no 10× measurement).
    // q128: two micro-batches against the standing 80% IVF artifact —
    // per-batch cost is |batch| assignment + probes bounded by the
    // touched cells (built verbatim at the driver's nLists, the
    // q165 treatment); q157: the 20% takedown load fires the pressure
    // fold once at session start (a linear rewrite of the standing
    // tree), then the same two-batch admission as q116 runs against
    // the folded tree
    "q128_streaming_semantic_admission", "q157_pressure_admission",
    // the complete production pipeline (dedup → decontaminate →
    // quota) — the flat bench's most expensive query. Each per-batch
    // leg is linear-or-bounded (admission probe pays |batch|, Bloom
    // screen is one 2048-bit plan literal, exact trigram confirm only
    // for Bloom suspects, quota fold sources-sized) — measured
    // composed, because composition is where super-linear terms hide
    "q166_decontaminated_quota_ingest")

  /** The ANN artifact probes whose cell partitions read are recorded
    * beside their times ([[Session.partitionsRead]]). */
  val probeQueries = Set("q120_ann_index_probe", "q133_trained_index_probe",
    "q134_pq_index_probe", "q138_compacted_index_probe", "q139_delete_probe")

  /** The artifact's `salt` note: how the scaled input and the per-query
    * overrides were built. */
  def salt(replicas: Int): String =
    s"per-replica vocabulary permutation (length- and stopword-preserving); replica 0 verbatim; q127 runs nCells=64 base / 64x$replicas scaled, q129 nCells=8 base / 8x$replicas scaled, and the ANN artifact probes (q120/q133/q134/q138/q139) build their standing indexes at nLists=8 base / 8x$replicas scaled (cells are the per-cell-population deployment knob); parts_* = cell partitions actually read by the probe's artifact scans; q139 = q120's probe with vec_id%10=7 tombstoned (compare to q120: the tombstone anti-join delta must not grow with the corpus), q140 = q109's admission with standing doc_id%5=2 tombstoned (compare to q109)"

  /** One scale run's state: the `replicas`× documents and embeddings
    * staged under [[scaledDir]] on construction, and the standing
    * artifacts its per-query overrides build once per dir. [[close]]
    * removes every root it made. */
  final class Session(spark: SparkSession, sfDir: String, replicas: Int,
      partitions: Int) {
    private val scaledRoot = graft.streaming.EventStreams.scratchDir("graft_scale_")
    private val ixRoots = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    stageScaledDocuments(spark, sfDir, replicas, scaledRoot, partitions)
    stageScaledEmbeddings(spark, sfDir, replicas, scaledRoot, partitions)
    val scaledDir: String = scaledRoot.toString

    def close(): Unit = (scaledRoot.toFile +: ixRoots).foreach(operators.Maintenance.rmTree)

    private def ixRoot(prefix: String): String = {
      val root = graft.streaming.EventStreams.scratchDir(prefix)
      ixRoots += root.toFile
      root.resolve("ix").toString
    }

    // ---- standing ANN artifacts per (kind, dir), built once ----
    private val artifactCache = scala.collection.mutable.Map.empty[(String, String), String]
    private def annArtifact(kind: String, dir: String): String =
      artifactCache.getOrElseUpdate((kind, dir), {
        val e = sources.Tables.embeddings(spark, dir)
        val nLists = if (dir == scaledDir) 8 * replicas else 8
        val ix = ixRoot("graft_scale_ix_")
        kind match {
          case "flat" =>
            operators.Similarity.writeIvfFlatIndex(e, nLists, ix)
          case "trained" =>
            operators.Similarity.writeIvfFlatIndex(e,
              operators.Similarity.collectTrainedCentroids(
                operators.Similarity.lloydTrain(e, nCells = nLists, rounds = 2)),
              ix)
          case "pq" =>
            operators.Similarity.writeIvfPqIndex(e, nLists, 8, 16, ix)
          case "compacted" =>
            // q138's final state via the batch path (streaming ingest ≡
            // batch append is spec-pinned; the PROBE is what's stressed):
            // 80% builds + freezes the quantizer, 20% lands as the
            // streamed table, compaction folds it
            val isNew = substring(md5(col("vec_id").cast("string")), 1, 4) >= "cccc"
            operators.Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists, ix)
            operators.Similarity.assignCells(e.filter(isNew),
                operators.Similarity.readCentroids(spark, ix))
              .write.mode("overwrite").partitionBy("cell")
              .parquet(s"$ix/assignments_stream")
            operators.Similarity.compactIvfFlatIndex(spark, ix)
          case "flat_deleted" =>
            // q139's standing state: the flat artifact with a 10%
            // takedown load tombstoned (O(|deleted|) id rows appended —
            // index data untouched); the timed run is the masked probe
            operators.Similarity.writeIvfFlatIndex(e, nLists, ix)
            operators.Similarity.deleteFromAnnIndex(
              e.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
                .coalesce(1), ix)
        }
        ix
      })

    // ---- standing near-dup index + tombstones per dir, built once ----
    // q140's standing state at scale: the q109 signature index (same
    // parameters as SparkEntry.standingIndex) with a fifth of the
    // standing corpus tombstoned; the timed run is the masked admission
    private val nearDupDeletedCache = scala.collection.mutable.Map.empty[String, String]
    private def nearDupDeletedArtifact(dir: String): String =
      nearDupDeletedCache.getOrElseUpdate(dir, {
        val docs = sources.Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= "cccc"
        val ix = ixRoot("graft_scale_ndix_")
        operators.Dedup.nearDupIndex(docs.filter(!isNew), col("doc_id"),
            col("text"), shingleN = 3, k = 8, rowsPerBand = 2)
          .write.mode("overwrite").parquet(ix)
        operators.Dedup.deleteFromNearDupIndex(
          docs.filter(!isNew && col("doc_id") % 5 === 2)
            .select(col("doc_id")).coalesce(1), ix)
        ix
      })
    private def annQueries(dir: String) =
      sources.Tables.embeddings(spark, dir).filter(col("vec_id") < 5)

    /** Run family query `n` on `dir`. q127's cell count is a DEPLOYMENT
      * knob (SemDeDup sizes clusters ~N/cluster-budget): at fixed nCells
      * a 10× corpus puts 10× vectors in every cell and the within-cell
      * join is honestly quadratic — so the stress scales nCells with the
      * data, which is what holds per-cell population (and per-cell pair
      * volume) constant. The other entries run their driver parameters
      * verbatim. */
    def run(n: String, dir: String): Unit = { frame(n, dir).count(); () }

    private def frame(n: String, dir: String): DataFrame = n match {
      case "q127_semantic_dedup" =>
        // the driver query end to end (pairs + star components) — only
        // the cell count is scaled
        val cells = if (dir == sfDir) 64 else 64 * replicas
        operators.Dedup.connectedComponentsStar(
          operators.Dedup.semanticNearDupPairs(sources.Tables.embeddings(spark, dir),
            nCells = cells, threshold = 0.35), col("id_a"), col("id_b"))
      case "q129_kmeans_train" =>
        // cells are the same deployment knob as q127's: production sizes
        // nCells ∝ corpus (per-cell population constant), so the stress
        // scales them with the data; the trainer's per-round cost is one
        // corpus shuffle + a broadcast of nCells centroids either way
        val cells = if (dir == sfDir) 8 else 8 * replicas
        operators.Similarity.lloydTrain(
          sources.Tables.embeddings(spark, dir), nCells = cells, rounds = 2)
      case "q120_ann_index_probe" => ivfProbe(dir, "flat")
      case "q133_trained_index_probe" => ivfProbe(dir, "trained")
      case "q134_pq_index_probe" =>
        operators.Similarity.ivfPqProbe(annQueries(dir),
          annArtifact("pq", dir), 10, nProbe = 2)
      case "q138_compacted_index_probe" => ivfProbe(dir, "compacted")
      case "q139_delete_probe" => ivfProbe(dir, "flat_deleted")
      case "q140_delete_admit" =>
        val docs = sources.Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"))
        val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= "cccc"
        operators.Dedup.admitNewDocsWithIndex(docs.filter(isNew),
          nearDupDeletedArtifact(dir), col("doc_id"), col("text"), 0.4)
      case _ => SparkEntry.queries(n)(spark, dir)
    }

    private def ivfProbe(dir: String, kind: String): DataFrame =
      operators.Similarity.ivfFlatProbe(annQueries(dir),
        annArtifact(kind, dir), 10, nProbe = 2)

    /** Partitions actually READ by a probe's cell-partitioned artifact
      * scans (the executed FileSourceScan's "numPartitions" metric, the
      * VectorAndSimilaritySpec assertion turned into a measurement):
      * ≈ |distinct probed cells| at every corpus size when pruning
      * holds, ∝ nLists when it doesn't. */
    def partitionsRead(n: String, dir: String): Long = {
      import org.apache.spark.sql.execution.FileSourceScanExec
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(q.plan)
      }.flatten
      val captured = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          scans(qe.executedPlan)
            .filter(_.relation.partitionSchema.fieldNames.contains("cell"))
            .foreach(f => captured.add(f.metrics("numPartitions").value))
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        run(n, dir)
        // async listener bus: poll until stable (the spec idiom)
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        var last = -1; var stable = 0
        while (stable < 3 && System.nanoTime() < deadline) {
          Thread.sleep(100)
          val c = captured.size
          if (c == last && c > 0) stable += 1 else stable = 0
          last = c
        }
      } finally spark.listenerManager.unregister(listener)
      import scala.jdk.CollectionConverters._
      captured.iterator().asScala.sum
    }
  }
}
