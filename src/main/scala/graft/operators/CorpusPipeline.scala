package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}

/** End-to-end training-corpus cleaning — the composition every LLM data
  * pipeline runs, built from this engine's verified operators:
  *
  *   1. quality gate ([[graft.functions.TextFunctions.qualityScore]] ≥
  *      threshold) — per-row expression, fuses into the scan;
  *   2. exact dedup ([[Dedup.exactByContent]] keep-lowest-id) — one
  *      uniform-hash shuffle;
  *   3. near-dup cluster dedup: MinHash+LSH candidate pairs
  *      ([[Dedup.minhashNearDupPairs]]) → connected components
  *      ([[Dedup.connectedComponentsAuto]] — the bounded driver-side
  *      union-find when the verified pair graph is micro-sized, the
  *      distributed star loop past the cap; label-identical either way,
  *      proven by spec and shared oracle) → keep each cluster's
  *      minimum id;
  *   4. stratified downsample ([[Sampling.stratifiedSample]]) — per-row
  *      predicate, deterministic in (doc_id, stratum).
  *
  * Every stage is deterministic, so the whole composition is
  * oracle-checkable (q48). Stage order matters at scale: the cheap
  * per-row gates run FIRST so the shuffling stages (dedup, LSH) see the
  * smallest possible corpus, and the near-dup stage — the only
  * super-linear one — runs after exact dedup has already collapsed
  * identical payloads.
  */
object CorpusPipeline {

  /** A near-dup PAIR POLICY: (docs, id, text) → verified duplicate pairs
    * (id_a, id_b), id_a < id_b. The clustering, representative pick and
    * sampling downstream of candidate generation are policy-independent,
    * so [[cleanWith]] takes the generator as a value — MinHash (set
    * similarity) and winnowing (contiguous-overlap) are the two shipped
    * policies; any (DataFrame, Column, Column) ⇒ pairs frame plugs in. */
  type PairPolicy = (DataFrame, Column, Column) => DataFrame

  /** MinHash+LSH policy — [[Dedup.minhashNearDupPairs]]'s verified
    * Jaccard pairs (the [[clean]] default). `maxBandDf` is the
    * boilerplate-band ceiling (see the operator scaladoc) — set it when
    * cleaning web-scale corpora where frequent shingles pool unrelated
    * docs into degenerate band buckets. */
  def minhashPolicy(shingleN: Int = 3, minhashK: Int = 8,
      rowsPerBand: Int = 2, jaccardThreshold: Double = 0.5,
      maxBandDf: Option[Long] = None): PairPolicy =
    (df, id, text) => Dedup.minhashNearDupPairs(df, id, text,
      shingleN, minhashK, rowsPerBand = rowsPerBand,
      threshold = jaccardThreshold, maxBandDf = maxBandDf)
      .select(col("id_a"), col("id_b"))

  /** Winnowing policy — [[Winnowing.sharedFingerprintPairs]]: pairs
    * sharing ≥ `minShared` fingerprints. Detects CONTIGUOUS overlap
    * (any shared k+w−1-token run guarantees a shared fingerprint) where
    * MinHash measures SET overlap — a long quote inside otherwise
    * distinct documents pairs here and not there, and two documents
    * with the same vocabulary in different order pair there and not
    * here (the disagreement CorpusPipelineSpec pins). */
  def winnowingPolicy(k: Int = 3, w: Int = 4, minShared: Long = 2L,
      maxDf: Long = 100L): PairPolicy =
    (df, id, text) => Winnowing.sharedFingerprintPairs(df, id, text,
      k, w, minShared, maxDf)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))

  /** The prologue of every clean: null text read as "", the quality gate
    * (`quality` ≥ `qualityThreshold`, the score kept as a column), then
    * exact dedup keeping the lowest doc_id per identical text
    * ([[Dedup.exactByContent]]). Unpinned: each caller persists where
    * its own reads need it. */
  private def gatedExact(docs: DataFrame, stopwords: Seq[String],
      qualityThreshold: Double): DataFrame = {
    val qual = docs.withColumn("text", coalesce(col("text"), lit("")))
      .withColumn("quality", T.qualityScore(col("text"), stopwords))
      .filter(col("quality") >= qualityThreshold)
    qual.join(
      Dedup.exactByContent(qual, col("text"), col("doc_id")).select("keep_id"),
      col("doc_id") === col("keep_id"), "left_semi")
  }

  /** The rows with non-blank text: the only ones the near-dup stage
    * sees (an empty doc has no shingles or fingerprints). */
  private def nonBlank(df: DataFrame): DataFrame =
    df.filter(trim(col("text")) =!= "")

  /** Clean `docs` (must have doc_id, lang, text columns; text may be
    * null). Returns the surviving rows with an added `quality` column.
    * `sampleBounds`/`defaultBound` are [[Sampling.stratifiedSample]] hex
    * bounds per lang ("g" compares above every hex bucket = keep all).
    *
    * `keepBestByQuality` switches the near-dup cluster representative
    * from the default minimum id to [[Dedup.bestRepresentative]] on the
    * computed quality score (ties to the lower id) — keep the CLEANEST
    * member of each cluster instead of the earliest-crawled. Min-id
    * stays the default because it is the id-stable policy
    * [[cleanIncremental]]'s append-only contract builds on. */
  def clean(docs: DataFrame, stopwords: Seq[String],
      qualityThreshold: Double = 0.5,
      shingleN: Int = 3, minhashK: Int = 8, jaccardThreshold: Double = 0.5,
      rowsPerBand: Int = 2,
      sampleBounds: Map[String, String] = Map.empty,
      defaultBound: String = "g",
      keepBestByQuality: Boolean = false): DataFrame =
    cleanWith(docs, stopwords, qualityThreshold,
      minhashPolicy(shingleN, minhashK, rowsPerBand, jaccardThreshold),
      sampleBounds, defaultBound, keepBestByQuality)

  /** [[clean]] with a pluggable near-dup [[PairPolicy]] — the gate →
    * exact dedup → candidate pairs → components → representative →
    * sample chain with candidate generation swapped at the only seam
    * where the families genuinely differ. */
  def cleanWith(docs: DataFrame, stopwords: Seq[String],
      qualityThreshold: Double,
      pairPolicy: PairPolicy,
      sampleBounds: Map[String, String] = Map.empty,
      defaultBound: String = "g",
      keepBestByQuality: Boolean = false): DataFrame = {
    // Persisted: this frame is read by BOTH the near-dup candidate chain
    // and the survivor join below, and each read would otherwise re-run
    // the scan + quality gate + dedup shuffle (the same cache lifecycle
    // contract as Dedup's shingle frames — callers clear the session
    // cache once the result is consumed).
    val exact = gatedExact(docs, stopwords, qualityThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // near-dup clusters over the exact-deduped survivors; empty docs have
    // no shingles/fingerprints and skip this stage (they survive unless
    // exact-dup'd)
    val pairs = pairPolicy(nonBlank(exact), col("doc_id"), col("text"))
    val comps = Dedup.connectedComponentsAuto(pairs, col("id_a"), col("id_b"))
    val surv =
      if (!keepBestByQuality) Dedup.minIdKeep(exact, comps, "doc_id")
      else {
        // clustered docs keep their argmax-quality member; singletons
        // (never paired) pass through untouched. Components are computed
        // ONCE and shared by the representative pick and the membership
        // anti-join — the iterative components job is the expensive
        // stage of this branch.
        val reps = Dedup.bestRepresentativeIn(
          exact.select(col("doc_id"), col("quality")), comps,
          col("doc_id"), col("quality"))
        val clustered = comps.select(col("id").as("doc_id"))
        exact
          .join(clustered, Seq("doc_id"), "left_anti")
          .unionByName(exact.join(
            reps.select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi"))
      }
    Sampling.stratifiedSample(surv, col("doc_id"), col("lang"),
      sampleBounds, defaultBound)
  }

  /** [[cleanWith]] with benchmark DECONTAMINATION fused into the chain —
    * the q164 composition: quality gate → exact dedup → ONE staged
    * shingle frame → Bloom screen + exact confirm (suspects only) →
    * scoped near-dup banding from the SAME shingles → components →
    * min-id representative → stratified sample.
    *
    * Semantics are IDENTICAL to screening the raw corpus first and then
    * running [[cleanWith]] with the scoped MinHash policy (the r19 q164
    * shape), because the screen is a pure function of `text`: it
    * commutes past the quality gate (both per-row text predicates) and
    * past exact dedup (an exact-dup group shares one text, so the screen
    * keeps or drops the GROUP whole — the min-id representative of every
    * surviving group is unchanged). The driver's q164 hash check pins
    * the equivalence. What changes is the cost: the screen's
    * tokenize+shingle pass — previously a second full-corpus pass on top
    * of the near-dup staging's — is gone, both consumers reading one
    * persisted [[Dedup.stagedScopedShingles]] frame, and the screen
    * now runs on gate+dedup survivors instead of the raw corpus.
    *
    * The scoped policy is hardcoded (not a [[PairPolicy]]): the sharing
    * only exists because the screen's gram size and the banding's
    * shingle size are the SAME projection, which a policy-shaped seam
    * cannot see. `shingleN` therefore feeds both.
    *
    * Cache lifecycle: same contract as [[cleanWith]] — the exact
    * survivors and ONE enriched band frame
    * ([[Dedup.scopedShingleBandFrame]] — sh AND bands in the same cache
    * entry, read by the screen, the band explode and both verify-join
    * sides) are persisted, and the caller clears the session cache once
    * the result is consumed. The contaminated-id set is persisted
    * lazily (NOT eagerly checkpointed — the extra job barrier measured
    * slower than the cache at fixture scale): both anti-joins reference
    * the same plan, so the first evaluation populates the cache and the
    * Bloom pass (k md5 evals per gram — the cost the fusion exists to
    * pay once) runs once. */
  def cleanDecontaminatedScoped(docs: DataFrame, benchmark: DataFrame,
      stopwords: Seq[String], qualityThreshold: Double,
      scope: Column, shingleN: Int = 3, minhashK: Int = 8,
      rowsPerBand: Int = 1, jaccardThreshold: Double = 0.4,
      maxBandDf: Option[Long] = Some(30L),
      bloomM: Int = 2048, bloomK: Int = 3, denomFactor: Int = 2,
      sampleBounds: Map[String, String] = Map.empty,
      defaultBound: String = "g"): DataFrame = {
    val bits = Contamination.bloomBits(benchmark, col("text"), shingleN,
      bloomM, bloomK)
    val exact = gatedExact(docs, stopwords, qualityThreshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = Dedup.scopedShingleBandFrame(
        Dedup.stagedScopedShingles(nonBlank(exact),
          col("doc_id"), col("text"), scope, shingleN),
        minhashK, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contaminated = Contamination.contaminatedIdsFromShingles(
        banded, bits, benchmark, col("text"), shingleN, bloomK, denomFactor)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dropping screened docs from the cached band frame BEFORE the band
    // explode ≡ banding the decontaminated corpus (see
    // scopedMinhashNearDupPairsFromBands) — the screen costs no second
    // tokenize/banding pass
    val pairs = Dedup.scopedMinhashNearDupPairsFromBands(
        banded.join(contaminated, Seq("doc_id"), "left_anti"),
        jaccardThreshold, maxBandDf)
      .select(col("id_a"), col("id_b"))
    // empty-text docs are absent from `staged` but must survive the
    // screen (they share no grams with anything) — the anti-join runs on
    // the exact frame, not the staged one
    val surv = exact.join(contaminated, Seq("doc_id"), "left_anti")
    val comps = Dedup.connectedComponentsAuto(pairs, col("id_a"), col("id_b"))
    Sampling.stratifiedSample(Dedup.minIdKeep(surv, comps, "doc_id"),
      col("doc_id"), col("lang"), sampleBounds, defaultBound)
  }

  /** Fold an APPEND-ONLY batch of new documents into an already-cleaned
    * corpus — the form [[clean]] takes when history is 100 TB and only
    * the batch is new. `existing` must be a prior [[clean]]/
    * [[cleanIncremental]] output (carries `quality`); `newDocs` raw rows
    * whose doc_ids are ALL GREATER than every existing id (append-only
    * monotonic ids — the precondition that makes the min-id
    * representative rule stable: a cluster containing a survivor always
    * elects the survivor).
    *
    * What is NOT recomputed for history: the quality gate, the exact-dedup
    * grouping, and the stratified sample apply to the batch only —
    * existing rows pass through untouched. Survivor near-dup bands ARE
    * re-hashed here (they join the batch's band index so batch docs can
    * match historical content); a production deployment materializes the
    * survivors' (band, id) index at write time and this stage becomes a
    * batch-sized probe of it. Survivor-survivor pairs cannot pass the
    * threshold (each survivor is its cluster's sole representative), so
    * the pair graph stays batch-driven.
    *
    * Known bounded divergence vs a full re-clean (inherent to ANY
    * incremental dedup): a new document that near-dups TWO distinct
    * historical survivors would, in a full re-clean, merge their clusters
    * and drop one of them; incrementally both survivors stand (history is
    * immutable) and the bridging doc is dropped. CorpusPipelineSpec pins
    * exact equivalence on bridge-free batches. */
  def cleanIncremental(existing: DataFrame, newDocs: DataFrame,
      stopwords: Seq[String],
      qualityThreshold: Double = 0.5,
      shingleN: Int = 3, minhashK: Int = 8, jaccardThreshold: Double = 0.5,
      rowsPerBand: Int = 2,
      sampleBounds: Map[String, String] = Map.empty,
      defaultBound: String = "g"): DataFrame = {
    // exact dedup: lowest id within the batch, then drop content the
    // corpus already holds (hash semi-join — survivors never rescan)
    val newExact = gatedExact(newDocs, stopwords, qualityThreshold).join(
      existing.select(graft.functions.Hashing.contentHash(col("text")).as("__h")).distinct(),
      graft.functions.Hashing.contentHash(col("text")) === col("__h"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // near-dup over survivors ∪ batch: survivor ids are smaller, so
    // clean()'s `comp == doc_id` rule keeps a batch doc iff its cluster
    // holds no survivor AND it is the batch cluster's minimum
    val pool = existing.select(col("doc_id"), col("text"))
      .unionByName(newExact.select(col("doc_id"), col("text")))
    val pairs = Dedup.minhashNearDupPairs(nonBlank(pool),
      col("doc_id"), col("text"), shingleN, minhashK,
      rowsPerBand = rowsPerBand, threshold = jaccardThreshold)
    val comps = Dedup.connectedComponentsAuto(pairs, col("id_a"), col("id_b"))
    existing.unionByName(Sampling.stratifiedSample(
      Dedup.minIdKeep(newExact, comps, "doc_id"), col("doc_id"), col("lang"),
      sampleBounds, defaultBound))
  }
}
