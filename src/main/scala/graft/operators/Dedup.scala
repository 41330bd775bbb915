package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.functions.{Hashing, TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for training-data pipelines, exact and
  * approximate. Scale design notes per operator inline — the common theme:
  * every variant reduces to (narrow per-row hashing) → (one shuffle on a
  * uniform hash key) → (bounded within-bucket work), which is the only
  * shape that survives 100 TB.
  *
  * Cache lifecycle: the MinHash and SimHash operators `persist()` their
  * shingle/fingerprint frames (each is referenced by several joins of the
  * returned plan, and the per-document hashing pass is the dominant cost —
  * recomputing it per reference would double-to-triple the work). These
  * are pure plan-building APIs, so they cannot know when the caller's last
  * action over the returned plan has run; the cache entries live until the
  * caller drops them. Callers owning the session should
  * `spark.catalog.clearCache()` (or `unpersist` the inputs) once the
  * result has been consumed — Bench does exactly that between its warmup
  * and timed passes so the timed numbers include the hashing pass.
  */
object Dedup {

  /** Bounded band-bucket collector for the df-capped candidate paths:
    * keeps at most `cap + 1` ids per band — the full bucket for bands
    * within the ceiling, and PROOF of overflow (size > cap) for bands
    * past it, which the downstream filter drops whole. This is what
    * makes "per-band memory bounded by the cap" actually true: a plain
    * `collect_list` would materialize a viral-template band's entire
    * posting list (the exact adversarial input the ceiling defends
    * against) in one aggregation buffer before the size filter ever
    * ran. Buckets ≤ cap are preserved EXACTLY (no partial is ever
    * truncated unless the combined size already exceeds the cap), so
    * the candidate pair set is identical to the unbounded collect. */
  private class BoundedIds[T](cap: Int)(implicit
      tt: scala.reflect.runtime.universe.TypeTag[T],
      bt: scala.reflect.runtime.universe.TypeTag[
        scala.collection.mutable.ArrayBuffer[T]],
      st: scala.reflect.runtime.universe.TypeTag[Seq[T]]) extends
      org.apache.spark.sql.expressions.Aggregator[
        T, scala.collection.mutable.ArrayBuffer[T], Seq[T]] {
    import scala.collection.mutable.ArrayBuffer
    override def zero: ArrayBuffer[T] = ArrayBuffer.empty
    override def reduce(b: ArrayBuffer[T], a: T): ArrayBuffer[T] = {
      if (b.length <= cap) b += a
      b
    }
    override def merge(x: ArrayBuffer[T],
        y: ArrayBuffer[T]): ArrayBuffer[T] = {
      val room = cap + 1 - x.length
      if (room > 0) x ++= y.take(room)
      x
    }
    override def finish(b: ArrayBuffer[T]): Seq[T] = b.toSeq
    override def bufferEncoder:
        org.apache.spark.sql.Encoder[ArrayBuffer[T]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[T]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** `groupBy(key).agg(<bounded ids>)` — [[BoundedIds]] for the id
    * types a corpus key actually takes (long, int, string: every driver
    * path plus string-keyed corpora), plain collect_list for anything
    * exotic (one-shuffle shape kept, but an oversized band would
    * materialize its full posting list in one buffer — the documented
    * fallback, not a silent one). The shape is for LOW-cardinality
    * bucket keys (minhash bands: k/rowsPerBand per doc);
    * [[Winnowing.sharedFingerprintPairs]] deliberately does NOT use it —
    * at winnowing's millions-of-singleton-groups fingerprint cardinality
    * the object-aggregation collector falls back to sort-based and
    * measured 5.5× vs 2.9× at 10× data against its count+join form (see
    * the plan-shape note there). */
  private[operators] def boundedBuckets(exploded: DataFrame, key: String,
      idc: String, cap: Long, outCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, functions => F}
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val agg =
      if (cap > Int.MaxValue.toLong) collect_list(col(idc))
      else exploded.schema(idc).dataType match {
        case LongType =>
          F.udaf(new BoundedIds[Long](cap.toInt), Encoders.scalaLong)(col(idc))
        case IntegerType =>
          F.udaf(new BoundedIds[Int](cap.toInt), Encoders.scalaInt)(col(idc))
        case StringType =>
          F.udaf(new BoundedIds[String](cap.toInt), Encoders.STRING)(col(idc))
        case _ => collect_list(col(idc))
      }
    exploded.groupBy(col(key)).agg(agg.as(outCol))
      .filter(size(col(outCol)) <= cap)
  }

  /** The token staging every shingle-based operator starts from:
    * (doc_id, carry…, toks) with the tokens in their OWN projection and
    * the emptiness guard on tokens — the HOF re-eval traps explained in
    * [[nearDupIndex]]'s scaladoc. The input is spread first: the
    * per-document hashing passes (minhash signatures, SimHash mixes)
    * are the dominant cost of every near-dup operator and must never
    * serialize on a single input split — see [[Parallelism]] (q37's
    * signature pass ran on 1/32 cores at sf0.1 before this guard). */
  private def nonEmptyTokens(df: DataFrame, id: Column, text: Column,
      carry: Column*): DataFrame = {
    val staged = Parallelism.ensureMinPartitions(
      df.select((id.as("doc_id") +: carry) :+ text.as("txt"): _*), col("doc_id"))
    staged.select(staged.columns.init.map(col) :+
        T.tokens(lower(col("txt"))).as("toks"): _*)
      .filter(size(col("toks")) > 0)
  }

  /** Exact shingle-set Jaccard |A∩B| / |A∪B| — the one verify measure
    * of every banded path, cast to double before the division. */
  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** `df` broadcast-hinted when `on`. */
  private def hinted(df: DataFrame, on: Boolean): DataFrame =
    if (on) broadcast(df) else df

  /** The candidate verify join: attach each candidate's two shingle
    * sets (column `sh` of `docsA`/`docsB`, keyed by `doc_id`) and keep
    * (carry…, a, b, jaccard) for pairs whose exact Jaccard ≥
    * `threshold`. `carry` columns ride out of `docsA`; `hintA`/`hintB`
    * broadcast-hint that side's shingle join. */
  private def verifyJaccard(cand: DataFrame, docsA: DataFrame,
      docsB: DataFrame, sh: String, threshold: Double, a: String = "id_a",
      b: String = "id_b", carry: Seq[String] = Nil, hintA: Boolean = false,
      hintB: Boolean = false): DataFrame =
    cand
      .join(hinted(docsA.select((col("doc_id").as(a) +: carry.map(col)) :+
        col(sh).as("sh_a"): _*), hintA), Seq(a))
      .join(hinted(docsB.select(col("doc_id").as(b), col(sh).as("sh_b")),
        hintB), Seq(b))
      .select((carry :+ a :+ b).map(col) :+
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"): _*)
      .filter(col("jaccard") >= threshold)

  /** The exploded (band, doc_id) index of a frame's `bands` column. */
  private def bandRows(df: DataFrame): DataFrame =
    df.select(explode(col("bands")).as("band"), col("doc_id"))

  /** Distinct candidate pairs (a, b) from exploded (band, doc_id)
    * indexes ([[bandRows]]): an id of `bandsA` and an id of `bandsB`
    * that share a band — or, with `bandsB` None, two ids of `bandsA`,
    * a < b. With a `maxBandDf` ceiling each side's bucket is ONE row per
    * band ([[boundedBuckets]] — a single shuffle whose per-band memory is
    * bounded by the cap, oversized buckets dropped whole; two sides'
    * buckets join on band, so the quadratic term is at most cap² per
    * band) and the pairs stream out of two chained generators; without
    * one, bucket sizes are unbounded, so the band JOIN form stays — it
    * pairs giant buckets without ever holding one in a single row.
    * `hintA`/`hintB` broadcast-hint that side of the join. */
  private def bandCandidates(bandsA: DataFrame, bandsB: Option[DataFrame],
      maxBandDf: Option[Long], a: String = "id_a", b: String = "id_b",
      hintA: Boolean = false, hintB: Boolean = false): DataFrame = {
    val pairs = maxBandDf match {
      case Some(cap) =>
        def buckets(df: DataFrame, ids: String) =
          boundedBuckets(df, "band", "doc_id", cap, ids)
        val both = bandsB match {
          case None =>
            buckets(bandsA, "ids_a").withColumn("ids_b", col("ids_a"))
          case Some(other) => hinted(buckets(bandsA, "ids_a"), hintA)
            .join(hinted(buckets(other, "ids_b"), hintB), Seq("band"))
        }
        both.select(explode(col("ids_a")).as(a), col("ids_b"))
          .select(col(a), explode(col("ids_b")).as(b))
      case None =>
        hinted(bandsA.select(col("band"), col("doc_id").as(a)), hintA)
          .join(hinted(bandsB.getOrElse(bandsA)
            .select(col("band"), col("doc_id").as(b)), hintB), Seq("band"))
          .select(col(a), col(b))
    }
    (if (bandsB.isEmpty) pairs.filter(col(a) < col(b)) else pairs).distinct()
  }

  /** Exact dedup by content hash: keeps the lowest-id row per distinct
    * content. GroupBy on md5 — uniform key, perfectly balanced shuffle;
    * map-side combine collapses each partition to its distinct hashes
    * before the exchange. */
  def exactByContent(df: DataFrame, content: Column, id: Column): DataFrame =
    df.select(Hashing.contentHash(content).as("content_hash"), id.as("keep_id"))
      .groupBy("content_hash")
      .agg(min("keep_id").as("keep_id"), count(lit(1)).as("copies"))

  /** The cached (doc_id, sh, bands) frame every MinHash path starts
    * from. Shingling is the per-doc heavy pass and the frame is
    * referenced several times (band index + verification joins) —
    * persisted so the pass runs once, keyed on the canonical plan so
    * repeated calls share one entry; MEMORY_AND_DISK because shingle
    * arrays are payload-sized. Projection staging lives in
    * [[nearDupIndex]] (the body this wraps). */
  private def shingleBandFrame(df: DataFrame, id: Column, text: Column,
      shingleN: Int, k: Int, rowsPerBand: Int): DataFrame =
    nearDupIndex(df, id, text, shingleN, k, rowsPerBand)
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** The MATERIALIZABLE near-dup signature index: (doc_id, sh, bands) —
    * per-document distinct shingle sets plus LSH band keys, the frame
    * every banded near-dup operator starts from, exposed so a snapshot
    * job can compute it ONCE and `.write.parquet` it. All columns are
    * plain Spark types (long, array<string>, array<string>, int), so the
    * artifact round-trips through parquet losslessly; a later ingest
    * reloads it and calls [[admitNewDocsWithIndex]], paying only
    * |new batch| shingling — never a re-shingle of the standing corpus
    * (the cross-job form of the "computed once per snapshot" contract).
    * The (shingleN, k, rowsPerBand) parameters are part of the artifact's
    * identity, so they ride ALONG IN the artifact as constant columns
    * (`p_shingle_n`, `p_k`, `p_rows_per_band` — bytes-free under parquet
    * RLE) and [[admitNewDocsWithIndex]] fails fast on a mismatch instead
    * of returning silently wrong admissions.
    *
    * Projection staging is deliberate, three HOF re-eval traps deep:
    * tokens are projected SEPARATELY from the shingle transform (the
    * T.tokenShingles scaladoc trap — inline, the text re-splits once
    * per shingle); the emptiness guard sits on TOKENS, not shingles
    * (a shingle-column filter would be predicate-pushed through the
    * projection and re-run the whole transform per row); the signature
    * gets ITS OWN projection before banding (bandKeys' lambda slices
    * the signature — inline, the k·|shingles| md5 pass re-runs once
    * per band). Band keys are computed INSIDE the cached/materialized
    * frame: a self-join's branches carry different aliases, so exchange
    * reuse cannot unify them, and each branch would otherwise re-run
    * the signature pass from the cache. */
  def nearDupIndex(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4): DataFrame =
    nonEmptyTokens(df, id, text)
      .select(col("doc_id"), T.tokenShingles(col("toks"), shingleN).as("sh"))
      .select(col("doc_id"), col("sh"), T.minhashSignature(col("sh"), k).as("sig"))
      .select(col("doc_id"), col("sh"),
        T.bandKeys(col("sig"), rowsPerBand).as("bands"),
        lit(shingleN).as("p_shingle_n"), lit(k).as("p_k"),
        lit(rowsPerBand).as("p_rows_per_band"))

  /** Incremental ADMISSION — the don't-reclean-the-corpus ingest shape:
    * a NEW batch of documents is near-dup-checked against the standing
    * kept corpus (`indexDf`), survivors are then deduped among
    * themselves (components over verified pairs, min-id
    * representative), and the admitted ids come back. At 100 TB the
    * index side's banded signatures are computed once per snapshot and
    * persisted; each ingest pays only |new| shingling plus band joins
    * whose volume is bounded by bucket collisions — never a rescan of
    * the corpus text. Same verified-Jaccard semantics as
    * [[minhashNearDupPairs]] (an admitted doc is one the full
    * rebuild-from-scratch dedup would also keep, provided the index IS
    * the kept set — the invariant the caller maintains by feeding
    * admissions back). */
  def admitNewDocs(newDf: DataFrame, indexDf: DataFrame, id: Column,
      text: Column, shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, broadcastNew: Boolean = true): DataFrame =
    admitCore(shingleBandFrame(newDf, id, text, shingleN, k, rowsPerBand),
      shingleBandFrame(indexDf, id, text, shingleN, k, rowsPerBand),
      threshold, broadcastNew)

  /** The [[admitNewDocsWithIndex]] parameter fail-fast, exposed so a
    * LOOPING caller (the streaming admission, probing a growing index
    * once per micro-batch under fixed parameters) can validate once up
    * front instead of per batch. Distinct over RLE'd constant columns:
    * map-side combine collapses each partition to its few triples, so
    * the collect is bounded by the number of artifact GENERATIONS in
    * the dir, not rows — and it checks every generation, not one
    * sampled file's. A mixed-schema dir (legacy parameter-less files
    * read alongside new batches — exactly what a seeded AdmissionStream
    * index is) surfaces the legacy rows as nulls: no evidence, skipped
    * — not an NPE on getInt.
    *
    * Fused with the tree's row count in ONE aggregate job — the
    * session-prologue consolidation: the
    * tombstone-pressure policy needs the standing row count and the
    * fail-fast needs the distinct parameter evidence, and both are a
    * map-side-collapsed pass over the same tree, so paying two scans
    * (one per verb) was pure per-session fixed cost. Returns the row
    * count when `needCount` (else 0 without counting anything extra —
    * the count aggregate still rides the same single job; the flag
    * only documents intent). */
  private[graft] def validateIndexParamsAndCount(indexFrame: DataFrame,
      shingleN: Int, k: Int, rowsPerBand: Int,
      needCount: Boolean = true): Long = {
    val paramCols = Seq("p_shingle_n", "p_k", "p_rows_per_band")
    if (paramCols.forall(indexFrame.columns.contains)) {
      val row = indexFrame.agg(
        count(lit(1)).as("__n"),
        collect_set(when(paramCols.map(col(_).isNotNull).reduce(_ && _),
          struct(paramCols.map(col): _*))).as("__params"))
        .head()
      requireIndexParams(row.getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))), shingleN, k,
        rowsPerBand)
      row.getLong(0)
    } else if (needCount) indexFrame.count()
    else 0L
  }

  /** The parameter fail-fast over an index's (p_shingle_n, p_k,
    * p_rows_per_band) evidence: every triple must equal the probe's. */
  private[graft] def requireIndexParams(triples: Iterable[(Int, Int, Int)],
      shingleN: Int, k: Int, rowsPerBand: Int): Unit =
    triples.foreach { case (in, ik, ir) =>
      require(in == shingleN && ik == k && ir == rowsPerBand,
        s"near-dup index was built under (shingleN=$in, k=$ik, " +
          s"rowsPerBand=$ir) but probed with (shingleN=$shingleN, " +
          s"k=$k, rowsPerBand=$rowsPerBand) — admissions would be " +
          "silently wrong; rebuild the index or probe with the " +
          "build-time parameters")
    }

  /** [[admitNewDocsWithIndex]] minus BOTH the parameter fail-fast and
    * the batch hashing, over an ALREADY-HASHED batch frame (a
    * [[nearDupIndex]] of the new batch, pinned by the caller) — the
    * one-hash-pass-per-batch ingest shape for a loop that already ran
    * [[validateIndexParamsAndCount]] once up front: the admission LOOP
    * needs the batch's signatures twice (the probe here, the index fold-back
    * after), and building them inside this call would shingle the batch
    * once per use. The caller hashes once, checkpoints, probes through
    * this, and folds back the SAME rows filtered to the admitted ids. */
  private[graft] def admitPrehashed(newSigs: DataFrame, indexFrame: DataFrame,
      threshold: Double): DataFrame =
    admitCore(newSigs.select(col("doc_id"), col("sh"), col("bands")),
      indexFrame.select(col("doc_id"), col("sh"), col("bands")), threshold)

  /** [[admitNewDocs]] against a PRECOMPUTED [[nearDupIndex]] frame — the
    * cross-job ingest path: the standing corpus's (doc_id, sh, bands)
    * artifact is reloaded from parquet (no re-shingle of corpus text);
    * only the new batch is hashed here, under the SAME
    * (shingleN, k, rowsPerBand) the index was built with. When the
    * artifact carries its build parameters (every [[nearDupIndex]]
    * since they were embedded), a mismatch throws here — one bounded
    * collect of the DISTINCT parameter triples (RLE'd constants,
    * map-side combined: rows ∝ artifact generations, not index size) —
    * instead of producing silently wrong admissions; parameter-less
    * legacy artifacts (or legacy FILES inside a mixed-schema dir,
    * surfacing null params) skip the check (the caller's contract
    * stands).
    *
    * The index frame is consumed as-is (twice: band probe + shingle
    * verify), both reads column-pruned, so a PARQUET-BACKED index costs
    * two pruned scans of sketch-sized data, never corpus text. A caller
    * passing a freshly COMPUTED (non-source-backed) frame must persist
    * or materialize it first — otherwise the full corpus re-shingles
    * twice, exactly what this path exists to avoid; the PATH overload
    * (indexPath: String) is immune by construction and should be the
    * default choice outside tests. */
  def admitNewDocsWithIndex(newDf: DataFrame, indexFrame: DataFrame,
      id: Column, text: Column, shingleN: Int = 3, k: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      broadcastNew: Boolean = true): DataFrame = {
    validateIndexParamsAndCount(indexFrame, shingleN, k, rowsPerBand,
      needCount = false)
    admitCore(shingleBandFrame(newDf, id, text, shingleN, k, rowsPerBand),
      indexFrame.select(col("doc_id"), col("sh"), col("bands")),
      threshold, broadcastNew)
  }

  /** The ARTIFACT form of [[admitNewDocsWithIndex]] — the easy path made
    * the safe path: pass the parquet DIRECTORY a [[nearDupIndex]] was
    * written to (nested batch subdirs welcome — read recursively, the
    * [[graft.streaming.AdmissionStream]] layout), and the build
    * parameters are READ FROM the artifact's embedded `p_*` columns
    * rather than re-supplied, so a probe/build mismatch is impossible
    * by construction, and the index is parquet-backed by construction —
    * the two pruned index scans can never degenerate into the
    * re-shingle-the-corpus-twice trap a freshly COMPUTED frame hits.
    * Requires a parameter-carrying artifact with exactly one parameter
    * generation (a legacy parameter-less or mixed-generation dir must go
    * through the frame overload with explicit parameters). */
  def admitNewDocsWithIndex(newDf: DataFrame, indexPath0: String, id: Column,
      text: Column, threshold: Double): DataFrame = {
    // pointer-committed roots resolve to their current generation here
    // (the object-store layout — [[Fs.concrete]]); plain dirs pass
    // through, same contract as the ANN probes
    val indexPath = Fs.concrete(indexPath0)
    // tombstoned docs are masked out of the probed set here, so a new
    // document that matched ONLY deleted docs admits
    val ix = standingIndex(newDf.sparkSession, indexPath)
    val paramCols = Seq("p_shingle_n", "p_k", "p_rows_per_band")
    require(paramCols.forall(ix.columns.contains),
      s"near-dup index at $indexPath carries no build parameters " +
        "(legacy artifact) — probe it through the frame overload with " +
        "the build-time (shingleN, k, rowsPerBand)")
    val gens = ix.select(paramCols.map(col): _*)
      .filter(paramCols.map(col(_).isNotNull).reduce(_ && _))
      .distinct().collect()
    require(gens.length == 1,
      s"near-dup index at $indexPath holds ${gens.length} parameter " +
        "generations — a single generation is required to derive the " +
        "probe parameters; rebuild or probe through the frame overload")
    val g = gens.head
    // params came FROM the artifact — the frame overload's mismatch
    // check would re-scan them only to confirm a tautology, so go
    // straight to the core
    // the artifact path IS the bounded-ingest contract ("each ingest
    // pays |new| shingling"), so the new side always broadcasts here; a
    // corpus-scale probe belongs on the frame overload, which has the
    // broadcastNew opt-out
    admitCore(
      shingleBandFrame(newDf, id, text, g.getInt(0), g.getInt(1), g.getInt(2)),
      ix.select(col("doc_id"), col("sh"), col("bands")), threshold)
  }

  /** REBUILD a standing near-dup index under new parameters — the
    * escape hatch for the mixed-generation dead end: the path overload
    * of [[admitNewDocsWithIndex]] fail-fasts when an index tree holds
    * more than one (shingleN, k, rowsPerBand) generation (a
    * re-parameterized rebuild landed beside legacy files — exactly what
    * accretes at 100 TB over years of ingest), and at that point no
    * probe parameterization is safe. This re-shingles the KEPT SET from
    * a caller-supplied (doc_id, text) source — the documents table or a
    * stored text side; signatures cannot be re-derived from signatures —
    * restricted to the doc_ids the standing tree holds (whatever
    * generation each came from), and commits a fresh single-generation
    * [[nearDupIndex]] artifact through [[Fs.commitFold]] (crash-safe: a
    * staged swap on a plain root, a new generation on a pointer root).
    * The rebuilt tree is flat target-sized files — also a compaction.
    * Run between ingest sessions, never concurrently with one. Returns
    * the rebuilt file count.
    *
    * Cost is one full re-shingle of the kept set — the once-per-
    * reparameterization price the artifact's embedded parameters exist
    * to make explicit rather than silent. `docs` must cover every kept
    * doc_id; ids missing from it would be silently dropped from the
    * index, so the rebuild REQUIRES full coverage and throws otherwise. */
  def rebuildNearDupIndex(docs: DataFrame, indexPath: String, id: Column,
      text: Column, shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      targetFileBytes: Long = 128L << 20, retain: Option[Int] = None): Int =
    // pointer-committed root: kept set comes from the CURRENT generation
    // (and its tombstones), and the rebuilt index publishes as a NEW
    // generation — same contract as [[compactNearDupIndex]]
    Fs.commitFold(indexPath, None, targetFileBytes, retain) { (concrete, n) =>
      val spark = docs.sparkSession
      require(Fs.isDirectory(concrete), s"no near-dup index tree at $concrete")
      // tombstoned ids are dropped from the kept set — a rebuild is also
      // a physical delete fold, and the coverage guard must not demand
      // text for documents being deleted
      val keptIds = standingIndex(spark, concrete).select(col("doc_id"))
        .distinct().localCheckpoint(true)
      val kept = keptIds.count()
      val src = docs.select(id.as("doc_id"), text.as("txt"))
      val covered = src.join(keptIds, Seq("doc_id"), "left_semi")
      // one id-only pass for both guards (rows vs distinct ids) — the
      // text payload stays out of it and nothing corpus-sized is pinned
      val guardRow = covered.select(col("doc_id"))
        .agg(count(lit(1)).as("rows"), count_distinct(col("doc_id")).as("ids"))
        .collect().head
      val (coveredRows, coveredIds) = (guardRow.getLong(0), guardRow.getLong(1))
      require(coveredIds == kept,
        s"rebuild source covers $coveredIds of $kept kept doc_ids — a " +
          "partial rebuild would silently drop documents from the index; " +
          "supply a text source spanning the whole kept set")
      // duplicate doc_id rows in the SOURCE would pass the distinct-count
      // coverage check while silently landing duplicate signature rows in
      // the rebuilt index (an index is one row per doc_id by contract)
      require(coveredRows == coveredIds,
        s"rebuild source holds $coveredRows rows for $coveredIds distinct " +
          "kept doc_ids — duplicate ids would land duplicate signature " +
          "rows; dedupe the source on the id column first")
      // sized from the standing tree's bytes (same-rows-similar-encoding
      // approximation, the compactTree sizing rule)
      Some(dst =>
        nearDupIndex(covered, col("doc_id"), col("txt"), shingleN, k, rowsPerBand)
          .repartition(n)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dst))
    }

  /** DELETE documents from a standing near-dup index tree — the missing
    * verb of the build/admit/ingest/compact/rebuild lifecycle (takedowns,
    * retention windows, dedup-policy reversals; without it the only
    * removal path is [[rebuildNearDupIndex]]'s full re-shingle). The ids
    * land as a blind append to the tree's tombstone table
    * ([[Fs.appendTombstones]]) — O(|deleted|) rows written, no signature
    * data touched, invisible to every recursive data read of the tree
    * (the `_` prefix) — and take effect at the next probe (the path
    * overload of [[admitNewDocsWithIndex]] and
    * [[graft.streaming.AdmissionStream]] mask them, so a new document
    * that matched ONLY deleted docs admits) until [[compactNearDupIndex]]
    * or [[rebuildNearDupIndex]] folds them in physically. Replayed
    * deletes and ids absent from the tree are harmless (set semantics at
    * every read). `ids` must expose `doc_id`. */
  def deleteFromNearDupIndex(ids: DataFrame, indexPath: String): Unit =
    Fs.appendTombstones(ids, indexPath, "doc_id")

  /** The signature rows of the concrete index tree at `dir` (nested
    * batch subdirs included), tombstoned doc_ids masked out. */
  private def standingIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Fs.masked(spark.read.option("recursiveFileLookup", "true").parquet(dir),
      Fs.tombstones(spark, dir, "doc_id"), "doc_id", "doc_id")

  /** Fold the tombstone table into the tree PHYSICALLY — the near-dup
    * counterpart of [[Similarity.compactIvfFlatIndex]]'s delete fold:
    * the whole tree (seed + batch subdirs) minus deleted doc_ids
    * rewrites as flat target-sized files through [[Fs.commitFold]], so
    * it is also a compaction; signatures are parameter-stable under
    * deletion, so no re-shingle happens (that is [[rebuildNearDupIndex]]'s
    * job, and only for PARAMETER changes). On a plain root the tombstone
    * table rides into `__old` with the swapped-out tree — deletes and
    * data commit in the same rename; a pointer-committed root reads the
    * CURRENT generation (a recursive read of the root would union every
    * gen-* dir, resurrecting superseded docs) and publishes the fold as
    * a new one. Run between ingest sessions, never concurrently with
    * one. Returns the rewritten file count. */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetFileBytes: Long = 128L << 20,
      retain: Option[Int] = None): Int =
    Fs.commitFold(indexPath, None, targetFileBytes, retain) { (concrete, n) =>
      require(Fs.isDirectory(concrete), s"no near-dup index tree at $concrete")
      val kept = standingIndex(spark, concrete)
      require(!kept.isEmpty,
        s"compacting $concrete would delete every remaining document — " +
          "an empty index admits everything; rebuild or reseed instead")
      Some(dst => kept.repartition(n)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dst))
    }

  /** The distributed probe → survivor → in-batch-pair chain of
    * [[admitCore]] (and so of [[admitPrehashedBounded]]'s past-cap
    * fallback): returns (sv, pairs) where `sv` is the UNPINNED survivor
    * frame — docs that matched nothing in the index — and `pairs` builds
    * the verified in-batch near-dup edges among a pinned survivor frame
    * (both endpoints survivors). [[admitCore]] localCheckpoints `sv`
    * eagerly (its components loop needs the pinned frame at once). See
    * the inline notes for the join-strategy reasoning. */
  private def survivorPairs(nw: DataFrame, ix: DataFrame,
      threshold: Double,
      broadcastNew: Boolean): (DataFrame, DataFrame => DataFrame) = {
    // new-vs-index: one band join, (band, id) pairs only; shingles join
    // in for the surviving candidate set. `broadcastNew` (default on)
    // pins the BUILD side of both index-touching joins to the NEW/
    // candidate side: the new side is an ingest batch — bounded by the
    // deployment's trigger — while the index is corpus-sized, and the
    // optimizer can't see that through a checkpointed batch's unknown
    // stats. Without the hint, at bench scale the SMALL index side
    // auto-broadcasts (same plan class, fine), but past the broadcast
    // threshold the join degrades to shuffling the CORPUS-SIZED band
    // index every micro-batch — exactly the "probe pays |new|" contract
    // inverted. The hint makes the contract true in plan shape at every
    // index size (AdmitCoreComponentsSpec pins it with auto-broadcast
    // off); pass false when probing with a genuinely corpus-scale new
    // frame, where the optimizer should choose.
    val cand = bandCandidates(bandRows(nw), Some(bandRows(ix)), None,
      "id_n", "id_o", hintA = broadcastNew)
    // the verify join against the index shingles is deliberately
    // UNHINTED (only the new-side shingle join is): its candidate side
    // is bounded by |candidate pairs| × shingle payload, which scales
    // with corpus-side band collisions (hot/skewed bands), not the
    // ingest batch — a forced broadcast would fail the job outright past
    // the driver/broadcast limit where a sort-merge completes. At bench
    // scale the small side still auto-broadcasts, and under AQE a
    // runtime-small candidate frame is converted to a broadcast join
    // anyway — the optimizer-chosen path is the only one safe at every
    // collision profile.
    val matched = verifyJaccard(cand, nw, ix, "sh", threshold, "id_n",
        "id_o", hintA = broadcastNew)
      .select(col("id_n")).distinct()
    // survivors of the index check, deduped among themselves. The
    // index-probe above (band join + Jaccard verify — the expensive
    // stage) feeds every consumer below: the survivor self-join, BOTH
    // shingle-verify joins, the components loop's edge materialization
    // AND the final admitted-ids evaluation — without pinning, each
    // action re-runs it (the probe ran 3-4x per admission batch).
    // localCheckpoint is the components-loop idiom: survivors are
    // batch-sized, and admit* is already an eager API (the components
    // fixpoint below runs driver-side rounds).
    // every frame below is batch-bounded (survivors ⊆ the new batch), so
    // the same hint keeps the whole in-batch dedup shuffle-free past the
    // auto-broadcast threshold
    val sv = nw.join(hinted(matched, broadcastNew),
      nw("doc_id") === matched("id_n"), "left_anti")
    def pairs(sv: DataFrame): DataFrame =
      verifyJaccard(
          bandCandidates(bandRows(sv), None, None, hintB = broadcastNew),
          sv, sv, "sh", threshold, hintA = broadcastNew, hintB = broadcastNew)
        .select(col("id_a"), col("id_b"))
    (sv, pairs)
  }

  private def admitCore(nw: DataFrame, ix: DataFrame,
      threshold: Double, broadcastNew: Boolean = true): DataFrame = {
    val (sv, pairs) = survivorPairs(nw, ix, threshold, broadcastNew)
    keepRepresentatives(sv.localCheckpoint(true), pairs, "doc_id")
  }

  /** The survivors that are their component's min-id representative:
    * components over the in-batch pairs of `sv` ([[boundedComponents]] —
    * the bounded driver union-find, distributed star past the cap),
    * left-joined back so pair-free survivors keep themselves. */
  private def keepRepresentatives(sv: DataFrame,
      pairs: DataFrame => DataFrame, id: String): DataFrame =
    minIdKeep(sv.select(col(id)),
      boundedComponents(pairs(sv), col("id_a"), col("id_b")), id)

  /** The rows of `df` that are their component's min-id representative
    * under the (id, comp) labeling `comps`: left-joined on `id`, so a row
    * in no component keeps itself — the keep rule of the admissions and
    * of every [[CorpusPipeline]] clean. */
  private[operators] def minIdKeep(df: DataFrame, comps: DataFrame,
      id: String): DataFrame =
    df.join(comps, col(id) === col("id"), "left")
      .filter(col("comp").isNull || col("comp") === col(id))
      .drop("id", "comp")

  /** The driver-side bound of a bounded admission, in payload: a row
    * weighs one plus the elements of its array columns (the shingle sets
    * and band keys, or the cell and the embedding), so the bound caps
    * rows too. It bounds each collect (the batch, the index candidates,
    * the vector survivors, a streaming session's [[IndexView]]) and the
    * vector verify's candidate layout (the MinHash verify reads held
    * shingle sets, [[passes]], and lays nothing out); the quadratic
    * pair bound (`cap`, [[InBatchPairCap]] by default) counts candidate
    * pairs per shared key before any pair exists. Past
    * either, the distributed path runs instead ([[admitCore]]'s
    * survivorPairs / keepRepresentatives chain, unchanged). On the
    * one-job take ([[takeBounded]]) the bound holds during the transfer,
    * per partition and in total; past [[TakeBoundedMaxParts]] partitions
    * the incremental take bounds rows only and the payload is checked
    * once the rows are on the driver.
    *
    * 2¹⁸ is set from a measurement of both paths (4 vCPUs, local[4],
    * 4 GB heap; medians of three): batches of 40–120-word documents
    * (about 83 units each, 15% reposts of a 2,000-document parquet index,
    * 10% in-batch reposts) took, on the driver path, 0.46× the
    * distributed path's time at 400 documents (33k units), 0.81× at
    * 2,000 (166k), 0.98× at 3,000 (247k), 1.24× at 4,000 (331k) and 2.1×
    * at 20,000 (1.66M): the driver's take, layout and verify are one
    * thread, the distributed path runs on every core. 2¹⁸ is the largest
    * power of two under that break-even. 384-dimension vectors (386 units
    * a survivor, 772 a candidate pair in the verify) broke even at about
    * 850k verify units (1,095 pairs: 0.98×; 587 pairs: 0.90×), so the
    * bound keeps them under it too. At the bound a collect's rows retain
    * 18–19 MB of driver heap (69–72 bytes a unit, measured).
    *
    * The same bound holds a streaming session's [[IndexView]], where it is
    * a memory bound, not a speed one: measured on the same corpora up to
    * 458k units (`tools/view_bound_probe.txt`), the view's build had paid
    * for itself against per-trigger tree probes by the second trigger at
    * every size, and a built view retains about 100 bytes a unit for the
    * session's life (26 MB at 2¹⁸). */
  private[graft] val BoundedPayload = 1L << 18

  /** A row's weight for [[BoundedPayload]]: one plus the elements of its
    * array columns. */
  private val rowWeight: Row => Long = r =>
    1L + (0 until r.length).iterator.map(i => r.get(i) match {
      case s: scala.collection.Seq[_] => s.length.toLong
      case _ => 0L
    }).sum

  /** `df`'s rows on the driver when they weigh at most `payloadCap` in
    * all ([[rowWeight]]; [[takeBounded]], one job; none for a local
    * frame), else None. */
  private[graft] def boundedRows(df: DataFrame,
      payloadCap: Long = BoundedPayload): Option[Seq[Row]] = {
    val rows = takeBounded(df, math.min(payloadCap, Int.MaxValue - 1L).toInt,
      payloadCap, rowWeight)
    if (rows.iterator.map(rowWeight).sum > payloadCap) None
    else Some(rows.toSeq)
  }

  /** `df` held on the driver — a LocalRelation of `rows`, its rows as a
    * [[boundedRows]] take brought them back, under its own schema. Every
    * plan over the result reads the driver's rows: a filter or
    * projection of it is folded into a new LocalRelation while optimizing
    * (no job), a write of it is the write job alone, and it never re-runs
    * `df`'s plan. */
  private[graft] def heldFrame(df: DataFrame, rows: Seq[Row]): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
      df.schema)

  /** The pairs of `pairs` that pass `verify`, evaluated on the driver —
    * the vector admission's in-batch verify: one
    * row per pair and per combination of the two ids' rows (a duplicated
    * id verifies every copy, as the distributed verify joins do), laid
    * out as (id_a, id_b, <payload>_a…, <payload>_b…) with the payload
    * columns from position 2 of `rowsA`/`rowsB` (typed by `payload`).
    * The rows form a LocalRelation, and ConvertToLocalRelation evaluates
    * the filter while optimizing: no job runs, and the predicate is the
    * distributed path's own Column, so every decision is bit-identical.
    * None when those rows would weigh more than `payloadCap`
    * ([[rowWeight]], counted before any row is built). */
  private def verifyLocally(spark: SparkSession, pairs: Seq[(Long, Long)],
      rowsA: Map[Long, Seq[Row]], rowsB: Map[Long, Seq[Row]],
      payload: Seq[StructField], verify: Column,
      payloadCap: Long): Option[Seq[(Long, Long)]] = {
    def weight(rs: Seq[Row]) = rs.iterator.map(rowWeight).sum
    val load = pairs.iterator.map { case (a, b) =>
      rowsB(b).length * weight(rowsA(a)) + rowsA(a).length * weight(rowsB(b))
    }.sum
    if (load > payloadCap) None
    else if (pairs.isEmpty) Some(Nil)
    else {
      val ps = payload.indices.map(_ + 2)
      val rows = for {
        (a, b) <- pairs; ra <- rowsA(a); rb <- rowsB(b)
      } yield Row.fromSeq(Seq(a, b) ++ ps.map(ra.get) ++ ps.map(rb.get))
      val schema = StructType(
        Seq(StructField("id_a", LongType), StructField("id_b", LongType)) ++
          payload.map(f => f.copy(name = s"${f.name}_a")) ++
          payload.map(f => f.copy(name = s"${f.name}_b")))
      Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .filter(verify).select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
  }

  /** The block keys (position 1) of a taken row — none when null. */
  private def keysOf(r: Row): Seq[Any] =
    if (r.isNullAt(1)) Nil else r.getSeq[Any](1)

  /** The ids of `rows` under each of their block keys (a key a row
    * carries twice lists the row twice). */
  private def idsByKey[R](rows: Seq[R], id: R => Long,
      keys: R => Seq[Any]): Map[Any, Seq[Long]] =
    rows.flatMap(r => keys(r).map(_ -> id(r))).groupMap(_._1)(_._2)

  /** The in-batch half of a bounded admission, shared by
    * [[admitPrehashedBounded]], [[admitHeld]] and
    * [[admitNewVecsPreassignedBounded]]. `survivors` are the survivor
    * rows on the driver (None when a collect crossed its bound), each
    * with its `id` and block `keys`. Two survivors sharing a block key
    * (MinHash bands, or the one IVF cell) are a candidate (a < b,
    * distinct: ≡ the distributed self-join); the quadratic term of the
    * buckets is counted against `cap` before any pair materializes, so a
    * degenerate key shared by every survivor routes to `fallback` like a
    * past-bound collect. `verify` keeps the candidates that match under
    * some pair of their rows (given every survivor row by id; None past
    * its own bound), the exact min-label union-find runs over the
    * verified edges, and the admitted ids — survivors that are their
    * component's min-id representative, sorted, a duplicated id once per
    * row as the distributed path returns it — come back Left. Past a
    * bound, `fallback` (the distributed keepRepresentatives chain) comes
    * back Right. Label-equivalence of local vs distributed components is
    * pinned by AdmitCoreComponentsSpec; AdmissionStreamSpec and
    * SemanticAdmissionSpec pin the loops end to end. */
  private def boundedAdmit[R](survivors: Option[Seq[R]], id: R => Long,
      keys: R => Seq[Any], cap: Int)(
      verify: (Seq[(Long, Long)], Map[Long, Seq[R]]) =>
        Option[Seq[(Long, Long)]])(
      fallback: => DataFrame): Either[Seq[Long], DataFrame] =
    survivors.flatMap { rows =>
      val buckets = idsByKey(rows, id, keys).values
      if (buckets.map(b => b.length.toLong * (b.length - 1) / 2).sum > cap)
        None
      else {
        val cand = (for {
          b <- buckets; i <- b.indices; j <- i + 1 until b.length
          if b(i) != b(j)
        } yield (b(i) min b(j), b(i) max b(j))).toSet
        verify(cand.toSeq.sorted, rows.groupBy(id)).map { edges =>
          val comp = localMinLabelComponents(edges)
          rows.map(id).filter(x => comp.get(x).forall(_ == x)).sorted
        }
      }
    }.toLeft(fallback)

  /** [[boundedAdmit]] over taken rows, verified by [[verifyLocally]]
    * under `verify` with the payload columns from position 2 of
    * `schema`. */
  private def boundedAdmitRows(spark: SparkSession,
      survivors: Option[Seq[Row]], schema: StructType, verify: Column,
      cap: Int, payloadCap: Long)(
      fallback: => DataFrame): Either[Seq[Long], DataFrame] =
    boundedAdmit[Row](survivors, _.getLong(0), keysOf, cap)((cand, byId) =>
      verifyLocally(spark, cand, byId, byId, schema.fields.drop(2).toSeq,
        verify, payloadCap))(fallback)

  /** A bounded admission's result as the filter the streaming loops put
    * on every frame keyed by `id` (the admitted rows, the index
    * fold-back, the observer's rows): for driver-side ids an
    * `isInCollection` — a map-only filter, no join and no broadcast
    * exchange (a semi-join against a broadcast LocalRelation still runs
    * a broadcast job: the exchange collects its build side through
    * `executeCollectIterator`, which LocalTableScanExec does not
    * override) — and for the distributed frame a semi-join against it
    * pinned once (its consumers would each re-run the probe). */
  private[graft] def admittedFilter(admitted: Either[Seq[Long], DataFrame],
      id: String): DataFrame => DataFrame =
    admitted match {
      case Left(ids) => _.filter(col(id).isInCollection(ids))
      case Right(df) =>
        val pinned = df.localCheckpoint(true)
        _.join(pinned, Seq(id), "left_semi")
    }

  /** [[admitPrehashed]] with the admitted ids returned DRIVER-SIDE when
    * bounded — the streaming admission's per-batch shape when it probes
    * the index tree ([[admitHeld]] probes a held view), two bounded
    * collects and no other job:
    *  1. the batch collect: one [[boundedRows]] take brings the batch's
    *     (doc_id, bands, sh) to the driver (free when `newSigs` is
    *     already held — [[heldFrame]], as the streaming loop does);
    *  2. the index collect: one more take brings back the index rows
    *     that share a band with the batch — `indexFrame` filtered by an
    *     `isInCollection` of the batch's bands over each row's bands, one
    *     map-only scan with no exchange, which also carries the shingles
    *     (no second read of the index).
    * Both are held ([[HeldSig]]) and decided by [[admitHeld]]'s core
    * ([[admitAgainst]]). It verifies every row of a candidate index id,
    * as the distributed verify join does: the candidates the
    * band-sharing rows leave unmatched verify against all rows of their
    * ids, brought back by one more collect (an `isInCollection` on
    * doc_id) — run only when such candidates exist. Past `payloadCap` on
    * any collect, past `cap` candidate pairs, or for non-long ids the
    * distributed [[admitCore]] comes back instead (Right). Same
    * decisions as [[admitPrehashed]]: BoundedAdmissionSpec pins it on
    * seeded corpora and past each bound. */
  private[graft] def admitPrehashedBounded(newSigs: DataFrame,
      indexFrame: DataFrame, threshold: Double, cap: Int = InBatchPairCap,
      payloadCap: Long = BoundedPayload): Either[Seq[Long], DataFrame] = {
    val nw = newSigs.select(col("doc_id"), col("bands"), col("sh"))
    val ix = indexFrame.select(col("doc_id"), col("bands"), col("sh"))
    def distributed: DataFrame = admitCore(nw, ix, threshold)
    if (!Seq(nw, ix).forall(_.schema("doc_id").dataType == LongType))
      return Right(distributed)
    def held(df: DataFrame): Option[Seq[HeldSig]] =
      boundedRows(df, payloadCap).map(HeldSig.of(_, df.schema, _ => -1L))
    def indexRows(keep: Column) = held(ix.filter(col("doc_id").isNotNull && keep))
    held(nw).flatMap { batch =>
      val bands = batch.flatMap(_.bands).distinct
      (if (bands.isEmpty) Some(Nil)
        else indexRows(exists(col("bands"), _.isInCollection(bands))))
        .map(batch -> _)
    }.fold[Either[Seq[Long], DataFrame]](Right(distributed)) {
      case (batch, shared) =>
        admitAgainst(batch, shared, ids =>
          indexRows(col("doc_id").isInCollection(ids)).map(_.groupBy(_.id)),
          threshold, cap)(distributed)
    }
  }

  /** A signature row held on the driver: its id, band keys and shingle
    * set (built once, for the driver verify), its [[rowWeight]] as taken,
    * and its origin — the batch id of the `batch-<id>` subdir that folded
    * it back, −1 for a standing root. */
  private[graft] final class HeldSig(val id: Long, val bands: Seq[Any],
      val sh: Set[Any], val weight: Long, val origin: Long)

  private[graft] object HeldSig {
    /** The rows of a signature frame of `schema` (its `doc_id`, `bands`
      * and `sh` columns, by name) as held signatures of `origin`. */
    def of(rows: Seq[Row], schema: StructType,
        origin: Row => Long): Seq[HeldSig] = {
      val Seq(i, b, s) = Seq("doc_id", "bands", "sh").map(schema.fieldIndex)
      rows.map { r =>
        def arr(j: Int) = if (r.isNullAt(j)) null else r.getSeq[Any](j)
        val (bands, sh) = (arr(b), arr(s))
        new HeldSig(r.getLong(i), Option(bands).getOrElse(Nil),
          Option(sh).map(_.toSet).orNull, rowWeight(r), origin(r))
      }
    }
  }

  /** [[jaccard]] ≥ `threshold` on two held shingle sets: |A∩B| / |A∪B|
    * as the same IEEE double division. A null or empty set passes
    * nothing, as the Column's null does. */
  private def passes(a: Set[Any], b: Set[Any], threshold: Double): Boolean =
    a != null && b != null && {
      val inter = (if (a.size <= b.size) a.count(b) else b.count(a)).toDouble
      val union = a.size + b.size - inter
      union > 0 && inter / union >= threshold
    }

  /** A near-dup signature index held on the driver for an ingest session:
    * its rows with their origins ([[HeldSig]]), indexed by band and by
    * id, deleted ids masked. [[landed]] folds a batch back, [[compacted]]
    * mirrors a mid-stream tree fold. */
  private[graft] final class IndexView(val sigs: Vector[HeldSig],
      val tombstoned: Set[Long]) {
    val weight: Long = sigs.iterator.map(_.weight).sum
    lazy val byBand: Map[Any, Vector[Int]] = sigs.indices.toVector
      .flatMap(i => sigs(i).bands.map(_ -> i)).groupMap(_._1)(_._2)
    lazy val byId: Map[Long, Vector[HeldSig]] = sigs.groupBy(_.id)

    /** The view after batch `batchId` folded back `rows` (its admitted
      * signatures, which replace any earlier attempt's), None past
      * [[BoundedPayload]]. */
    def landed(batchId: Long, rows: Seq[HeldSig]): Option[IndexView] =
      Some(new IndexView(sigs.filter(_.origin != batchId) ++
          rows.filterNot(r => tombstoned(r.id)), tombstoned))
        .filter(_.weight <= BoundedPayload)

    /** The view after a fold of every row outside batch `keep`'s subdir
      * into the standing root. */
    def compacted(keep: Long): IndexView =
      new IndexView(sigs.map(r => if (r.origin == keep) r
        else new HeldSig(r.id, r.bands, r.sh, r.weight, -1L)), tombstoned)
  }

  private[graft] object IndexView {
    /** The view of taken index rows of `schema` ([[HeldSig.of]]) minus
      * the `tombstoned` ids and the null ids no probe can match. */
    def apply(rows: Seq[Row], schema: StructType, origin: Row => Long,
        tombstoned: Set[Long]): IndexView = {
      val id = schema.fieldIndex("doc_id")
      new IndexView(HeldSig.of(rows.filterNot(_.isNullAt(id)), schema, origin)
        .filterNot(r => tombstoned(r.id)).toVector, tombstoned)
    }
  }

  /** [[admitPrehashedBounded]] against a session's [[IndexView]] — the
    * streaming loop's per-batch probe when its index is held: `nw`, the
    * held signatures of a [[nearDupIndex]] frame, probes the view's rows
    * of origin < `batchId` (a replayed batch never sees its own
    * fold-back, nor a later batch's) through [[admitAgainst]], and runs
    * no job. BoundedAdmissionSpec pins it ≡ [[admitPrehashed]]. */
  private[graft] def admitHeld(nw: Seq[HeldSig], view: IndexView,
      batchId: Long, threshold: Double, cap: Int = InBatchPairCap)(
      distributed: => DataFrame): Either[Seq[Long], DataFrame] = {
    val shared = nw.iterator.flatMap(_.bands).distinct
      .flatMap(view.byBand.getOrElse(_, Vector.empty))
      .filter(view.sigs(_).origin < batchId).toVector.distinct
      .map(view.sigs)
    admitAgainst(nw, shared, ids => Some(ids.map(o =>
        o -> view.byId(o).filter(_.origin < batchId)).toMap),
      threshold, cap)(distributed)
  }

  /** The one MinHash probe of a bounded admission, on held signatures:
    * the batch `nw` against `shared`, the index rows that share a band
    * with it. A batch and an index row sharing a band are a candidate
    * (distinct id pairs — ≡ the band join); their count per shared band
    * is checked against `cap` before any pair exists. A candidate
    * verifies against the index id's band-sharing rows first, and those
    * it leaves unmatched against every row of their ids (`rowsOf`, None
    * past its bound), as the distributed verify join reads every row of
    * an id: an id on several rows (a re-landed doc_id with new text) may
    * have rows that share no band with the batch. The batch docs no
    * index row matches then go through [[boundedAdmit]]. Every verify is
    * [[passes]] on the held shingle sets. Past a bound, `distributed`
    * comes back Right. */
  private def admitAgainst(nw: Seq[HeldSig], shared: Seq[HeldSig],
      rowsOf: Seq[Long] => Option[Map[Long, Seq[HeldSig]]],
      threshold: Double, cap: Int)(
      distributed: => DataFrame): Either[Seq[Long], DataFrame] = {
    val byBand = idsByKey[HeldSig](nw, _.id, _.bands)
    val ixByBand = idsByKey[HeldSig](shared, _.id, _.bands)
    val byId = nw.groupBy(_.id)
    def matches(as: Seq[HeldSig], bs: Seq[HeldSig]) =
      as.exists(a => bs.exists(b => passes(a.sh, b.sh, threshold)))
    def matched(pairs: Set[(Long, Long)], rows: Map[Long, Seq[HeldSig]]) =
      pairs.filter { case (n, o) => matches(byId(n), rows.getOrElse(o, Nil)) }
        .map(_._1)
    val survivors =
      if (ixByBand.iterator.map { case (k, os) =>
          os.length.toLong * byBand.getOrElse(k, Nil).length }.sum > cap)
        None
      else {
        val cand = ixByBand.iterator.flatMap { case (k, os) =>
          for (n <- byBand.getOrElse(k, Nil); o <- os) yield (n, o)
        }.toSet[(Long, Long)]
        val hit = matched(cand, shared.groupBy(_.id))
        val open = cand.filterNot(p => hit(p._1))
        (if (open.isEmpty) Some(hit)
          else rowsOf(open.map(_._2).toSeq.distinct.sorted)
            .map(all => hit ++ matched(open, all)))
          .map(rejected => nw.filterNot(r => rejected(r.id)))
      }
    boundedAdmit[HeldSig](survivors, _.id, _.bands, cap)((cand, rows) =>
      Some(cand.filter { case (a, b) => matches(rows(a), rows(b)) }))(
      distributed)
  }

  /** A local (LocalRelation) frame of long columns — the bounded driver
    * results handed back to the plan. */
  private def longFrame(spark: SparkSession, names: Seq[String],
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(names.map(StructField(_, LongType))))

  /** Components over the in-batch survivor pair graph, driver-side when
    * BOUNDED: an admission batch's internal near-dup pairs are
    * micro-batch-sized by construction (both endpoints are batch docs),
    * so the star-contraction fixpoint — ~6 small jobs per batch
    * (checkpoint + emptiness probe + per-round contraction + convergence
    * check), pure driver job latency at this graph size — is replaced by
    * ONE bounded collect and an exact union-find. BOUNDED means: collect
    * at most [[InBatchPairCap]]+1 rows (a `limit` bounds the transfer,
    * ~2 MB of id pairs at the cap); a graph past the cap, or non-integral
    * ids (the local min must reproduce Spark's ordering exactly —
    * guaranteed for integral types, not for UTF8 strings), falls back to
    * the distributed [[connectedComponentsStar]] loop unchanged.
    * AdmitCoreComponentsSpec pins local ≡ star on random pair graphs. */
  private[graft] val InBatchPairCap = 131072

  /** [[connectedComponentsAuto]]'s edge budget — larger than the
    * admission loop's [[InBatchPairCap]] because a BATCH clean's
    * components collect happens once per pipeline run, not once per
    * micro-batch: 2²⁰ (id, id) rows ≈ 16 MB through the driver, and the
    * union-find on them is milliseconds. Sized so a fixture-scale
    * verified near-dup graph (df-ceiling-bounded) stays on the fast
    * path while a genuinely corpus-scale graph still falls back to the
    * distributed star loop. */
  private[graft] val BatchCleanPairCap = 1 << 20

  /** [[connectedComponentsStar]] with the micro-graph fast path: when
    * the pair graph is integral-keyed and holds ≤ [[InBatchPairCap]]
    * edges, ONE bounded collect + exact union-find replaces the
    * contraction loop's ~6 driver-latency jobs per round
    * (label-identical — AdmitCoreComponentsSpec pins local ≡ star on
    * random graphs); larger or string-keyed graphs run the distributed
    * loop unchanged. The batch cleaning pipelines route through this:
    * their pair graphs are post-banding VERIFIED near-dup edges —
    * df-ceiling-bounded and tiny relative to the corpus — so the
    * common case pays one bounded collect while a pathological graph
    * (cap exceeded) still gets the distributed loop. The returned
    * frame is broadcast-hinted on the fast path, so the survivor label
    * join never shuffles for it. */
  def connectedComponentsAuto(pairs: DataFrame, idA: Column,
      idB: Column, maxIter: Int = 25): DataFrame =
    boundedComponents(pairs, idA, idB, materializeEdges = true,
      cap = BatchCleanPairCap, maxIter = maxIter)

  /** `materializeEdges` trades one checkpoint job for a
    * single-evaluation guarantee on the pair-generation chain:
    *
    *  - `true` (the batch clean pipelines, via
    *    [[connectedComponentsAuto]]): the deduped edge set is
    *    localCheckpoint'd FIRST — the star loop's own first step — so
    *    the cap probe and a past-cap star fallback both read the
    *    checkpoint instead of re-running candidate generation + verify.
    *    Probing the raw frame and handing `pairs` to the fallback
    *    measured a FULL second generation pass on a 10× winnowing clean
    *    (r20 scale stress: +22% scaled wall). A corpus-scale clean's
    *    graph routinely exceeds the cap, so the checkpoint is the
    *    scale-correct default there; under-cap cleans pay one trivial
    *    checkpoint-read job.
    *  - `false` (the admission loop): an in-batch survivor graph is
    *    micro-batch-bounded by construction — it essentially never
    *    exceeds the cap, its generation chain is batch-sized, and the
    *    composed-ingest benches showed per-batch JOB COUNT is the
    *    floor — so the probe collects straight off the raw frame, one
    *    job, exactly the r19-optimized shape. */
  private def boundedComponents(pairs: DataFrame, idA: Column,
      idB: Column, materializeEdges: Boolean = false,
      cap: Int = InBatchPairCap, maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val p = pairs.select(idA.as("u"), idB.as("v"))
    val integral = p.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    if (!integral) return connectedComponentsStar(pairs, idA, idB, maxIter)
    val probeSrc =
      if (materializeEdges)
        p.filter(col("u") =!= col("v")).distinct().localCheckpoint()
      else p
    val head = takeBounded(probeSrc, cap)
      .map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue))
    if (head.length > cap)
      return connectedComponentsStar(probeSrc, col("u"), col("v"),
        maxIter) // unbounded: stay distributed
    val comp = localMinLabelComponents(head)
    // bounded by the cap — hint the label join's build side so the
    // survivor frame never shuffles for it (the fallback branch's star
    // output is pair-graph-sized and stays unhinted)
    broadcast(longFrame(spark, Seq("id", "comp"),
      comp.toSeq.sortBy(_._1).map { case (id, c) => Row(id, c) }))
  }

  /** Collect up to `cap` + 1 rows in ONE fully-parallel job — the
    * bounded-probe take shared by every cap-gated driver collect here
    * (and QuotaStream's admitted-set probe). `limit(cap+1).collect()`
    * runs Spark's incremental executeTake, which scans partition
    * batches of growing size (1, 4, 16, ...) until the limit is
    * satisfied — and an UNDER-cap frame (the design point of every one
    * of these probes) never satisfies it, so each probe paid
    * ~log₄(partitions)+1 driver-latency jobs for work the frame does
    * exactly once (the q112 BenchProbe's `collect ×4`; ~4 extra jobs
    * per admission micro-batch). A single runJob with a per-partition
    * `take(cap+1)` computes every partition once, in parallel, in one
    * job; the transfer stays bounded (≤ cap+1 rows per partition, and
    * ≤ cap+1 TOTAL whenever the frame is genuinely under the cap —
    * past it, any truncated partition pushes the collected total over
    * the cap, which is all the caller needs to route to its
    * distributed fallback; callers are set-semantic, so the partition
    * order of the result is immaterial). NOT a coalesce(1)+limit: that
    * collapses the final stage — including a probe's verify filters —
    * to one serial task (measured 10× slower per batch on the dense
    * q116 corpus).
    *
    * Worst-case transfer is parts × (cap+1) rows (every partition
    * truncated — a frame ≥ parts·cap rows, which the call then
    * immediately routes to the caller's distributed fallback), so the
    * one-job shape is gated on the session's configured parallelism:
    * past [[TakeBoundedMaxParts]] shuffle partitions — the production-
    * cluster regime, where a frame can carry thousands of reduce
    * partitions — the incremental `limit(cap+1).collect()` runs
    * instead: its transfer stays ~cap-bounded at ANY partition count,
    * and there its extra ~log₄(parts) jobs are noise against the
    * frame's own stage work. The gate reads the static conf, NOT the
    * frame's final RDD (under AQE, materializing the RDD to count its
    * partitions would already execute the frame's intermediate
    * stages — the gate must not cost a pass). The one-job path is
    * exactly where job count IS the floor: micro-batch / bench-scale
    * sessions with a few dozen partitions.
    *
    * `payload` weighs a row ([[rowWeight]] for [[boundedRows]]); each
    * partition, and the total, stops at the first row that takes it past
    * `payloadCap`, so on the one-job path the transfer is bounded in
    * payload as well as in rows. A frame that is a LocalRelation after
    * optimizing is collected directly, with no job. */
  private[graft] val TakeBoundedMaxParts = 64

  private[graft] def takeBounded(df: DataFrame, cap: Int,
      payloadCap: Long = Long.MaxValue,
      payload: Row => Long = _ => 0L): Array[Row] = {
    // a local frame's rows are already on the driver: collecting it runs
    // no job (LocalTableScanExec answers executeCollect itself)
    if (df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      return boundedPrefix(df.collect().iterator, cap, payloadCap, payload)
    val configured = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200")
    def incremental(): Array[Row] =
      boundedPrefix(df.limit(cap + 1).collect().iterator, cap, payloadCap,
        payload)
    if (scala.util.Try(configured.toInt).toOption.forall(_ > TakeBoundedMaxParts))
      return incremental()
    val rdd = df.rdd
    if (rdd.getNumPartitions == 0) return Array.empty
    if (rdd.getNumPartitions > TakeBoundedMaxParts) return incremental()
    val perPart = df.sparkSession.sparkContext.runJob(rdd,
      (it: Iterator[Row]) => boundedPrefix(it, cap, payloadCap, payload))
    // past cap+1 rows (or the payload cap) in total the exact content no
    // longer matters — every caller falls back — so stop accumulating
    boundedPrefix(perPart.iterator.flatMap(_.iterator), cap, payloadCap,
      payload)
  }

  /** The head of `it` up to the first row that takes it past `cap` rows
    * or past `payloadCap` in `payload` — that row included, so a caller
    * sees the crossing. */
  private def boundedPrefix(it: Iterator[Row], cap: Int, payloadCap: Long,
      payload: Row => Long): Array[Row] = {
    val out = Array.newBuilder[Row]
    var (n, w) = (0, 0L)
    while (n <= cap && w <= payloadCap && it.hasNext) {
      val r = it.next()
      out += r; n += 1; w += payload(r)
    }
    out.result()
  }

  /** Exact min-label connected components over a local edge list —
    * union-find with path compression; every node maps to the smallest
    * id reachable from it (the representative policy every distributed
    * components loop here implements). */
  private[graft] def localMinLabelComponents(
      edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Cross-TABLE MinHash fuzzy join — record/entity linkage between two
    * datasets by text similarity: (left_id, right_id, jaccard) for every
    * pair whose verified n-gram Jaccard ≥ `threshold`. The self-dedup
    * banding pointed across two tables: both sides hash under the SAME
    * (shingleN, k, rowsPerBand), candidates come from the band equi-join
    * (only rows sharing a band key ever meet — never a cross product),
    * and the exact-Jaccard verification runs per candidate only. At
    * scale the band join shuffles (band, id) pairs both ways — shingle
    * payloads attach afterwards for the surviving candidate set — and
    * either side can be the prior [[nearDupIndex]] artifact in spirit:
    * the left frame is typically the standing reference set, the right
    * the probe batch. */
  def minhashFuzzyJoin(left: DataFrame, right: DataFrame,
      idL: Column, textL: Column, idR: Column, textR: Column,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBandDf: Option[Long] = None): DataFrame = {
    val li = shingleBandFrame(left, idL, textL, shingleN, k, rowsPerBand)
    val ri = shingleBandFrame(right, idR, textR, shingleN, k, rowsPerBand)
    // optional boilerplate ceiling (the Winnowing.maxDf knob for this
    // join): a band key held by more than `maxBandDf` docs on a side is
    // template/boilerplate evidence, and its candidate volume is the
    // product of the two sides' counts — capping each side bounds the
    // join's quadratic term at maxBandDf² per band. Off by default
    // (exact banded semantics); at corpus scale this is the knob that
    // keeps one viral template from dominating the shuffle. The cap is
    // FOLDED INTO candidate generation (one collect_list groupBy per
    // side, oversized buckets dropped whole, then a bucket-level band
    // join — per-band memory ≤ 2·cap ids), not bolted on as an extra
    // df-count join per side: same pair set, two fewer shuffles.
    verifyJaccard(bandCandidates(bandRows(li), Some(bandRows(ri)), maxBandDf,
        "left_id", "right_id"),
      li, ri, "sh", threshold, "left_id", "right_id")
  }

  /** MinHash + LSH near-duplicate candidate pairs over a text column.
    *
    * shingle(n) → k MinHashes → bands of r rows → explode band keys →
    * self-join on band key → distinct (a < b) pairs → exact n-gram Jaccard
    * verification ≥ `threshold`.
    *
    * Scale: the self-join shuffles on band-key md5 (uniform); candidate
    * volume is bounded by bucket sizes — degenerate giant buckets (empty /
    * boilerplate docs) are the classic skew source, so callers should
    * pre-filter trivial docs. Verification cost is per-candidate-pair only,
    * never all-pairs.
    *
    * `maxBandDf`: drop band buckets holding more than this many docs
    * before pairing — same ceiling as [[minhashFuzzyJoin]]'s. A band
    * shared by far more docs than any real duplicate cluster is
    * boilerplate evidence, not similarity (at low band resolution —
    * rowsPerBand=1 — a single frequent shingle, e.g. a stopword-only
    * trigram, becomes the min for swaths of unrelated docs and pools
    * them into one bucket whose candidate count is quadratic in corpus
    * growth; the 10× scale stress measured 90× candidate growth
    * unceiled vs ~10× with the ceiling). Bounds the join at ceil² per
    * band. None = exact banding (every bucket pairs). */
  def minhashNearDupPairs(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBandDf: Option[Long] = None): DataFrame = {
    val docs = shingleBandFrame(df, id, text, shingleN, k, rowsPerBand)
    // the band self-join moves only (band, id) — candidate generation never
    // shuffles shingle payloads. At corpus scale the band index is a tiny
    // fraction of the documents' bytes, and the heavy arrays are attached
    // afterwards for the (much smaller) surviving candidate set only.
    // Two candidate-generation shapes, one pair set ([[bandCandidates]]).
    // The df-capped form replaces the previous {explode → df-groupBy →
    // filter-join → self-join} plan (three shuffles and a double explode
    // eval) that regressed the whole minhash-consuming family 1.3–5× at
    // sf0.1.
    verifyJaccard(bandCandidates(bandRows(docs), None, maxBandDf),
      docs, docs, "sh", threshold)
  }

  /** SCOPED MinHash near-dup pairs — [[minhashNearDupPairs]] restricted
    * to pairs that share a `scope` value (source / domain / language —
    * the FineWeb-style per-domain dedup every web-scale pipeline runs:
    * dedup WITHIN a site or snapshot, never across, because cross-domain
    * "duplicates" are usually templates you want handled by the
    * boilerplate pass instead). The scope is folded INTO the band key
    * before candidate generation, so cross-scope candidates never form:
    * the blocking itself gets cheaper, not just the verification — band
    * buckets split per scope, the df ceiling applies per (scope, band),
    * and the shuffled band index carries (scope⊕band, id) rows only.
    * Scope rides INSIDE the staged shingle projection (one narrow
    * string column alongside the payload — the first cut instead
    * JOINED a (doc_id, scope) frame onto the 8×N exploded band index,
    * one full extra shuffle of the band rows plus an output-attach
    * join, the measured gap between this operator's 3.3× and the
    * unscoped q23's 2.2× in the 10× scale stress). Output
    * (source, id_a, id_b, jaccard), both ids in the same scope by
    * construction. */
  def scopedMinhashNearDupPairs(df: DataFrame, id: Column, text: Column,
      scope: Column, shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBandDf: Option[Long] = None): DataFrame =
    scopedMinhashNearDupPairsFromBands(
      scopedShingleBandFrame(
          stagedScopedShingles(df, id, text, scope, shingleN),
          k, rowsPerBand)
        .persist(StorageLevel.MEMORY_AND_DISK),
      threshold, maxBandDf)

  /** The scoped family's staged shingle projection — (doc_id, source,
    * sh) with tokens in their own projection (the HOF re-eval traps in
    * nearDupIndex's scaladoc), exposed so a COMPOSED pipeline can build
    * it ONCE and share it between the decontamination screen's bit
    * tests / exact confirm and the near-dup banding
    * ([[CorpusPipeline.cleanDecontaminatedScoped]] — the r19 flat-bench
    * finding was exactly this frame being rebuilt from raw text by each
    * consumer). Empty-token docs are dropped (they have nothing to
    * band — the same filter every consumer applied). */
  def stagedScopedShingles(df: DataFrame, id: Column, text: Column,
      scope: Column, shingleN: Int): DataFrame =
    nonEmptyTokens(df, id, text, scope.cast("string").as("source"))
      .select(col("doc_id"), col("source"),
        T.tokenShingles(col("toks"), shingleN).as("sh"))

  /** [[stagedScopedShingles]] extended with the signature and band-key
    * projections (each in its own projection — re-eval traps): the full
    * (doc_id, source, sh, bands) input [[scopedMinhashNearDupPairsFromBands]]
    * reads. NOT persisted — the caller persists, because the caller
    * knows how many consumers there are (the pair search reads it three
    * times; a fused pipeline adds the contamination screen as a
    * fourth). */
  def scopedShingleBandFrame(staged: DataFrame, k: Int,
      rowsPerBand: Int): DataFrame =
    staged
      .select(col("doc_id"), col("source"), col("sh"),
        T.minhashSignature(col("sh"), k).as("sig"))
      .select(col("doc_id"), col("source"), col("sh"),
        T.bandKeys(col("sig"), rowsPerBand).as("bands"))

  /** [[scopedMinhashNearDupPairs]]' candidate generation + verification
    * from a pre-built [[scopedShingleBandFrame]] — `docs` must already
    * be persisted (it is read by the band explode and both verify-join
    * sides). Exposed so a composed pipeline can band ONCE and drop rows
    * (e.g. contamination-screened docs) from the same cached frame:
    * filtering the frame BEFORE the band explode is exactly equivalent
    * to banding the filtered corpus — bucket membership, the per-(scope,
    * band) df ceiling, and the verify joins all see only surviving
    * docs. */
  def scopedMinhashNearDupPairsFromBands(docs: DataFrame,
      threshold: Double, maxBandDf: Option[Long]): DataFrame = {
    val all = docs
      .select(explode(col("bands")).as("b"), col("source"), col("doc_id"))
      .select(concat_ws("\u0001", col("source"), col("b")).as("band"),
        col("doc_id"))
    // the left verify join carries the scope out (both sides share it
    // by construction) — no separate output-attach join
    verifyJaccard(bandCandidates(all, None, maxBandDf), docs, docs, "sh",
      threshold, carry = Seq("source"))
  }

  /** Exact n-gram Jaccard near-dup pairs — the verification measure the
    * LSH paths reduce to ([[minhashNearDupPairs]] verifies its candidates
    * with exactly this), exposed standalone: |A∩B| / |A∪B| over the
    * distinct n-gram shingle sets, keeping pairs ≥ `threshold`.
    *
    * All-pairs comparison is O(N²) — correct for bounded corpora slices or
    * pre-blocked candidate sets; at corpus scale generate candidates with
    * MinHash banding first and verify with this measure. */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      n: Int = 2, threshold: Double = 0.3): DataFrame = {
    val docs = nonEmptyTokens(df, id, text)
      .select(col("doc_id"), T.tokenShingles(col("toks"), n).as("sh"))
    val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The composed scale shape for the exact n-gram measure: MinHash-band
    * CANDIDATES (over `candShingleN`-gram shingles, exactly
    * [[minhashNearDupPairs]]'s blocking) verified by exact `n`-gram
    * Jaccard ≥ `threshold`. This is how [[ngramJaccardPairs]]'s measure
    * runs at corpus scale — candidate generation shuffles (band, id)
    * pairs only, and the O(|A∪B|) set arithmetic is paid per surviving
    * candidate, never all-pairs. The two shingle granularities are
    * independent knobs: blocking wants longer shingles (precision),
    * verification can use a finer measure (here bigrams). */
  def bandedNgramJaccardPairs(df: DataFrame, id: Column, text: Column,
      candShingleN: Int = 3, k: Int = 8, rowsPerBand: Int = 1,
      n: Int = 2, threshold: Double = 0.3): DataFrame = {
    // both shingle sets in one cached pass — the frame is read three times
    // (band index + the two verification joins); see the cache-lifecycle
    // note in the object scaladoc. Tokens projected separately + guard on
    // tokens: see minhashNearDupPairs (the HOF re-eval trap cost this
    // operator 13 s of redundant regex splits at sf0.1).
    // candidate shingles exist only to produce band keys, so the cached
    // frame stores (bands, verification shingles) — the signature md5
    // pass runs once at cache fill, not once per self-join branch (see
    // minhashNearDupPairs on why exchange reuse can't dedupe it).
    val docs = nonEmptyTokens(df, id, text)
      .select(col("doc_id"),
        T.tokenShingles(col("toks"), candShingleN).as("csh"),
        T.tokenShingles(col("toks"), n).as("vsh"))
      .select(col("doc_id"),
        T.minhashSignature(col("csh"), k).as("sig"), col("vsh"))
      .select(col("doc_id"),
        T.bandKeys(col("sig"), rowsPerBand).as("bands"), col("vsh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    verifyJaccard(bandCandidates(bandRows(docs), None, None),
      docs, docs, "vsh", threshold)
  }

  /** Cross-document duplicated-n-gram statistics — the corpus-INTERNAL
    * counterpart of [[Contamination.ngramOverlap]] (which probes documents
    * against a SMALL broadcast benchmark set; here the "benchmark" is the
    * corpus itself, so the gram index must genuinely shuffle): for each
    * document, how many of its DISTINCT n-grams also appear in at least
    * one other document, and the resulting shared fraction. This is the
    * signal behind exact-substring dedup policies (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a high
    * shared fraction flags template/boilerplate documents that pairwise
    * near-dup mining misses when no single pair clears the Jaccard bar.
    *
    * Shape: explode distinct shingles → ONE inverted-index groupBy on the
    * gram (partial aggregation combines map-side, so the shuffle carries
    * (gram, count) not (gram, doc)) → semi-join the exploded grams against
    * the ≥2-doc grams → per-doc count. Stop-word grams ("of the and") hit
    * most documents, so gram keys are Zipf-skewed — the count side is
    * immune (map-side combine collapses each partition to one row per
    * gram) and the semi-join's skewed partitions are exactly what AQE
    * skew-split handles; at corpus scale, set `dfCeiling` — grams in
    * more than that many documents are excluded from BOTH the shared
    * count and the total (stop-phrase grams carry no dedup signal, and
    * dropping them removes exactly the Zipf-head keys that would
    * dominate the semi-join). `dfCeiling` = 0 disables the ceiling.
    *
    * Returns (doc_id, shared, total, dup_frac); `dup_frac` floor-truncated
    * to 6 dp for engine portability. With a ceiling, `total` counts the
    * doc's SIGNAL grams (those under the ceiling), so the fraction stays
    * a true share of comparable material; docs whose every gram exceeds
    * the ceiling report total 0 and dup_frac 0. */
  def sharedNgramStats(df: DataFrame, id: Column, text: Column,
      n: Int = 3, dfCeiling: Long = 0L, saltBuckets: Int = 0): DataFrame = {
    // read twice (gram explode + per-doc totals) — same persist lifecycle
    // contract as the near-dup operators (object scaladoc)
    val docs = nonEmptyTokens(df, id, text)
      .select(col("doc_id"), T.tokenShingles(col("toks"), n).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val grams = docs.select(col("doc_id"), explode(col("sh")).as("gram"))
    // per-doc shingles are distinct, so count(*) per gram == document count
    val gramCounts = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("docs_with"))
    val inCeiling =
      if (dfCeiling > 0L) col("docs_with") <= dfCeiling else lit(true)
    // The gram join is LEFT-skewed by construction: a Zipf-head gram has
    // postings-many rows on the left and exactly one on the right, so a
    // plain shuffle join lands the whole posting list in one task. AQE's
    // runtime skew-split usually handles it, but its thresholds are
    // config-dependent; `saltBuckets` > 0 engages the DETERMINISTIC
    // fallback — [[Skew.saltedJoin]] replicates the one-row-per-gram
    // count side `saltBuckets`× and spreads each hot gram's postings over
    // that many tasks. Inner join with a unique right key: multiplicity
    // is unchanged, results identical (DedupSpec pins salted ≡ plain on
    // a Zipf fixture).
    val joined =
      if (saltBuckets > 0) Skew.saltedJoin(grams, gramCounts, "gram", saltBuckets)
      else grams.join(gramCounts, Seq("gram"))
    joined
      .groupBy(col("doc_id"))
      .agg(count(when(inCeiling, 1)).as("total"),
        count(when(inCeiling && col("docs_with") >= 2, 1)).as("shared"))
      .select(col("doc_id"), col("shared"), col("total"),
        when(col("total") === 0L, 0.0)
          .otherwise(floor(col("shared").cast("double")
            / col("total").cast("double") * 1e6) / 1e6).as("dup_frac"))
  }

  /** SimHash near-dup: 32-bit fingerprints; pairs within `maxHamming`.
    * Blocking: 4 × 8-bit chunks — two docs within Hamming ≤ 3 of each
    * other share at least one exact chunk (pigeonhole), so the self-join
    * keys on (chunk_index, chunk_value) instead of all-pairs. */
  def simhashNearDupPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    val chunks = 4
    // (id, sig) is 16 bytes/doc — cache it so the self-join's two sides
    // tokenize+hash each document once, not twice (the fingerprint pass IS
    // the dominant cost; the cache is keyed on the canonical plan, so
    // repeated calls reuse one entry rather than accumulating).
    val withSig = Parallelism.ensureMinPartitions(
        df.select(id.as("doc_id"), text.as("txt")), col("doc_id"))
      .select(col("doc_id"), T.simhash(col("txt")).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val blocked = withSig.select(col("doc_id"), col("sig"),
      explode(array((0 until chunks).map(i =>
        struct(lit(i).as("chunk_i"),
          shiftright(col("sig"), i * 8).bitwiseAND(0xFF).as("chunk_v"))): _*)).as("chunk"))
      .select(col("doc_id"), col("sig"), col("chunk.chunk_i"), col("chunk.chunk_v"))
    blockedPairs(blocked, Seq("chunk_i", "chunk_v"), "doc_id", Seq("sig"))(
        "hamming", T.hammingDistance(col("sig_a"), col("sig_b")))
      // filter BEFORE distinct: almost every candidate pair fails the
      // Hamming bound, so the dedup shuffle moves only survivors (a pair
      // can match on up to `chunks` blocks → duplicates are possible but
      // few) instead of the full candidate set.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into dedup CLUSTERS (keep one representative per
    * component; the component id is its minimum member id, so the output
    * is deterministic).
    *
    * Iterative min-label propagation: every node adopts the smallest label
    * among itself and its neighbors until a fixpoint. Each round is one
    * join + one aggregation on the pair graph — which is candidate-pair
    * sized, orders of magnitude smaller than the corpus — and
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * does not replay rounds 1..N-1. Converges in O(component diameter)
    * rounds; near-dup clusters are shallow (diameter a handful), so the
    * loop is short. For power-law graphs with giant components, switch to
    * the large-star/small-star formulation (same join primitive, fewer
    * rounds); this direct form is the right tool for dedup graphs.
    *
    * Driver-side per round: ONE count (the convergence check) — the label
    * frame itself never leaves the cluster. */
  def connectedComponents(pairs: DataFrame, idA: Column, idB: Column,
      maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(idA.as("src"), idB.as("dst"))
      .unionByName(pairs.select(idB.as("src"), idA.as("dst")))
      .distinct()
      .localCheckpoint()
    // an empty pair graph (every doc its own cluster — the common case
    // for small admission batches) needs no propagation rounds: the
    // one isEmpty probe on the checkpointed edges replaces the loop's
    // first join + aggregate + convergence actions
    if (edges.isEmpty)
      return edges.select(col("src").as("id"), col("dst").as("comp"))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("comp")).as("ncomp"))
      val updated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          (col("ncomp") < col("comp")).as("changed"))
        .localCheckpoint()
      converged = updated.filter(col("changed")).isEmpty
      // one checkpoint per round is enough: the projection below reads the
      // frame checkpointed above, so lineage is already truncated — a
      // second checkpoint just re-materializes the same rows (the
      // per-round fixed costs dominate on candidate-pair-sized graphs)
      labels = updated.select(col("id"), col("comp"))
      i += 1
    }
    labels
  }

  /** Representative selection per near-dup cluster by an arbitrary
    * quality SCORE — the keep-policy real corpus pipelines want.
    * [[connectedComponents]] (and [[CorpusPipeline.clean]]) keep each
    * cluster's MINIMUM id: deterministic, but id order encodes crawl
    * order, not value. This selects argmax(score) per component instead
    * (ties to the lower id, so the pick stays deterministic) — pass
    * document length to keep the most complete near-duplicate, a quality
    * score to keep the cleanest, a recency column to keep the newest.
    *
    * Scale: the window runs on the CLUSTERED docs only (component
    * membership is pair-graph-sized, orders of magnitude smaller than
    * the corpus — singletons are trivially their own representative and
    * never enter the shuffle); one partition per component, components
    * are near-dup clusters and therefore shallow/small. Returns
    * (comp, keep_id, score) — one row per cluster. */
  def bestRepresentative(docs: DataFrame, pairs: DataFrame, id: Column,
      score: Column, maxIter: Int = 25): DataFrame =
    // components are plumbing here (the representative POLICY is the
    // operator): micro graphs take the bounded union-find, larger ones
    // the star loop — label-identical either way (q43/q51 keep the two
    // distributed loops pinned as operators in their own right)
    bestRepresentativeIn(docs,
      connectedComponentsAuto(pairs, col("id_a"), col("id_b"), maxIter),
      id, score)

  /** As [[bestRepresentative]], over an ALREADY-COMPUTED (id, comp)
    * labeling. Callers that also need the membership frame itself (e.g.
    * [[CorpusPipeline.clean]]'s keep-best branch, which anti-joins the
    * clustered ids) run the iterative components job ONCE and pass it to
    * both uses — the components pass is the expensive stage of a dedup
    * pipeline, never worth duplicating. */
  def bestRepresentativeIn(docs: DataFrame, comps: DataFrame, id: Column,
      score: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp")).orderBy(col("score").desc, col("id").asc)
    docs.select(id.as("id"), score.as("score"))
      .join(comps, Seq("id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("comp"), col("id").as("keep_id"), col("score"))
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the scale path for POWER-LAW dedup graphs, where
    * [[connectedComponents]]'s min-label propagation needs O(diameter)
    * rounds and a boilerplate-heavy corpus (every doc sharing one template
    * shingle) can chain components thousands of nodes deep.
    *
    * Each round rewires edges toward component minima from BOTH ends:
    *  - large-star: every node's strictly-LARGER neighbors re-attach to
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: every node and its smaller-or-equal neighbors
    *    re-attach to that minimum.
    * Long paths halve in both directions at once, so convergence is
    * O(log² n) rounds worst-case (O(log n) in practice) INDEPENDENT of
    * diameter — a 1000-deep chain converges in ~10 rounds where label
    * propagation needs 1000. Per round: two groupBy-min + two joins, all
    * keyed on node id (uniform hash keys — doc ids — so no shuffle skew),
    * and the frames stay EDGE-sized; `localCheckpoint` truncates lineage
    * exactly as in the direct form.
    *
    * Output schema matches [[connectedComponents]]: (id, comp) with comp =
    * min member id of the component, so the two are drop-in
    * interchangeable (DedupSpec asserts equality on chains, stars and
    * random graphs; q51 hash-checks it against the same recursive-CTE
    * oracle as q43). */
  def connectedComponentsStar(pairs: DataFrame, idA: Column, idB: Column,
      maxIter: Int = 25): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u")
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      adj.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge large→small; min neighbor of u is then ≤ u
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val withM = dir.join(
        dir.groupBy("u").agg(min(col("v")).as("m")), Seq("u"))
      withM.select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }
    var edges = pairs.select(idA.as("u"), idB.as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    // an empty pair graph needs no contraction rounds (the common case
    // for small admission batches — the min-label loop's early exit,
    // applied here too: one probe on the checkpointed edges replaces a
    // full round's contraction + convergence jobs)
    if (edges.isEmpty)
      return edges.select(col("u").as("id"), col("v").as("comp"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // fixpoint = star forest: the edge set stops changing. Both frames
      // are edge-sized and checkpointed; BOTH symmetric-difference legs
      // ride one union so convergence costs ONE job per round, not two.
      converged = next.exceptAll(edges)
        .unionAll(edges.exceptAll(next)).isEmpty
      edges = next
      i += 1
    }
    // star forest: every edge is (member, root); roots label themselves
    edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Embedding near-dup: cosine ≥ threshold pairs, SRP-LSH-blocked so the
    * self-join is within-bucket only (near-identical vectors land in the
    * same sign-projection bucket with high probability). */
  def embeddingNearDupPairs(df: DataFrame, id: Column, vec: Column,
      threshold: Double = 0.95, nBits: Int = 8, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val planes = V.randomPlanes(nBits, dim, seed)
    val bucketed = Parallelism.ensureMinPartitions(
        df.select(id.as("vid"), vec.as("v")), col("vid"))
      .select(col("vid"), col("v"), V.srpBucketTable(col("v"), planes).as("bucket"))
    blockedPairs(bucketed, Seq("bucket"), "vid", Seq("v"))(
        "cosine", V.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): cluster
    * the embedding space and compare WITHIN CLUSTERS only — the dedup
    * move for paraphrases and re-renderings that share no n-grams (so
    * MinHash can't see them) but sit on top of each other in embedding
    * space. The quantizer is [[Similarity.hashCentroids]] — the
    * training-free deterministic centroid pick — so the whole path
    * (assignment argmin, within-cell pairs, exact cosine threshold)
    * hash-checks against a SQL oracle; swap in k-means centroids at
    * production scale, the pair semantics don't change.
    *
    * Scale: the cross product is demoted to per-cell — with nCells sized
    * ~N/1000 each cell compares ~10⁶ pairs however big the corpus, and
    * cells are independent shuffle keys. Norms ride the assignment pass
    * (one sqrt per VECTOR, not per pair — the [[Similarity]] scored-join
    * idiom). Input must carry (vec_id, embedding); returns
    * (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold. */
  def semanticNearDupPairs(embeddings: DataFrame, nCells: Int,
      threshold: Double = 0.95): DataFrame = {
    require(nCells >= 1, "nCells must be >= 1")
    val centroids = Similarity.hashCentroids(embeddings, nCells)
    // both sides of the self-join read the assignment — pinned via eager
    // localCheckpoint so the argmin pass runs once AND the blocks are
    // reclaimed by the context cleaner once the result is dropped (a
    // persist() here is keyed in the cache manager and would accumulate
    // across repeated invocations unless every caller remembered to
    // clear it — the admitCore idiom, not the shingle-frame one)
    cellPairs(Similarity.assignCells(embeddings, centroids)
        .localCheckpoint(true))
      .filter(col("cosine") >= threshold)
  }

  /** The blocked self-join: every two rows of `df` that share all `keys`,
    * as (id_a, id_b, `name`) with id_a < id_b (ids from column `id`) and
    * `name` = `score` over the two rows' `payload` columns, read as
    * `<p>_a` and `<p>_b`. A pair sharing several keys comes out once per
    * key: each caller places its own distinct. */
  private def blockedPairs(df: DataFrame, keys: Seq[String], id: String,
      payload: Seq[String])(name: String, score: Column): DataFrame = {
    def side(s: String) = df.select(keys.map(col) ++ (col(id).as(s"id_$s") +:
      payload.map(p => col(p).as(s"${p}_$s"))): _*)
    side("a").join(side("b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), score.as(name))
  }

  /** Exact cosine of two index-shaped rows' (embedding, c_norm) read as
    * `_a`/`_b` columns — norms from the assignment pass, one sqrt per
    * vector, never per pair. */
  private val pairCosine: Column = V.cosineFromNorms(col("embedding_a"),
    col("embedding_b"), col("c_norm_a"), col("c_norm_b"))

  /** Same-cell pairs of an index-shaped (cell, vec_id, embedding, c_norm)
    * frame, scored by [[pairCosine]] as `cosine`. */
  private def cellPairs(asg: DataFrame): DataFrame =
    blockedPairs(asg, Seq("cell"), "vec_id", Seq("embedding", "c_norm"))(
      "cosine", pairCosine)

  /** Banded-dedup RECALL report — the ANN family's measure-before-trust
    * discipline ([[Similarity.recallReport]]) pointed at the near-dup
    * stack: exact-Jaccard verification makes the banded operators
    * precision-1 (every emitted pair is verified true), so their ONLY
    * error mode is MISSES — true pairs whose signatures never collide
    * in any band (plus pairs a `maxBandDf` ceiling dropped). This counts
    * them against the exact all-pairs ground truth:
    * (truth_pairs, banded_pairs, missed), one row.
    *
    * The ground-truth leg is EXACT but not all-pairs: a zero-ceiling
    * inverted-index join counts each candidate pair's shared DISTINCT
    * shingles (|∩|), and |∪| = |A| + |B| − |∩| — identical integers to
    * the array formulation, so the Jaccard test is the same IEEE
    * division, while pairs sharing nothing never materialize (their
    * Jaccard is 0, below any threshold > 0 — `threshold > 0` is
    * required). Still run it on a capped audit slice: with NO df
    * ceiling (exactness forbids one) a boilerplate shingle shared by D
    * docs contributes D² candidate pairs. The report is what justifies
    * the (k, rowsPerBand, maxBandDf) the corpus-scale run then uses —
    * the same before/after contract as the ANN recall eval. */
  def bandedRecallReport(df: DataFrame, id: Column, text: Column,
      shingleN: Int = 3, k: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBandDf: Option[Long] = None): DataFrame = {
    require(threshold > 0.0,
      "bandedRecallReport: threshold must be > 0 (zero-overlap pairs never materialize)")
    val sh = nonEmptyTokens(df, id, text)
      .select(col("doc_id"), T.tokenShingles(col("toks"), shingleN).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val inter = ex.select(col("g"), col("doc_id").as("id_a"))
      .join(ex.select(col("g"), col("doc_id").as("id_b")), Seq("g"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("ni")) // shingle sets are distinct per doc
    val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("ns"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("ns").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("ns").as("nb")), Seq("id_b"))
      .filter((col("ni").cast("double") /
        (col("na") + col("nb") - col("ni")).cast("double")) >= threshold)
      .agg(count(lit(1)).as("truth_pairs"))
    val banded = minhashNearDupPairs(df, id, text, shingleN, k,
        rowsPerBand, threshold, maxBandDf)
      .agg(count(lit(1)).as("banded_pairs"))
    truth.crossJoin(banded)
      .select(col("truth_pairs"), col("banded_pairs"),
        (col("truth_pairs") - col("banded_pairs")).as("missed"))
  }

  /** SEMANTIC incremental admission — [[admitNewDocs]]'s contract moved
    * into embedding space: a new batch of vectors is near-dup-checked
    * (cosine ≥ threshold, [[semanticNearDupPairs]]' cell blocking under
    * the CALLER's frozen centroids) against the standing index rows,
    * survivors dedup among themselves (within-batch same-cell pairs →
    * star components → min-id representative), and the admitted vec_ids
    * come back. `standing` is index-shaped — (cell, vec_id, embedding,
    * c_norm), exactly what [[Similarity.writeIvfFlatIndex]] materializes
    * — so each ingest pays |batch| assignment + cell-bounded probes,
    * never a rescan of the standing corpus beyond the probed cells' rows.
    * The centroids MUST be the ones the standing rows were assigned
    * under (the artifact's frozen quantizer): assigning the batch under
    * different centroids silently mis-blocks the probe. */
  def admitNewVecs(newVecs: DataFrame, standing: DataFrame,
      centroids: Seq[Seq[Double]], threshold: Double = 0.95): DataFrame =
    admitNewVecsPreassigned(
      // the batch plan feeds the probe, the survivor self-join AND the
      // final admitted evaluation — pin one evaluation (admitCore's idiom)
      Similarity.assignCells(newVecs, centroids).localCheckpoint(true),
      standing, threshold)

  /** [[admitNewVecs]] over an ALREADY-ASSIGNED batch frame (the caller's
    * pinned [[Similarity.assignCells]] output under the SAME frozen
    * centroids as the standing rows) — the one-assignment-pass-per-batch
    * ingest shape: the admission loop needs the batch's (cell, vec_id,
    * embedding, c_norm) rows twice (probe here, index fold-back after),
    * and assigning inside this call would run the argmin pass once per
    * use. */
  private[graft] def admitNewVecsPreassigned(asg: DataFrame,
      standing: DataFrame, threshold: Double): DataFrame = {
    val (sv, pairs) = vecSurvivorPairs(asg, standing, threshold)
    // in-batch survivor components: micro-batch-bounded pair graph over
    // integral vec_ids — the bounded driver union-find (admitCore's
    // r18 shape; ~6 driver-latency star rounds per micro-batch
    // otherwise), distributed star fallback past the cap unchanged
    keepRepresentatives(sv.localCheckpoint(true), pairs, "vec_id")
  }

  /** The cell-blocked cosine probe → survivor → in-batch-pair chain
    * shared by [[admitNewVecsPreassigned]] and
    * [[admitNewVecsPreassignedBounded]] — [[survivorPairs]]'s vector
    * twin: returns (sv, pairs) with `sv` UNPINNED and `pairs` the
    * same-cell cosine pair builder over a pinned survivor frame. */
  private def vecSurvivorPairs(asg: DataFrame, standing: DataFrame,
      threshold: Double): (DataFrame, DataFrame => DataFrame) = {
    // probe only the cells the batch touches — a bounded collect (≤
    // nCells ints, the ivfFlatProbe discipline) pushed as a literal IN,
    // so a cell-partitioned standing table partition-prunes instead of
    // scanning every cell for every batch
    val batchCells = asg.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // an empty micro-batch (replay edge) touches no cells — make that
    // explicit rather than leaning on `isin()` with zero values
    val ix = (if (batchCells.isEmpty) standing.filter(lit(false))
      else standing.filter(col("cell").isin(batchCells: _*)))
      .select(col("cell"), col("embedding").as("v_o"),
      col("c_norm").as("n_o"))
    val matched = asg
      .select(col("cell"), col("vec_id").as("id_n"),
        col("embedding").as("v_n"), col("c_norm").as("n_n"))
      .join(ix, Seq("cell"))
      .filter(V.cosineFromNorms(col("v_n"), col("v_o"),
        col("n_n"), col("n_o")) >= threshold)
      .select(col("id_n")).distinct()
    def pairs(sv: DataFrame): DataFrame =
      cellPairs(sv).filter(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"))
    (asg.join(matched, asg("vec_id") === matched("id_n"), "left_anti"), pairs)
  }

  /** [[admitNewVecsPreassigned]] with the admitted vec_ids returned
    * DRIVER-SIDE when bounded — the SemanticAdmission loop's fused shape:
    * ONE bounded take ([[boundedRows]], one parallel job) materializes the
    * cell-blocked probe and brings back the survivors' (vec_id, cell,
    * embedding, c_norm) — the verify payload rides in the take — and
    * [[boundedAdmit]] finishes on the driver: the one cell a vector is
    * assigned to blocks the in-batch candidates (≡ the survivor
    * same-cell self-join: cell equality, a < b) and the SAME
    * cosineFromNorms expression verifies them, over a LocalRelation.
    * Past `cap` survivors or pairs, [[BoundedPayload]], or for non-long
    * ids, the distributed keepRepresentatives chain comes back (Right). */
  private[graft] def admitNewVecsPreassignedBounded(asg: DataFrame,
      standing: DataFrame, threshold: Double,
      cap: Int = InBatchPairCap): Either[Seq[Long], DataFrame] = {
    val (sv, pairs) = vecSurvivorPairs(asg, standing, threshold)
    val taken = sv.select(col("vec_id"), array(col("cell")).as("cells"),
      col("embedding"), col("c_norm"))
    boundedAdmitRows(asg.sparkSession,
      if (sv.schema("vec_id").dataType == LongType)
        boundedRows(taken).filter(_.length <= cap)
      else None,
      taken.schema, pairCosine >= threshold, cap, BoundedPayload)(
      keepRepresentatives(sv.localCheckpoint(true), pairs, "vec_id"))
  }
}
