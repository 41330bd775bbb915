package graft

import org.apache.spark.sql.functions._

/** Work-unit decomposition for the 10× scale stress's worst wall-clock
  * movers: counts CANDIDATE pairs (band/fingerprint blocking only) and
  * VERIFIED pairs (after the Jaccard / min-shared gate) — plus, for the
  * iterative operators, rounds and per-round frontier rows — at base vs
  * `SPARK_GRAFT_SCALE`× on the same salted corpus BENCH_SCALE runs, so
  * a scale ratio above the family band can be attributed: work-unit
  * growth ≈ replicas means the operator is linear and the extra time is
  * data-driven near-dup density; growth ≫ replicas means the blocking
  * itself is leaking cross-replica pairs. Wall-clock on this sandbox
  * carries ±30% run-to-run jitter; counts are exact and deterministic.
  *
  * Covered families (one JSON object each):
  *  - q23  plain banded MinHash pairs (cand = threshold 0, verified 0.4)
  *  - q97  winnowing fingerprint pairs (cand = minShared 1, verified 2)
  *  - q152 SCOPED banded MinHash pairs — q23's parameters with `source`
  *    folded into the band key; the per-(scope, band) df ceiling means
  *    the scoped candidate set is NOT a subset of q23's (a bucket the
  *    unscoped cap drops whole can survive as several under-cap
  *    per-scope sub-buckets), so its density can legitimately grow
  *    faster than the unscoped family's
  *  - q115 cross-table fuzzy join (band equi-join candidates, verified
  *    Jaccard ≥ 0.4) — q115's exact parameters, uncapped
  *  - q51  star-contraction components over q23's verified pair graph:
  *    input edges, contraction rounds, Σ per-round frontier rows
  *    ([[operators.Dedup.StarStats]])
  *  - q129 distributed Lloyd: assignment rows (= corpus rows, one
  *    argmin row per vector per round) and broadcast fan-out rows
  *    (rows × cells × rounds) with cells scaled 8 → 8·replicas exactly
  *    as BENCH_SCALE runs it — closed-form in the counted corpus size
  *    because the trainer touches every vector exactly once per round
  *  - q20/q28 (r21): the scored sets the top-k aggregators rank,
  *    counted through [[operators.Similarity.bruteScored]] /
  *    [[operators.Similarity.srpScored]] — brute force IS the linear
  *    baseline (scored = |q|·(n−1)); SRP's deduped multi-probe
  *    candidate volume is its knob
  *  - q155/q156 (r21): the composed scoped-clean chains' row counts at
  *    each non-pair stage (docs in, representatives / selected rows
  *    out) via the queries' own SparkEntry functions; their pair stage
  *    is exactly the q152 block's counted set
  *
  * Candidates are counted through the SAME public entry points with the
  * verification gate opened (threshold 0 / minShared 1), so the counted
  * set is exactly the pair set the timed query verifies — no parallel
  * reimplementation to drift.
  *
  * Prints one JSON line; committed as tools/pairs_decomposition.json.
  */
object ScalePairsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val cpus = GraftSession.cpus()
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val scaledRoot = graft.streaming.EventStreams.scratchDir("graft_pairs_")
    BenchScale.stageScaledDocuments(spark, sfDir, replicas, scaledRoot, cpus)
    BenchScale.stageScaledEmbeddings(spark, sfDir, replicas, scaledRoot, cpus)

    def q23Counts(dir: String): (Long, Long) = {
      val docs = sources.Tables.documents(spark, dir)
        .filter(trim(col("text")) =!= "")
      def pairs(threshold: Double) =
        operators.Dedup.minhashNearDupPairs(docs, col("doc_id"),
          col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
          threshold = threshold, maxBandDf = Some(30L)).count()
      (pairs(0.0), pairs(0.4))
    }
    def q97Counts(dir: String): (Long, Long) = {
      val docs = sources.Tables.documents(spark, dir)
      def pairs(minShared: Long) =
        operators.Winnowing.sharedFingerprintPairs(docs, col("doc_id"),
          col("text"), k = 3, w = 4, minShared = minShared,
          maxDf = 100L).count()
      (pairs(1L), pairs(2L))
    }
    // q152's exact parameters (SparkEntry.q152ScopedNearDup): q23's
    // banding with source folded into the band key, ceiling per
    // (scope, band)
    def q152Counts(dir: String): (Long, Long) = {
      val docs = sources.Tables.documents(spark, dir)
        .filter(trim(col("text")) =!= "")
      def pairs(threshold: Double) =
        operators.Dedup.scopedMinhashNearDupPairs(docs, col("doc_id"),
          col("text"), col("source"), shingleN = 3, k = 8,
          rowsPerBand = 1, threshold = threshold,
          maxBandDf = Some(30L)).count()
      (pairs(0.0), pairs(0.4))
    }
    // q115's exact parameters (SparkEntry.q115FuzzyJoin): two source
    // strata, k=8 / rowsPerBand=2, uncapped band equi-join
    def q115Counts(dir: String): (Long, Long) = {
      val docs = sources.Tables.documents(spark, dir)
      def pairs(threshold: Double) =
        operators.Dedup.minhashFuzzyJoin(
          docs.filter(length(col("source")) === 4),
          docs.filter(length(col("source")) === 5),
          col("doc_id"), col("text"), col("doc_id"), col("text"),
          shingleN = 3, k = 8, rowsPerBand = 2,
          threshold = threshold).count()
      (pairs(0.0), pairs(0.4))
    }
    // q51's exact pipeline (SparkEntry.q51DedupComponentsStar) with the
    // contraction loop instrumented: the timed query's superlinear risk
    // is rounds × frontier, both counted here
    def q51Counts(dir: String): (Long, Int, Long) = {
      val pairs = operators.Dedup.minhashNearDupPairs(
        sources.Tables.documents(spark, dir)
          .filter(trim(col("text")) =!= ""),
        col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
        threshold = 0.4, maxBandDf = Some(30L))
      val st = new operators.Dedup.StarStats
      operators.Dedup.connectedComponentsStar(
        pairs, col("id_a"), col("id_b"), stats = st).count()
      (st.inputEdges, st.rounds, st.edgeRows)
    }
    // q129's work units, cells scaled with the corpus exactly as
    // BENCH_SCALE runs it (8 base, 8·replicas scaled): every vector is
    // assigned once per round (assign_rows = n·rounds) after a
    // broadcast-centroid fan-out of n·cells·rounds distance rows — both
    // closed-form in the counted corpus size
    def q129Counts(dir: String): (Long, Long, Long, Long) = {
      val n = operators.Similarity.lloydVecs(
        sources.Tables.embeddings(spark, dir)).count()
      val cells = if (dir == sfDir) 8L else 8L * replicas
      val rounds = 2L
      (n, cells, n * rounds, n * cells * rounds)
    }
    // q151's work units: the co-moment pass scans every embedding row
    // once (scan_rows — the ONLY corpus-sized quantity) and shuffles one
    // partial moment frame of ≤ partitions·(d²+d+2) rows whose size is
    // CORPUS-INDEPENDENT — counted here through the same momentRows
    // entry the timed query folds, proving the d²-bounded-shuffle claim
    // by measurement rather than design assertion
    def q151Counts(dir: String): (Long, Long) = {
      val e = sources.Tables.embeddings(spark, dir)
      (e.count(),
        operators.Pca.momentRows(e, col("embedding"), 1e6).count())
    }
    // q20/q28's work units through the SAME scored-set the timed queries
    // rank (Similarity.bruteScored / srpScored — the rankTopK input):
    // brute force is |q|·(n−1) BY CONSTRUCTION (the linear baseline — its
    // scale ratio should BE the corpus ratio), SRP's deduped multi-probe
    // candidate volume is the family's knob
    def q20Counts(dir: String): (Long, Long, Long) = {
      val e = sources.Tables.embeddings(spark, dir)
      val q = e.filter(col("vec_id") < 5)
      (q.count(), e.count(),
        operators.Similarity.bruteScored(q, e).count())
    }
    def q28Counts(dir: String): (Long, Long) = {
      val e = sources.Tables.embeddings(spark, dir)
      val q = e.filter(col("vec_id") < 5)
      (q.count(),
        operators.Similarity.srpScored(q, e, nBits = 6, dim = 64,
          seed = 42L).count())
    }
    // the COMPOSED scoped-clean chains (q155/q156) — the r20 verdict's
    // "ratio arithmetic" watch: their pair stage is q152's exact counted
    // set above (same parameters, same entry point), so what's added
    // here is the rest of the chain's row counts at base vs scaled —
    // input docs, q155's component/representative output, q156's
    // end-to-end selected rows — all through the queries' OWN SparkEntry
    // functions (zero drift). Linear input growth + the counted pair
    // growth + bounded components fully attribute the wall ratio; the
    // scaled/base WALL ratio additionally inflates whenever fixed cost
    // shrinks (see OPTIMIZATION_r21.md "ratio arithmetic").
    def q155Counts(dir: String): (Long, Long) = {
      val docs = sources.Tables.documents(spark, dir)
        .filter(trim(col("text")) =!= "")
      (docs.count(),
        SparkEntry.q155ScopedDedupSurvivors(spark, dir).count())
    }
    def q156Counts(dir: String): Long =
      SparkEntry.q156ScopedCorpusSelection(spark, dir).count()

    val (c23b, v23b) = q23Counts(sfDir)
    val (c23s, v23s) = q23Counts(scaledRoot.toString)
    val (c97b, v97b) = q97Counts(sfDir)
    val (c97s, v97s) = q97Counts(scaledRoot.toString)
    val (c152b, v152b) = q152Counts(sfDir)
    val (c152s, v152s) = q152Counts(scaledRoot.toString)
    val (c115b, v115b) = q115Counts(sfDir)
    val (c115s, v115s) = q115Counts(scaledRoot.toString)
    val (e51b, r51b, f51b) = q51Counts(sfDir)
    val (e51s, r51s, f51s) = q51Counts(scaledRoot.toString)
    val (n129b, k129b, a129b, fo129b) = q129Counts(sfDir)
    val (n129s, k129s, a129s, fo129s) = q129Counts(scaledRoot.toString)
    val (s151b, m151b) = q151Counts(sfDir)
    val (s151s, m151s) = q151Counts(scaledRoot.toString)
    val (nq20b, n20b, sc20b) = q20Counts(sfDir)
    val (nq20s, n20s, sc20s) = q20Counts(scaledRoot.toString)
    val (nq28b, sc28b) = q28Counts(sfDir)
    val (nq28s, sc28s) = q28Counts(scaledRoot.toString)
    val (d155b, o155b) = q155Counts(sfDir)
    val (d155s, o155s) = q155Counts(scaledRoot.toString)
    val o156b = q156Counts(sfDir)
    val o156s = q156Counts(scaledRoot.toString)
    // Locale.ROOT + a null for a zero denominator: NaN and comma
    // decimals are both invalid JSON
    def r(a: Long, b: Long): String =
      if (b == 0) "null"
      else String.format(java.util.Locale.ROOT, "%.2f",
        Double.box(a.toDouble / b))
    def pairBlock(name: String, cb: Long, cs: Long, vb: Long, vs: Long) =
      s""""$name":{"cand_base":$cb,"cand_scaled":$cs,"cand_ratio":${r(cs, cb)},"verified_base":$vb,"verified_scaled":$vs,"verified_ratio":${r(vs, vb)}}"""
    val q51Block =
      s""""q51":{"input_edges_base":$e51b,"input_edges_scaled":$e51s,"input_edges_ratio":${r(e51s, e51b)},"rounds_base":$r51b,"rounds_scaled":$r51s,"frontier_rows_base":$f51b,"frontier_rows_scaled":$f51s,"frontier_rows_ratio":${r(f51s, f51b)}}"""
    val q129Block =
      s""""q129":{"rows_base":$n129b,"rows_scaled":$n129s,"cells_base":$k129b,"cells_scaled":$k129s,"assign_rows_base":$a129b,"assign_rows_scaled":$a129s,"assign_rows_ratio":${r(a129s, a129b)},"fanout_rows_base":$fo129b,"fanout_rows_scaled":$fo129s,"fanout_rows_ratio":${r(fo129s, fo129b)}}"""
    val q151Block =
      s""""q151":{"scan_rows_base":$s151b,"scan_rows_scaled":$s151s,"scan_rows_ratio":${r(s151s, s151b)},"moment_rows_base":$m151b,"moment_rows_scaled":$m151s,"moment_rows_ratio":${r(m151s, m151b)}}"""
    val q20Block =
      s""""q20":{"queries_base":$nq20b,"queries_scaled":$nq20s,"corpus_base":$n20b,"corpus_scaled":$n20s,"scored_base":$sc20b,"scored_scaled":$sc20s,"scored_ratio":${r(sc20s, sc20b)}}"""
    val q28Block =
      s""""q28":{"queries_base":$nq28b,"queries_scaled":$nq28s,"cand_base":$sc28b,"cand_scaled":$sc28s,"cand_ratio":${r(sc28s, sc28b)}}"""
    val q155Block =
      s""""q155":{"docs_base":$d155b,"docs_scaled":$d155s,"docs_ratio":${r(d155s, d155b)},"rep_rows_base":$o155b,"rep_rows_scaled":$o155s,"rep_rows_ratio":${r(o155s, o155b)}}"""
    val q156Block =
      s""""q156":{"selected_base":$o156b,"selected_scaled":$o156s,"selected_ratio":${r(o156s, o156b)}}"""
    println(
      s"""{"metric":"pairs_decomposition","replicas":$replicas,"base":"$sfDir",${pairBlock("q23", c23b, c23s, v23b, v23s)},${pairBlock("q97", c97b, c97s, v97b, v97s)},${pairBlock("q152", c152b, c152s, v152b, v152s)},${pairBlock("q115", c115b, c115s, v115b, v115s)},$q51Block,$q129Block,$q151Block,$q20Block,$q28Block,$q155Block,$q156Block}""")
    graft.operators.Maintenance.rmTree(scaledRoot.toFile)
    spark.stop()
  }
}
