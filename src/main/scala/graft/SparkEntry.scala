package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables
import graft.functions.{DomainFunctions => DF, Hashing, TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Classifier, Dedup, Similarity}

/** Driver contract (SURVEY.md §7). Every entry is a Spark-first analog of a
  * reference operator family (SURVEY §2 ids cited per query), running on
  * the shared parquet fixtures; the Clash-Royale-exact semantics (sha1 deck
  * hash, match hash, classifier cascade, snapshot rollups) are exercised
  * end-to-end by [[graft.operators.SnapshotPipeline]] and its specs.
  *
  * Determinism rules for the DuckDB oracle compare: money sums use integer
  * cents via `floor(x*100 + 0.5)` (pure IEEE ops, identical in any engine —
  * double→decimal casts are NOT: Spark rounds HALF_UP, DuckDB half-even);
  * divisions are single IEEE ops; every LIMIT is fully tie-broken.
  */
object SparkEntry {

  /** Table access — the temporally-encoded tables route through their
    * schema-adaptive loaders (Tables.events/orders/lineitem normalize and
    * guard their timestamp column; see the r10 fixture-regeneration
    * breakage in Tables.events' scaladoc), everything else is a plain
    * scan. */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    name match {
      case "events"   => Tables.events(s, dir)
      case "orders"   => Tables.orders(s, dir)
      case "lineitem" => Tables.lineitem(s, dir)
      case _          => Tables.table(s, dir, name)
    }

  /** Per-query scratch root (landing dirs, index trees, out/state dirs,
    * standing per-JVM artifacts): tmpfs when the host offers it,
    * java.io.tmpdir otherwise — [[graft.streaming.EventStreams.scratchDir]]'s
    * rule and justification. A per-run root is removed when its query
    * returns or throws ([[Staged.run]]); a standing artifact's root stands
    * until JVM exit, when one shutdown hook removes it
    * ([[graft.streaming.EventStreams.standingScratchDir]]). The composed-ingest
    * family re-pays the per-run trees' create/list/rename/read cost on
    * every run, which on a disk-backed tmpdir is ext4 journaled metadata
    * + page-cache round trips for I/O that durability buys nothing for.
    * A production deployment keeps ephemeral session scratch on
    * node-local fast storage for the same reason; durable artifacts
    * belong on shared storage, which this scratch is explicitly not. */
  private def scratch(prefix: String): Path =
    streaming.EventStreams.scratchDir(prefix)

  /** Fixture staging, written once for every query: how a
    * fixture-derived artifact is built once per JVM ([[memo]],
    * [[artifact]], [[landing]]), linked into a per-run root
    * ([[linkTree]]), and removed ([[run]] per run; a standing root at
    * JVM exit, [[graft.streaming.EventStreams.standingScratchDir]]). A
    * standing artifact is a filesystem artifact, not a Spark cache: the
    * bench's clearCache() between passes rightly
    * re-prices every in-session cache, but an ingest path re-BUILDING
    * its corpus index per probe would be the re-shingle-the-corpus
    * antipattern the index exists to kill. */
  private[graft] object Staged {
    private val built = scala.collection.concurrent.TrieMap.empty[(String, String), Any]

    /** `build`'s value, computed once per (kind, fixture dir) per JVM. */
    def memo[A](kind: String, dir: String)(build: => A): A =
      built.getOrElseUpdate((kind, dir), build).asInstanceOf[A]

    /** Every value memoized under `kind`, by fixture dir. */
    def memoized[A](kind: String): Map[String, A] =
      built.collect { case ((k, d), v) if k == kind => d -> v.asInstanceOf[A] }.toMap

    /** A standing artifact at `graft_<kind>_…/<kind>`, written by `write`
      * once per fixture dir per JVM; returns its path. Its root stands
      * until JVM exit. */
    def artifact(kind: String, dir: String)(write: String => Unit): String =
      memo(kind, dir) {
        val path = streaming.EventStreams.standingScratchDir(s"graft_${kind}_")
          .resolve(kind).toString
        write(path)
        path
      }

    /** A landing dir staged once per fixture dir per JVM from
      * (file name, frame, mtime) triples: each frame lands as ONE parquet
      * file with that mtime, so a file source reads them in mtime order,
      * one micro-batch each. Runs hard-link it ([[linkTree]]; the mtime
      * rides the shared inode) instead of paying a write job per file. */
    def landing(prefix: String, dir: String)(
        files: => Seq[(String, DataFrame, Long)]): Path =
      memo(s"${prefix}_landing", dir) {
        val root = streaming.EventStreams.standingScratchDir(s"graft_${prefix}_stage_")
        val landing = Files.createDirectory(root.resolve("landing"))
        files.foreach { case (name, df, mod) =>
          val stage = root.resolve(s"stage_$name")
          df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = stage.toFile.listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
          Files.move(part.toPath, landing.resolve(name)).toFile.setLastModified(mod)
        }
        landing
      }

    /** Recursive hard-link copy: directories recreated, files linked (the
      * runs share inodes with the staged artifact — per-run cost is
      * directory entries, not bytes). The listing stream is closed after
      * use: `Files.list` holds an open directory descriptor. */
    def linkTree(src: Path, dst: Path): Unit = {
      Files.createDirectories(dst)
      val entries = Files.list(src)
      try entries.forEach { p =>
        val target = dst.resolve(p.getFileName.toString)
        if (Files.isDirectory(p)) linkTree(p, target)
        else { Files.createLink(target, p); () }
      } finally entries.close()
    }

    /** One query run in its own scratch root: the result is pinned off
      * the root's files (`localCheckpoint`), then the root is removed —
      * also when `body` or the pin throws. */
    def run(prefix: String)(body: Path => DataFrame): DataFrame = {
      val root = scratch(prefix)
      try body(root).localCheckpoint(true)
      finally operators.Maintenance.rmTree(root.toFile)
    }
  }
  import Staged.{linkTree, run}

  /** The fixtures' "new batch" split: ids whose md5 hex starts at or
    * above `cccc` (~20%); the rest is the standing corpus. */
  private def newSplit(id: Column): Column =
    substring(md5(id.cast("string")), 1, 4) >= "cccc"

  /** Exact cross-engine sum of a 2-decimal money column, as integer cents.
    * `floor(x*100 + 0.5)` is pure IEEE arithmetic — identical in every
    * engine — unlike double→decimal casts, whose tie rounding differs
    * (Spark HALF_UP vs DuckDB half-even; see ADVICE r01 on q04/q09). */
  private def moneySumCents(c: Column): Column =
    sum(floor(c * lit(100.0) + lit(0.5)).cast("long"))

  /** Flagship on sf0.001: the win-rate-by-archetype rollup (reference
    * queries/top_deck_types.sql intent per SURVEY §2.12.1) — J4+A1+A11+T1. */
  def entry(spark: SparkSession): DataFrame =
    q01TopDeckTypes(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  /** q01 — flagship: fact⋈dim, conditional-sum win rate, top-k.
    * SURVEY J4, A1, A11, T1. part is a small dim → broadcast hash join;
    * groupBy(p_brand) partial-aggregates map-side (6-ish brands → the
    * shuffle moves a handful of rows per partition). */
  def q01TopDeckTypes(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val wins = sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("deck_type"))
      .agg(count(lit(1)).as("uses"), wins.as("wins"))
      .withColumn("win_rate",
        lit(100.0) * col("wins") / nullif(col("uses").cast("double"), lit(0.0)))
      .orderBy(col("uses").desc, col("deck_type"))
      .limit(30)
  }

  /** q02 — filter + projection + result derivation. SURVEY P1, P2, P4, F6.
    * Both predicates reach the parquet scan (PushedFilters). */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") >= 30 && col("l_returnflag").isin("R", "A"))
      .select(col("l_orderkey"), col("l_linenumber"),
        DF.battleResult(col("l_quantity").cast("int"), lit(40)).as("result"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))

  /** q03 — LEFT JOIN + count-non-null (player_summary.sql shape). SURVEY J6,
    * A12, T1. Orders are pre-aggregated to per-customer counts BEFORE the
    * join, so the wide side shuffles once on the join key and the join
    * itself is dim-sized. */
  def q03CustomerSummary(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    t(s, dir, "customer")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        coalesce(col("cnt"), lit(0L)).as("orders_seen"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(50)
  }

  /** q04 — TopN head + left-semi restriction (TopN membership). SURVEY P10,
    * P12, J9, T6. The top-100 id set is broadcast into the semi join. */
  def q04SemiTopN(s: SparkSession, dir: String): DataFrame = {
    val topC = t(s, dir, "customer")
      .orderBy(col("c_acctbal").desc, col("c_custkey")).limit(100)
      .select(col("c_custkey"))
    t(s, dir, "orders")
      .join(broadcast(topC), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("uses"), moneySumCents(col("o_totalprice")).as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** q05 — union-of-perspectives → directional matchup matrix. SURVEY U1,
    * A5, J4. Each order row contributes one row per direction (customer
    * nation vs order-clerk segment analog: customer-nation vs market
    * segment), with the win flag flipped — the reference's load-bearing
    * trick (etl:296-308). Nation dim broadcast. */
  def q05MatchupMatrix(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val base = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("side_a"), col("c_mktsegment").as("side_b"),
        (col("o_totalprice") > 150000.0).as("a_won"))
    val dirA = base.select(col("side_a").as("deck_type"),
      col("side_b").as("opp_deck_type"), col("a_won").as("won"))
    val dirB = base.select(col("side_b").as("deck_type"),
      col("side_a").as("opp_deck_type"), (!col("a_won")).as("won"))
    dirA.unionByName(dirB)
      .groupBy(col("deck_type"), col("opp_deck_type"))
      .agg(count(lit(1)).as("uses"),
        sum(when(col("won"), 1).otherwise(0)).cast("long").as("wins"))
  }

  /** q06 — rank / TopN-per-group window. SURVEY W1 (+T1 extension). One
    * shuffle on the partition key; no global sort. */
  def q06TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
  }

  /** q07 — exact dedup by content hash (keep lowest id). SURVEY A13, F2;
    * LLM-pipeline exact dedup over `documents`. */
  def q07DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByContent(t(s, dir, "documents"), col("text"), col("doc_id"))

  /** q08 — explode-then-aggregate (token frequencies). SURVEY A3 shape, U2;
    * text-analysis token stats. Two-phase instead of countDistinct: the
    * (word, doc) pre-aggregate partial-combines map-side, avoiding the
    * distinct-expand that dominated this query (32s → 5s at sf0.1) and
    * shuffling (word, doc) pairs once instead of every token. */
  def q08WordFrequencies(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) >= 4)
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("word"))
      .agg(sum(col("cnt")).cast("long").as("uses"), count(lit(1)).as("docs"))
      .orderBy(col("uses").desc, col("word"))
      .limit(50)

  /** q09 — priority rule cascade (the classifier shape, §2.9) over `part`:
    * first-match-wins CASE chain + per-segment aggregates. */
  def q09ArchetypeCascade(s: SparkSession, dir: String): DataFrame = {
    val label = Classifier.cascade(Seq(
      (col("p_type").contains("COPPER"), Classifier.Siege),
      (col("p_size") <= 10, Classifier.Bait),
      (col("p_retailprice") < 1200.0, Classifier.Cycle),
      (col("p_type").contains("BRASS"), Classifier.BridgeSpam),
      (col("p_size") >= 40, Classifier.Beatdown)), Classifier.Hybrid)
    t(s, dir, "part")
      .withColumn("deck_type", label)
      .groupBy(col("deck_type"))
      .agg(count(lit(1)).as("uses"), moneySumCents(col("p_retailprice")).as("total_cents"))
      .orderBy(col("deck_type"))
  }

  /** q10 — tag normalization projection. SURVEY P6, F4. */
  def q10TagNormalize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), DF.normalizeTag(col("c_name")).as("player_tag"))

  /** q11 — bridge⋈dim + top-k appearances (top_cards_overall.sql). SURVEY
    * J5, T1. */
  def q11TopParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_name").as("card_name"))
      .agg(count(lit(1)).as("appearances"))
      .orderBy(col("appearances").desc, col("card_name"))
      .limit(50)

  /** q12 — scalar totals with COALESCE(SUM,0) guards. SURVEY A12, F10. */
  def q12ScalarTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").agg(
      count(lit(1)).as("total_orders"),
      coalesce(sum(when(col("o_orderstatus") === "O", 1).otherwise(0)), lit(0))
        .cast("long").as("open_orders"),
      coalesce(moneySumCents(col("o_totalprice")), lit(0L)).as("total_cents"))

  /** q13 — groupBy + HAVING + win-rate leaderboard (quick-check shape,
    * etl:534-538). SURVEY A10, A11, T2. */
  def q13HavingLeaderboard(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("uses"),
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).cast("long").as("wins"))
      .filter(col("uses") >= 5)
      .withColumn("win_rate", col("wins").cast("double") / col("uses").cast("double"))
      .orderBy(col("win_rate").desc, col("l_partkey"))
      .limit(10)

  /** q14 — label dimension: distinct + order. SURVEY A9. */
  def q14DistinctLabels(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderpriority").as("label"))
      .distinct().orderBy(col("label"))

  /** q15 — canonical sorted signature + hash (deck-hash shape: sort members,
    * join with '|', hash). SURVEY F1, F2, T4 — md5 here so the oracle can
    * reproduce it; the reference-exact sha1 path is unit-tested. */
  def q15SignatureHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), "|").as("signature"))
      .select(col("r_name"), col("signature"),
        Hashing.contentHash(col("signature")).as("sig_hash"))
      .orderBy(col("r_name"))

  /** q16 — anti-join (FK orphan check shape). SURVEY J10. The anti side
    * only needs the distinct key set, so orders pre-aggregates to its
    * custkeys before the join — the exchange then moves |keys| rows
    * instead of |orders|, and the shrunken side is AQE-broadcastable. */
  def q16AntiOrphans(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))

  /** q17 — token-count statistics per language (LLM text analysis). */
  def q17TokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), TF.tokenCount(col("text")).as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_tok")).cast("long").as("total_tokens"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"))
      .withColumn("avg_tokens",
        col("total_tokens").cast("double") / col("docs").cast("double"))
      .orderBy(col("lang"))

  /** q18 — per-document quality features (punct ratio, token stats,
    * stopword ratio) — all single-row IEEE arithmetic, no accumulation. */
  def q18DocQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.regexTokenCount(col("text")).as("n_subtokens"),
        TF.punctRatio(col("text")).as("punct_ratio"),
        TF.stopwordRatio(col("text"), TF.DefaultLangMarkers("en")).as("stopword_ratio"))

  /** q19 — MinHash document fingerprint (k=8 over 3-token shingles);
    * hex-string minima are engine-portable. LLM-pipeline fingerprinting. */
  def q19MinhashFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), TF.fingerprint(col("text"), 8).as("fingerprint"))

  /** q20 — brute-force cosine top-10 per query vector (exact ANN baseline).
    * Query set broadcast; ranking windowed per query. */
  def q20KnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 10)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q21 — tumbling-window event aggregation (batch form of the streaming
    * path; SURVEY §2.11 extension): per (hour, event_type) counts +
    * distinct users. */
  def q21EventWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).cast("long").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("events"), countDistinct(col("user_id")).as("users"))
      .orderBy(col("hour"), col("event_type"))

  /** q22 — exact dedup cardinality over a composite key (events replay
    * guard; A13 shape). Spark's multi-column countDistinct skips rows with
    * any NULL; the oracle pins the same semantics via FILTER. */
  def q22EventDedupCount(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).agg(
      count(lit(1)).as("total"),
      countDistinct(col("user_id"), col("event_type")).as("distinct_user_type"))

  /** q23 — MinHash+LSH near-duplicate pairs with exact Jaccard
    * verification (LLM-pipeline near-dup; Dedup operator). rowsPerBand=1
    * keeps candidate generation deterministic for the oracle (candidate ⇔
    * any of the k MinHashes agree); maxBandDf=30 is the boilerplate-band
    * ceiling (oracle-mirrored) that keeps single-hash banding linear
    * under corpus growth — see the operator scaladoc and BENCH_SCALE. */
  def q23NearDupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDupPairs(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
      threshold = 0.4, maxBandDf = Some(30L))
      .orderBy(col("id_a"), col("id_b"))

  /** q24 — SimHash near-dup pairs (Hamming-blocked self-join). The token
    * hash is the portable Md5Hash32, so the oracle recomputes the
    * fingerprints in SQL and compares ALL pairs — equivalent output to the
    * engine's chunk-blocked join, which is lossless by pigeonhole (Hamming
    * ≤ 3 over 4 chunks forces one exact chunk match). */
  def q24NearDupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** q25 — embedding near-duplicate pairs, SRP-LSH-blocked
    * (Dedup.embeddingNearDupPairs — the 100 TB path: the self-join keys on
    * the sign-projection bucket, so candidate volume is within-bucket
    * only; the O(N²) crossJoin is demoted to the recall baseline in
    * VectorAndSimilaritySpec). The projection planes are a pure function
    * of the seed, so the oracle SQL is GENERATED with them interpolated
    * (q28's pattern) and the whole approximate path hash-checks. */
  def q25NearDupEmbedding(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"),
      col("vec_id"), col("embedding"), threshold = 0.35, nBits = 8, dim = 64)
      .orderBy(col("id_a"), col("id_b"))

  /** q26 — language identification by stopword-hit scoring over the marker
    * lists (text analysis; TF.langId), rolled up per (predicted, labeled). */
  def q26LanguageId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      // tokenize in its own projection: the five marker filters reference
      // the array, so the split chain runs once per row, not five times
      .select(TF.tokens(lower(col("text"))).as("toks"), col("lang"))
      .select(TF.langIdFromTokens(col("toks"), TF.DefaultLangMarkers).as("lang_pred"),
        col("lang"))
      .groupBy(col("lang_pred"), col("lang"))
      .agg(count(lit(1)).as("docs"))
      .orderBy(col("lang_pred"), col("lang"))

  /** q27 — per-document quality score (length/stopword/punctuation mix,
    * floor-truncated so the arithmetic is engine-identical). */
  def q27QualityScore(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TF.qualityScore(col("text"), TF.DefaultLangMarkers("en")).as("quality"))
      .orderBy(col("doc_id"))

  /** q28 — SRP-LSH approximate nearest neighbors (the 100 TB ANN path:
    * corpus bucketed once, queries multi-probe their neighbor buckets).
    * The projection planes are seeded-deterministic, so the oracle SQL is
    * GENERATED with the plane values interpolated as array literals
    * (Double.toString round-trips exactly; list_inner_product is the same
    * sequential fold as VecDot) — the whole approximate path hash-checks
    * against DuckDB. Recall vs the exact path is additionally asserted in
    * VectorAndSimilaritySpec. */
  def q28AnnSrp(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    Similarity.srpTopK(e.filter(col("vec_id") < 5), e, 10, nBits = 6, dim = 64)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q29 — Structured Streaming tumbling-window aggregation over the events
    * table run to completion (SURVEY §2.11): must equal the equivalent
    * batch GROUP BY, which is exactly what the oracle checks. */
  def q29StreamingWindows(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.runToCompletion(s, s"$dir/events.parquet",
      "q29_stream", graft.streaming.EventStreams.hourlyTypeCounts)
      .orderBy(col("hour"), col("event_type"))

  /** q30 — multimodal blob pipeline: text → opaque binary payload + typed
    * metadata, then per-partition decode/feature-extract via mapPartitions
    * (the Scala analog of mapInPandas; decode itself is a deterministic
    * stub — no codecs in this environment — so every feature is
    * byte-arithmetic the oracle can reproduce). */
  def q30MultimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val blobs = operators.MultimodalOps.asBlobTable(
      t(s, dir, "documents"), "doc_id", "text", "text/plain")
    operators.MultimodalOps.extractFeatures(
      blobs.select(col("doc_id"), col("payload")), "doc_id", "payload")
      // header_byte isn't expressible in portable SQL (code point ≠ byte
      // for non-ASCII); the oracle checks the byte-arithmetic features
      .drop("header_byte")
      .orderBy(col("doc_id"))
  }

  /** q31 — sessionization over the event stream: 30-minute-gap sessions
    * via lag + running conditional sum (the canonical event-pipeline
    * windowed computation; rank/lag/running-agg coverage beyond W1).
    * Epoch seconds via truncation on both engines (unix_timestamp /
    * floor(epoch)) — DuckDB's CAST would round-half-even on fractional
    * seconds.
    *
    * Boundary convention: new session iff gap > 1800 at SECONDS precision
    * — this deliberately differs from q38's `session_window`, which splits
    * on `diff >= gap` at MICROS precision; events exactly 30 minutes apart
    * (or with sub-second gap differences) sessionize differently between
    * the two queries. Each oracle mirrors its own convention. */
  def q31Sessionization(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val secs = unix_timestamp(col("ts"))
    val gap = secs - unix_timestamp(lag(col("ts"), 1).over(w))
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("new_s", when(gap.isNull || gap > 1800, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(run).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(secs).cast("long").as("start_ts"),
        max(secs).cast("long").as("end_ts"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q32 — multi-dimensional ROLLUP aggregation (grouping-set coverage):
    * per (priority, status), per priority, and grand total in one pass. */
  def q32RollupTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("orders"), moneySumCents(col("o_totalprice")).as("total_cents"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        col("orders"), col("total_cents"))
      .orderBy(col("priority"), col("status"))

  /** q33 — IVF ANN with a TRAINED-BUT-DETERMINISTIC quantizer: hash-chosen
    * seeds (q49's pick) refined by one quantized Lloyd round
    * (Similarity.lloydRefine — integer-scaled means, so the refined
    * centroids are bit-reproducible and the ORACLE derives them itself in
    * SQL; closes the hash-check gap the float-order-dependent KMeans
    * quantizer couldn't). Queries probe their 2 nearest of 8 cells.
    * The KMeans variant (Similarity.ivfTopK) stays the bench/spec path. */
  def q33AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val refined = Similarity.lloydRefine(e, Similarity.hashCentroids(e, 8))
    Similarity.ivfFlatTopK(e.filter(col("vec_id") < 5), e, 10, refined, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q34 — schema-on-read JSON extraction from the events `props` column
    * (the reference's defensive nested-JSON consumption, F-family):
    * parse, project a typed field, aggregate. */
  def q34JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("with_k"),
        coalesce(sum(col("k")), lit(0L)).as("k_total"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy(col("event_type"))

  /** q35 — rank/dense_rank with genuine ties (window family beyond
    * row_number): distinct quantity levels ranked within return flag. */
  def q35RankTies(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("cnt").desc, col("l_quantity"))
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("l_returnflag"), col("l_quantity"), col("cnt"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy(col("l_returnflag"), col("rnk"), col("l_quantity"))
  }

  /** q36 — CUBE over (priority, status): all four grouping combinations in
    * one pass (grouping-sets family beyond q32's ROLLUP). */
  def q36CubeTotals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("orders"))
      .select(coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"), col("orders"))
      .orderBy(col("priority"), col("status"))

  /** q37 — exact bigram-Jaccard near-dup pairs at the composed scale
    * shape (Dedup.bandedNgramJaccardPairs): MinHash-band candidates over
    * trigram shingles, verified by the exact bigram measure — the whole
    * corpus, no slice bound, because candidate generation is banded
    * instead of all-pairs (the standalone all-pairs
    * Dedup.ngramJaccardPairs stays the bounded baseline in DedupSpec).
    * rowsPerBand=2 (4 bands of 2 MinHash rows): single-hash bands flood
    * verification with false candidates on a shared-vocabulary corpus —
    * 82k candidate pairs vs 826 at sf0.1 — because a candidate needs only
    * ONE chance trigram-hash agreement; requiring two simultaneous
    * agreements drops the noise floor quadratically while true near-dups
    * (trigram Jaccard ≳ 0.6) still collide with high probability. */
  def q37NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.bandedNgramJaccardPairs(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), candShingleN = 3, k = 8, rowsPerBand = 2,
      n = 2, threshold = 0.3)
      .orderBy(col("id_a"), col("id_b"))

  /** q38 — gap-based sessions via the native `session_window` aggregation
    * (one shuffle on user_id; state bounded by the gap in streaming mode —
    * the aggregation form of q31's lag+running-sum formulation, and the
    * built-in counterpart of EventStreams.sessionize's custom state).
    * Sessions split on a ≥30-minute event-time silence: session_window
    * merges an event iff it lands strictly inside the open window, so the
    * oracle's new-session predicate is `diff >= gap` at micros precision. */
  def q38SessionWindow(s: SparkSession, dir: String): DataFrame = {
    val secs = unix_timestamp(col("ts"))
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(secs).cast("long").as("start_ts"),
        max(secs).cast("long").as("end_ts"))
      .select(col("user_id"), col("start_ts"), col("end_ts"), col("n_events"))
      .orderBy(col("user_id"), col("start_ts"))
  }

  /** q39 — backward as-of join (AsOfJoin operator): each event picks up
    * its user's most recent order-day total at-or-before the event time.
    * Union + ordered window — one shuffle on the key, no row explosion
    * (see AsOfJoin scaladoc); DuckDB's native ASOF JOIN is the oracle.
    * The right side is pre-aggregated to (custkey, day) so the match is
    * unique — the operator's determinism precondition. */
  def q39AsOfOrders(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(moneySumCents(col("o_totalprice")).as("day_cents"))
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"))
    // o_orderdate is TIMESTAMP_NTZ in the parquet; the session runs UTC,
    // so the cast to TIMESTAMP preserves the instant (unix_micros only
    // accepts the tz-aware type)
    operators.AsOfJoin.backward(ev, daily,
        col("user_id"), unix_micros(col("ts")),
        col("o_custkey"), unix_micros(col("o_orderdate").cast("timestamp")))
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("asof.o_orderdate").cast("timestamp")).as("order_secs"),
        col("asof.day_cents").as("day_cents"))
      .orderBy(col("event_id"))
  }

  /** q40 — exact nearest-rank quantiles per group (Quantiles operator):
    * the percentile family the reference lacks, in its exact
    * oracle-checkable form (see Quantiles scaladoc for the
    * approx_percentile trade at scale). */
  def q40Quantiles(s: SparkSession, dir: String): DataFrame =
    operators.Quantiles.nearestRank(
      t(s, dir, "lineitem"), Seq("l_returnflag"), col("l_quantity"),
      Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9))
      .orderBy(col("l_returnflag"))

  /** q41 — deterministic hash sampling + stable train/val/test split
    * (Sampling operator): ~50% keyed sample of the corpus, split 60/20/20
    * within it, rolled up per (lang, split). Membership is a pure
    * function of doc_id — identical across engines, runs, partitionings. */
  def q41SampleSplit(s: SparkSession, dir: String): DataFrame = {
    val sampled = operators.Sampling.deterministicSample(
      t(s, dir, "documents"), col("doc_id"), "8000")
    sampled
      .withColumn("split",
        operators.Sampling.splitLabel(col("doc_id"), "4ccc", "6666"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"), col("split"))
  }

  /** q42 — pivot: the matchup-matrix family in wide form (one column per
    * order status). Pivot values are pinned so Spark skips the extra
    * distinct-scan job and the output schema is static — the only way a
    * pivot stays a single-pass aggregation at scale. */
  def q42PivotStatus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("priority"),
        coalesce(col("F"), lit(0L)).as("F"),
        coalesce(col("O"), lit(0L)).as("O"),
        coalesce(col("P"), lit(0L)).as("P"))
      .orderBy(col("priority"))

  /** q43 — dedup clustering: q23's near-dup pairs collapsed into connected
    * components (Dedup.connectedComponents — iterative min-label
    * propagation over the pair graph; the step that turns pairwise matches
    * into keep-one-per-cluster decisions). Only docs appearing in ≥1 pair
    * are labeled; the DuckDB oracle computes the same fixpoint with a
    * recursive CTE (transitive closure + MIN — fine at oracle scale; the
    * iterative form is the one that scales). */
  def q43DedupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
      threshold = 0.4, maxBandDf = Some(30L))
    Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      .orderBy(col("id"))
  }

  /** q44 — stratified deterministic sampling (Sampling.stratifiedSample):
    * corpus rebalancing with a different keep-rate per language — the
    * dominant stratum downsampled hard, mid strata at 75%, the tail at
    * 37.5% — all as one literal CASE predicate fused into the scan. */
  def q44StratifiedSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.stratifiedSample(
      t(s, dir, "documents"), col("doc_id"), col("lang"),
      Map("en" -> "2000", "de" -> "c000", "fr" -> "c000"),
      defaultBound = "6000")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))

  /** q45 — interval (range) join via time-bucket blocking
    * (IntervalJoin.followWithin): clicks following a view by the same
    * user within 10 minutes, rolled up per user. The equi-join on
    * (user, bucket) replaces the per-key cross product Spark would plan
    * for the raw range condition (see IntervalJoin scaladoc); the oracle
    * computes the same pairs with a plain inequality join. */
  def q45IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("cus"))
    operators.IntervalJoin.followWithin(views, clicks,
        col("user_id"), col("us"), col("cu"), col("cus"), 600000000L)
      .select(col("user_id"), col("view_id"), col("matched.click_id").as("click_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("view_id") + col("click_id")).cast("long").as("id_sum"))
      .orderBy(col("user_id"))
  }

  /** q46 — five-table star join (TPC-H Q5 shape): revenue by nation where
    * the customer and the line's supplier share a nation. Facts join on
    * their keys; nation broadcasts; the c_nationkey = s_nationkey filter
    * runs post-join (it correlates the two dim FKs, so it can't push to
    * either scan). Revenue as per-row floored cents → exact cross-engine
    * sums. */
  def q46NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val rowCents = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      * lit(100.0) + lit(0.5)).cast("long")
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lines"), sum(rowCents).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** q47 — correlated-aggregate decorrelation (TPC-H Q17 shape): lines
    * with quantity below 20% of their part's average quantity. The
    * correlated scalar subquery becomes a per-part aggregate joined back
    * to the fact (AQE can broadcast the |parts|-sized aggregate). The
    * average divides an exact integer sum by an exact count — one IEEE
    * division, identical in any engine. */
  def q47BelowAvgQuantity(s: SparkSession, dir: String): DataFrame = {
    val perPart = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("pk"))
      .agg((sum(col("l_quantity").cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avg_q"))
    t(s, dir, "lineitem")
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_q"))
      .agg(count(lit(1)).as("n_lines"),
        moneySumCents(col("l_extendedprice")).as("total_cents"))
  }

  /** q48 — the full corpus-cleaning composition (CorpusPipeline.clean):
    * quality gate → exact dedup → MinHash near-dup clusters (keep each
    * cluster's min id) → stratified downsample of the dominant language,
    * rolled up per lang. Every stage is deterministic, so the oracle
    * replays the identical chain in SQL (quality fragment from q27,
    * dedup from q07, closure from q43, sample from q44).
    *
    * rowsPerBand=2 (unlike q23's single-hash bands): requiring two
    * consecutive signature agreements per band collapses the false
    * candidates that dominated verification cost (3242 → 25 candidates
    * for the same true pairs at sf0.1) — the banding precision/recall
    * knob doing its actual job; the oracle mirrors it by pairing seeds
    * with an ordered string_agg per band. */
  def q48CorpusClean(s: SparkSession, dir: String): DataFrame =
    operators.CorpusPipeline.clean(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars")),
      stopwords = TF.DefaultLangMarkers("en"),
      qualityThreshold = 0.5, jaccardThreshold = 0.5,
      rowsPerBand = 2,
      sampleBounds = Map("en" -> "8000"), defaultBound = "g")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))

  /** q49 — training-free IVF ANN (Similarity.ivfFlatTopK): centroids are
    * the 8 corpus vectors with the smallest md5(id) — a deterministic
    * index build the ORACLE derives itself in SQL, so unlike q33's KMeans
    * quantizer the whole approximate path hash-checks. Distances are
    * composed of native dot products only (see operator scaladoc). */
  def q49AnnIvfFlat(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = Similarity.hashCentroids(e, 8)
    Similarity.ivfFlatTopK(e.filter(col("vec_id") < 5), e, 10, centroids, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q50 — disjunctive predicate pushdown (TPC-H Q19 shape): an
    * OR-of-ANDs over fact and dim columns. Catalyst factors the common
    * fact-only conjuncts out of the disjunction so they reach the
    * lineitem scan (PushedFilters) even though the full predicate
    * straddles the join — the optimizer surface this query pins. */
  def q50DisjunctiveFilter(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val joined = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val cond =
      (col("p_brand") === "Brand#12" && col("l_quantity").between(1, 11) && col("p_size") <= 5) ||
      (col("p_brand") === "Brand#23" && col("l_quantity").between(10, 20) && col("p_size") <= 10) ||
      (col("p_brand") === "Brand#34" && col("l_quantity").between(20, 30) && col("p_size") <= 15)
    joined.filter(cond && col("l_returnflag").isin("R", "A"))
      .agg(count(lit(1)).as("n_lines"),
        moneySumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue_cents"))
  }

  /** q51 — dedup clustering via large-star/small-star contraction
    * (Dedup.connectedComponentsStar): the SAME pair graph and component
    * labels as q43, computed by the O(log n)-round algorithm that survives
    * power-law near-dup graphs (boilerplate corpora chain components
    * thousands of nodes deep; min-label propagation needs O(diameter)
    * rounds there). Hash-checked against the identical recursive-CTE
    * oracle, proving the two implementations are drop-in interchangeable
    * on real banding output, not just on DedupSpec's synthetic graphs. */
  def q51DedupComponentsStar(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
      threshold = 0.4, maxBandDf = Some(30L))
    Dedup.connectedComponentsStar(pairs, col("id_a"), col("id_b"))
      .orderBy(col("id"))
  }

  /** q52 — Gopher-style repetition quality signals, per document: the
    * fraction of tokens taken by the most frequent token and the fraction
    * of duplicate bigram occurrences. Both are pure per-row expressions
    * (TextFunctions.topTokenFraction / dupNgramFraction) — they fuse into
    * the scan with zero shuffle, the property that makes repetition
    * filtering free at corpus scale. Floor-truncated to 6 dp like q27
    * (round() ties differ across engines). */
  def q52Repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(trim(coalesce(col("text"), lit(""))) =!= "")
      // tokens in their own projection — both signals' HOF lambdas then
      // read a bound attribute instead of re-splitting per element (the
      // re-eval trap documented at TextFunctions.tokenShingles)
      .select(col("doc_id"), TF.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        (floor(TF.topTokenFractionFromTokens(col("toks")) * 1e6) / 1e6)
          .as("top_token_frac"),
        (floor(TF.dupNgramFractionFromTokens(col("toks"), 2) * 1e6) / 1e6)
          .as("dup_bigram_frac"))
      .orderBy(col("doc_id"))

  /** q53 — benchmark-contamination audit (Contamination.ngramOverlap):
    * trigram overlap of every training doc against the held-out set
    * (docs with doc_id ≡ 0 mod 97 stand in for the benchmark). The
    * benchmark gram set broadcasts; candidates never shuffle their
    * payloads — see the operator scaladoc for the inverted-index shape.
    * `contaminated` ⇔ overlap ≥ 1/2, compared in integers. */
  def q53Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    operators.Contamination.ngramOverlap(
      docs.filter(col("doc_id") % 97 =!= 0),
      docs.filter(col("doc_id") % 97 === 0),
      col("doc_id"), col("text"), n = 3, denomFactor = 2)
      .orderBy(col("doc_id"))
  }

  /** q54 — TF-IDF keyword extraction (Keywords.topTerms): the 3 most
    * distinctive terms per document by the integer ranking (tf DESC,
    * df ASC, term ASC) — the float-free formulation of tf·idf ordering
    * (see the operator scaladoc for why ln() is banned from a
    * hash-checked ranking). One tf shuffle + broadcast df join + one
    * doc_id window. */
  def q54TfIdfKeywords(s: SparkSession, dir: String): DataFrame =
    operators.Keywords.topTerms(
      t(s, dir, "documents").filter(trim(coalesce(col("text"), lit(""))) =!= ""),
      col("doc_id"), col("text"), k = 3)
      .orderBy(col("doc_id"), col("rnk"))

  /** q55 — corpus-internal duplicated n-gram audit
    * (Dedup.sharedNgramStats): for each document, how many of its
    * distinct trigrams appear in at least one OTHER document, and the
    * shared fraction — the exact-substring-dedup signal that catches
    * template/boilerplate docs pairwise near-dup mining misses. Unlike
    * q53's broadcast benchmark probe, the gram index here is
    * corpus-sized, so this is the genuine inverted-index shuffle (Zipf
    * gram skew notes in the operator scaladoc). */
  def q55DupNgrams(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.sharedNgramStats(
      t(s, dir, "documents"), col("doc_id"), col("text"), n = 3)
      .orderBy(col("doc_id"))

  /** q56 — distributed fixed-point centroids per embedding label
    * (Similarity.quantizedCentroids): the centroid-training aggregation
    * of an IVF index run corpus-wide with ZERO driver collect (q33/q49
    * build their indexes from collected samples — this is the path when
    * even the sample won't fit). Components quantize to integers BEFORE
    * the sum, so the mean is bit-stable across partitionings and engines
    * (see the operator scaladoc). */
  def q56LabelCentroids(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.quantizedCentroids(
      t(s, dir, "embeddings"), col("label"), col("embedding"))
      .orderBy(col("label"), col("pos"))

  /** q57 — product-quantization ANN by asymmetric-distance computation
    * (Similarity.pqTopK, refine=0): hash-chosen codebooks (16 codewords ×
    * 8 subspaces over the 64-dim embeddings), corpus encoded to 8 codes
    * per vector, queries scored via their broadcast lookup tables. The
    * memory-compression path of billion-scale ANN (32× smaller scored
    * side), fully deterministic — codebooks, argmin encode and the
    * left-associated ADC sum all replay exactly in SQL, so the whole
    * approximate path hash-checks like q49. */
  def q57AnnPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val books = Similarity.pqCodebooks(e, m = 8, codewords = 16)
    Similarity.pqTopK(e.filter(col("vec_id") < 5), e, 10, books)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q58 — keep-best cluster dedup (Dedup.bestRepresentative): q43's
    * near-dup clusters, but each cluster keeps its LONGEST member
    * (n_chars, ties to the lower doc_id) instead of the minimum id — the
    * keep-most-complete policy real corpus dedup applies. Same pair graph
    * and closure as q43; only the representative rule changes, so the
    * oracle is q43's recursive CTE plus an argmax window. */
  def q58KeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
    val pairs = Dedup.minhashNearDupPairs(docs, col("doc_id"), col("text"),
      shingleN = 3, k = 8, rowsPerBand = 1, threshold = 0.4,
      maxBandDf = Some(30L))
    Dedup.bestRepresentative(docs, pairs, col("doc_id"), col("n_chars"))
      .orderBy(col("comp"))
  }

  /** q59 — IVF-PQ ANN (Similarity.ivfPqTopK): the composed billion-scale
    * architecture — q49's hash-chosen coarse cells bound WHICH rows each
    * query scores (nProbe=2 of 8 cells), q57's PQ codes compress WHAT is
    * scored (8 codes + table lookups). Both halves are deterministic and
    * SQL-replayable, so the composition hash-checks end to end. */
  def q59AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = Similarity.hashCentroids(e, 8)
    val books = Similarity.pqCodebooks(e, m = 8, codewords = 16)
    Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e, 10, centroids, books,
      nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q60 — one-pass column profiling (Profile.summarize): per-column
    * non-null/null/exact-distinct counts for a pre-load data-quality
    * audit, all from ONE aggregation (Expand-planned multi-distinct —
    * never M scans of the table). */
  def q60Profile(s: SparkSession, dir: String): DataFrame =
    operators.Profile.summarize(t(s, dir, "orders"),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"))

  /** q61 — snapshot diff / CDC (Upsert.snapshotDiff): two synthetic
    * versions of the orders table (removals, additions, and price
    * changes, all keyed off deterministic modulo predicates) classified
    * by one full-outer key join into added/removed/changed, rolled up
    * per change type. The incremental-publish primitive: ship the diff,
    * not the snapshot. */
  def q61SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val oldV = orders.filter(col("o_orderkey") % 7 =!= 0)
    val newV = orders.filter(col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    operators.Upsert.snapshotDiff(oldV, newV, Seq("o_orderkey"))
      .groupBy(col("change_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("change_type"))
  }

  /** q62 — retrieval + enrichment: q49's IVF search results joined back
    * to the documents dimension (doc_id ≡ vec_id in the fixtures) — the
    * semantic-search shape every RAG/retrieval pipeline ends with. The
    * retrieval side is k×queries rows, so IT broadcasts into the
    * corpus-sized metadata table, never the reverse. */
  def q62SemanticEnrich(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val topk = Similarity.ivfFlatTopK(e.filter(col("vec_id") < 5), e, 10,
      Similarity.hashCentroids(e, 8), nProbe = 2)
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(topk), col("doc_id") === col("neighbor_id"))
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("lang"), col("n_chars"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q63 — time-RANGE window frame: per user, the rolling 1-hour event
    * count and value sum (integer cents — a double sum's accumulation
    * order inside a window frame is engine-defined). RANGE frames are
    * the window family ROWS frames can't express: the frame is bounded
    * by the ORDER value, so ties (and this fixture replays duplicate
    * events deliberately) all share one frame. One shuffle on user_id. */
  def q63RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .select(col("user_id"), col("event_id"), col("us"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("cents")).over(w).as("cents_1h"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  /** q64 — relational set operators (U-family): customers ordering in
    * BOTH priority extremes (INTERSECT) vs urgent-only (EXCEPT), rolled
    * up per class. Both operators carry SQL DISTINCT-set semantics —
    * Spark plans them as aggregated semi/anti joins, one shuffle each on
    * the already-projected key. */
  def q64SetOps(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val low = o.filter(col("o_orderpriority") === "5-LOW")
      .select(col("o_custkey"))
    urgent.intersect(low).withColumn("set_class", lit("both"))
      .unionByName(urgent.except(low).withColumn("set_class", lit("urgent_only")))
      .groupBy(col("set_class"))
      .agg(count(lit(1)).as("customers"),
        sum(col("o_custkey")).cast("long").as("custkey_sum"))
      .orderBy(col("set_class"))
  }

  /** q65 — the analyst-SQL entry point (SURVEY EP2) end-to-end: temp
    * views + `spark.sql` with a correlated EXISTS (TPC-H Q4 shape).
    * Catalyst decorrelates the subquery into a left-semi join on
    * l_orderkey — the same plan the DataFrame API would build, which is
    * the point: both front doors share one optimizer. */
  def q65ExistsSql(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM lineitem_v l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** q66 — NOT IN under nulls, the SQL trap every engine must agree on:
    * against a null-free key list NOT IN is a plain anti join; one NULL
    * in the list makes every membership test UNKNOWN and the result
    * empty. Spark plans the latter as a null-aware anti join
    * (BroadcastNestedLoopJoin) — both variants side by side, counted. */
  def q66NotInNulls(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(
      """WITH nn AS (SELECT COUNT(*) AS n FROM orders_v
        |            WHERE o_custkey NOT IN
        |              (SELECT c_custkey FROM customer_v WHERE c_acctbal < 0)),
        |wn AS (SELECT COUNT(*) AS n FROM orders_v
        |       WHERE o_custkey NOT IN
        |         (SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
        |          FROM customer_v))
        |SELECT 'null_free' AS variant, n FROM nn
        |UNION ALL SELECT 'with_null', n FROM wn
        |ORDER BY variant""".stripMargin)
  }

  /** q67 — calendar extraction portability: year/quarter rollup of order
    * revenue. Date-part functions are a classic cross-engine minefield
    * (week numbering, DST, epoch conventions); year/quarter over a UTC
    * session are the portable core, pinned here by hash-check. */
  def q67Calendar(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("y"),
        quarter(col("o_orderdate")).as("q"))
      .agg(count(lit(1)).as("n_orders"),
        moneySumCents(col("o_totalprice")).as("revenue_cents"))
      .orderBy(col("y"), col("q"))

  /** q68 — pretraining data-mixture sampling (Sampling.mixtureSample):
    * downsample each language toward a 40/15/15/15/15 mix under a 60k
    * char budget. Per-stratum keep-rates derive from one totals
    * aggregation and compile into an integer parts-per-million hash
    * threshold — the whole sampling pass fuses into the scan and the
    * mixture is reproducible across engines (the oracle recomputes the
    * identical thresholds in SQL). */
  def q68MixtureSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.mixtureSample(
      t(s, dir, "documents"), col("doc_id"), col("lang"), col("n_chars"),
      weights = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
        "fr" -> 0.15, "zh" -> 0.15),
      budget = 60000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))

  /** q69 — first_value/last_value over an explicit full-partition frame:
    * each customer's first and latest order (date + status), taken in
    * one windowed pass instead of two min/max joins. last_value needs
    * the UNBOUNDED FOLLOWING frame spelled out (the default frame ends
    * at CURRENT ROW — the classic silent-wrong-answer default) and the
    * ORDER BY carries o_orderkey as tie-break so same-date orders
    * resolve identically in every engine. */
  def q69FirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(col("o_custkey"),
        unix_timestamp(first(col("o_orderdate")).over(w)).cast("long").as("first_secs"),
        first(col("o_orderstatus")).over(w).as("first_status"),
        unix_timestamp(last(col("o_orderdate")).over(w)).cast("long").as("last_secs"),
        last(col("o_orderstatus")).over(w).as("last_status"))
      .distinct()
      .orderBy(col("o_custkey"))
  }

  /** q70 — q55's duplicated-n-gram audit with the `dfCeiling` Zipf-head
    * cutoff engaged: grams present in more than 10 documents are excluded
    * from both the shared and the total counts. This is THE 100 TB knob
    * of the gram join — stop-phrase grams carry no dedup signal but
    * dominate the inverted-index shuffle (a Zipf head key can hold a
    * measurable fraction of all postings) — exercised here end-to-end
    * against the oracle so the cutoff semantics (signal-gram-only
    * denominator) are hash-pinned, not just spec'd. */
  def q70DupNgramsCeiling(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.sharedNgramStats(
      t(s, dir, "documents"), col("doc_id"), col("text"), n = 3,
      dfCeiling = 10L)
      .orderBy(col("doc_id"))

  /** q71 — sequence packing (Packing.packSequences): the cleaned corpus
    * laid out on 4 deterministic hash-sharded token streams and cut into
    * 512-token training sequences; each document reports the global
    * sequence it starts in and its offset there. Token counts use the
    * same portable whitespace split as q17. The window runs partitioned
    * by shard (the scale shape — no global sort), and the per-shard
    * sequence-id bases come from a 4-row broadcast frame. */
  def q71SequencePack(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packSequences(
      t(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tok")),
      col("doc_id"), col("n_tok"), budget = 512L, shards = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** q72 — q59's IVF-PQ with the refine ladder engaged (refine=2): the
    * top 20 ADC candidates per query are re-ranked by EXACT cosine
    * against the true vectors before the final top-10 — the standard
    * two-stage retrieval (compressed first pass bounds the candidates,
    * exact second pass fixes their order), paying full dot products for
    * 2·k rows per query instead of the probed cells' whole population.
    * Both stages are deterministic, so the composition hash-checks. */
  def q72AnnIvfPqRefined(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val centroids = Similarity.hashCentroids(e, 8)
    val books = Similarity.pqCodebooks(e, m = 8, codewords = 16)
    Similarity.ivfPqTopK(e.filter(col("vec_id") < 5), e, 10, centroids, books,
      nProbe = 2, refine = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q73's query batch — a literal search-API batch over the documents
    * fixture vocabulary; also drives the generated oracle so the two
    * stay in lockstep. */
  private[graft] val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("hash", "join", "merge"),
    2 -> Seq("window", "sort", "order"),
    3 -> Seq("vector", "stream", "batch"))

  /** q73 — BM25 keyword retrieval (Keywords.bm25TopK): top-10 documents
    * per query for a 3-query batch — the lexical complement of the ANN
    * entries (q20/q28/q33/...), sharing their output discipline (integer
    * ids + rnk; the float score lives only in the ranking). Scoring uses
    * the correctly-rounded odds-ratio BM25 form (operator scaladoc), so
    * the whole retrieval hash-checks against the oracle. */
  def q73Bm25Search(s: SparkSession, dir: String): DataFrame =
    operators.Keywords.bm25TopK(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      Bm25Queries, k = 10)
      .orderBy(col("query_id"), col("rnk"))

  /** q74 — q29's windowed streaming aggregation through the PRODUCTION
    * harness (EventStreams.runToCompletionFileSink): append-mode parquet
    * sink, checkpointed, watermark-bounded state, zero driver collect —
    * the shape a deployed stream actually runs, hash-checked against the
    * same batch oracle as q29 (streaming ≡ batch, now for the file-sink
    * path end to end). */
  def q74StreamingFileSink(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.runToCompletionFileSink(s,
      s"$dir/events.parquet", graft.streaming.EventStreams.hourlyTypeCounts)
      .orderBy(col("hour"), col("event_type"))

  /** q75 — hybrid retrieval (Fusion.reciprocalRank): q73's BM25 lexical
    * arm and an exact-cosine vector arm, each at top-20, fused by RRF
    * into a top-10 per query — the two-tower search architecture end to
    * end. Query ids align by construction (vec_id ↔ keyword-query id,
    * the same id bridge q62 uses); RRF consumes RANKS, so no score
    * normalization crosses the engine boundary and the whole hybrid
    * stack hash-checks. */
  def q75HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val lexical = operators.Keywords.bm25TopK(
      t(s, dir, "documents"), col("doc_id"), col("text"), Bm25Queries, k = 20)
      .withColumn("query_id", col("query_id").cast("long"))
    val vector = Similarity.bruteForceTopK(
      e.filter(col("vec_id").between(1, 3)), e, 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rnk"))
    operators.Fusion.reciprocalRank(lexical, vector, k = 10)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** q76 — top-fraction quality gate (Sampling.keepTopFraction): keep
    * each language's best 25% of documents by length, rolled up per
    * lang with the cut boundary exposed (min kept n_chars). The
    * percentile-filter move quality-classifier pipelines make — here in
    * its exact, float-free form: the cut is an integer window comparison
    * (rn·10⁶ ≤ n·ppm), so the kept set hash-checks. */
  def q76TopFraction(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.keepTopFraction(
      t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
      col("lang"), col("n_chars"), col("doc_id"), keepPpm = 250000L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        min(col("n_chars")).cast("long").as("min_chars"))
      .orderBy(col("lang"))

  /** q77 — segment-level boilerplate removal (Boilerplate
    * .stripSharedSegments): the CCNet/RefinedWeb cross-document
    * duplicated-line drop, on 3-token fixed-width segments (this
    * fixture's text is single-line — the operator scaladoc covers the
    * segmenter substitution). Segments in >2 distinct docs are dropped;
    * output proves the rewrite per doc via md5 of the reassembled
    * survivor text, so the artifact is one fixed-width row per document
    * at any corpus size. */
  def q77BoilerplateStrip(s: SparkSession, dir: String): DataFrame =
    operators.Boilerplate.stripSharedSegments(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      segTokens = 3, maxDocs = 2L)
      .orderBy(col("doc_id"))

  /** q78 — vocabulary build + token-id encoding (Vocab.build/
    * encodeStats): frequency-ranked top-24 vocab over the corpus, every
    * document re-encoded as (pos, id) with OOV → 0, checked through the
    * order-sensitive integer checksum Σ pos·id — the cleaned-text →
    * training-shard step, end to end. Vocab ranking runs on the
    * Zipf-bounded vocabulary frame; encoding is a broadcast join, no
    * corpus shuffle. */
  def q78VocabEncode(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = operators.Vocab.build(docs, col("text"), minCount = 1L,
      maxSize = 24L)
    operators.Vocab.encodeStats(docs, col("doc_id"), col("text"), vocab)
      .orderBy(col("doc_id"))
  }

  /** q79 — per-group outlier detection (Anomaly.flagOutliers): events
    * whose (cents-quantized) value sits more than 3σ from their
    * event_type's mean, decided by the exact integer form
    * (n·x−s)² > 9·(q·n−s²) — no float comparison anywhere, so the
    * flagged set hash-checks. Stats are one map-side-combined groupBy;
    * the join back is a broadcast of the 5-row stats frame. */
  def q79GroupOutliers(s: SparkSession, dir: String): DataFrame =
    // onOverflow="float": event groups cross the exact-test bound
    // (n·max|v| > √MaxLong/3) around sf0.1 — over-range groups take the
    // portable fixed-tree double test and stay hash-checkable
    operators.Anomaly.flagOutliers(
      Tables.events(s, dir).select(col("event_type"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents")),
      col("event_type"), col("event_id"), col("cents"), k = 3,
      onOverflow = "float")
      .orderBy(col("grp"), col("row_id"))

  /** q80 — type-2 SCD history (Scd.type2): each user's event_type feed
    * collapsed into versioned runs with [eff_from, eff_to) validity in
    * epoch micros (open current version = NULL) — the dimension-history
    * build a warehouse runs on every change feed. One shuffle on
    * user_id; history length is bounded by change count, not event
    * count. */
  def q80ScdHistory(s: SparkSession, dir: String): DataFrame =
    operators.Scd.type2(
      Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("event_type")),
      col("user_id"), col("tus"), col("event_id"), col("event_type"))
      .select(col("k").as("user_id"), col("attr").as("event_type"),
        col("ver").cast("long").as("ver"),
        col("effective_from").as("eff_from"),
        col("effective_to").as("eff_to"),
        col("n_events"))
      .orderBy(col("user_id"), col("ver"))

  /** q81 — exact duplicated-span removal (SpanRemoval
    * .removeDuplicatedSpans): documents REWRITTEN by deleting every
    * maximal token span covered by a 3-gram shared with another
    * document — the Lee-et-al-style edit pass completing the dedup
    * family (q55/q70 audit, q77 segment drop). Gram docfreq is one
    * two-phase aggregate; spans and reassembly are doc-partitioned
    * windows; the rewritten text is pinned via md5. */
  def q81SpanRemoval(s: SparkSession, dir: String): DataFrame =
    operators.SpanRemoval.removeDuplicatedSpans(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      n = 3, minDocs = 2L)
      .orderBy(col("doc_id"))

  /** q82 — materialized packed slices (Packing.packedSlices): the
    * dataloader-facing inverse of q71 — per sequence, the ordered
    * (doc, token_from, token_to, seq_from) slices including straddle
    * continuation rows. Same shard-partitioned cumsum + broadcast base
    * join; the explode adds ceil(n/budget)+1 rows per doc, linear. */
  def q82PackedSlices(s: SparkSession, dir: String): DataFrame =
    operators.Packing.packedSlices(
      t(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tok")),
      col("doc_id"), col("n_tok"), budget = 512L, shards = 4)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("seq_id"), col("seq_from"))

  /** q83 — one BPE merge round (Bpe.mergeRound): corpus-weighted
    * adjacent-pair counts over character symbols, deterministic best-pair
    * pick (count DESC, pair ASC), greedy left-to-right re-encode — the
    * real subword vocab-build step under q78's word-level table. All
    * heavy work runs on the distinct-word frame; the artifact pins both
    * the merge rule and every document's re-encoded checksum. */
  def q83BpeMerge(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.mergeRound(
      t(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** q84 — the BPE TRAINER at 3 rounds (Bpe.trainRounds): iterated
    * best-pair selection + greedy re-encode, merge table driver-held
    * (1-row collect per round, the documented index-sized exception) and
    * re-applied as literal rules — N merges are N vocab-sized passes,
    * the corpus never re-shuffles. Artifact pins the ordered merge
    * table (constant `rules` column) and every doc's final checksum;
    * the oracle replays all three rounds as chained CTEs. */
  def q84BpeTrain(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.trainRounds(
      t(s, dir, "documents"), col("doc_id"), col("text"), rounds = 3)
      .orderBy(col("doc_id"))

  /** q85 — exact per-stratum quota sampling (Sampling.exactNPerStratum):
    * exactly min(50, |stratum|) docs per language by deterministic md5
    * rank — the fixed-quota complement of the fractional samplers
    * (q41/q44/q68). Exact window path here; the scan-fused ppm prefilter
    * knob (identical results, spec-pinned) is the corpus-scale route. */
  def q85ExactQuota(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.exactNPerStratum(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), n = 50)
      .select(col("lang"), col("doc_id"), col("__rank").as("rk"))
      .orderBy(col("lang"), col("rk"))

  /** q86 — streaming dedup chained into the windowed rollup
    * (EventStreams.dedupedHourlyTypeCounts): the feed delivered TWICE
    * (self-union — the at-least-once transport model), collapsed by
    * dropDuplicatesWithinWatermark feeding the window aggregate — two
    * stateful operators in one append-mode file-sink query. The oracle
    * is the single-delivery batch rollup: dedup must remove exactly the
    * redundant copy. */
  def q86StreamingDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.runToCompletionFileSink(s,
      s"$dir/events.parquet",
      df => graft.streaming.EventStreams.dedupedHourlyTypeCounts(df.union(df)))
      .orderBy(col("hour"), col("event_type"))

  /** q87 — order-independent dataset fingerprint (Profile
    * .datasetChecksum): per-source row count + commutative row-hash
    * checksum over the documents table — the dataset-versioning /
    * drift-detection audit, scan-fused with one map-side-combined
    * groupBy and portable by construction (string/integer casts only). */
  def q87DatasetChecksum(s: SparkSession, dir: String): DataFrame =
    operators.Profile.datasetChecksum(
      t(s, dir, "documents"), col("source"),
      Seq("doc_id", "text", "lang", "source", "n_chars"))
      .orderBy(col("grp"))

  /** q88 — cross-split near-dup leakage (Contamination
    * .crossSplitNearDups): q23's verified MinHash pairs labeled by each
    * side's deterministic split — eval rows whose near-copy sits in
    * train, the post-dedup leakage audit. Zero-join composition: the
    * split label is a hash of the id, projected on the pair frame. */
  def q88SplitLeakage(s: SparkSession, dir: String): DataFrame =
    operators.Contamination.crossSplitNearDups(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
      threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** q89 — SQ8 scalar quantization (Similarity.sq8Encode): per-dimension
    * [min, max] from one map-side-combined aggregate, broadcast back
    * into a scan-fused uint8 encode — the third compression point on the
    * ANN ladder (exact → SQ8 → PQ), every code hash-checked. */
  def q89Sq8Encode(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.sq8Encode(
      t(s, dir, "embeddings"), col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"), col("pos"))

  /** q90 — SQ8 retrieval (Similarity.sq8TopK): midpoint-decoded SQ8
    * corpus ranked by exact cosine against full-precision queries — the
    * asymmetric compressed-corpus search completing the q89 encode into
    * a retrieval path. Ranks pinned, q20 convention. */
  def q90Sq8TopK(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.sq8TopK(e.filter(col("vec_id") < 5), e, 10)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q91 — proportional stratum interleave (Dataloader.interleaveOrder):
    * deterministic global training order in which every language is
    * consumed evenly — the exact-integer midpoint key
    * ((2·rank−1)·10⁹) div (2·s), no RNG, no global row_number. */
  def q91InterleaveOrder(s: SparkSession, dir: String): DataFrame =
    operators.Dataloader.interleaveOrder(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"))
      .orderBy(col("okey"), col("stratum"), col("rank"))

  /** q92 — length-bucketed batching (Dataloader.lengthBucketBatches):
    * power-of-two token-count buckets (≤2× spread → ≤50% padding bound),
    * md5-ordered cuts every 32 docs, per-batch padding accounting. */
  def q92LengthBatches(s: SparkSession, dir: String): DataFrame =
    operators.Dataloader.lengthBucketBatches(
      t(s, dir, "documents")
        .select(col("doc_id"), TF.tokenCount(col("text")).as("n_tok")),
      col("doc_id"), col("n_tok"), batchSize = 32)
      .orderBy(col("bucket"), col("batch_id"))

  /** q93 — temporal debounce (EventAnalytics.debounce): suppress events
    * of the same (user, type) within 10 minutes of the previous one —
    * the re-fire filter exact dedup can't express. One keyed window. */
  def q93Debounce(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.debounce(
      Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"), col("event_id")),
      col("user_id"), col("event_type"), col("tus"), col("event_id"),
      gapSeconds = 600L)
      .select(col("k").as("user_id"), col("kind").as("event_type"),
        col("tus"), col("id").as("event_id"))
      .orderBy(col("user_id"), col("event_type"), col("tus"), col("event_id"))

  /** q94 — ordered conversion funnel (EventAnalytics.funnel): how many
    * users progress signup → click → purchase, each stage strictly after
    * the previous one's first completion. One keyed shuffle per stage. */
  def q94Funnel(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.funnel(
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus")),
      col("user_id"), col("event_type"), col("tus"),
      Seq("signup", "click", "purchase"))
      .orderBy(col("stage"))

  /** q95 — retention cohorts (EventAnalytics.retention): users bucketed
    * by first-active day, counted per day offset they return — the
    * growth triangle, shuffles bounded by (user, day) cardinality. */
  def q95Retention(s: SparkSession, dir: String): DataFrame =
    operators.EventAnalytics.retention(
      Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("tus")),
      col("user_id"), col("tus"), periodSeconds = 86400L)
      .orderBy(col("cohort"), col("offset"))

  /** q96 — PII redaction (Redaction.scrubWithCounts): ordered
    * dialect-portable regex scrub (email → ssn → card → phone → ip)
    * plus per-rule match counts on the raw text. The fixture text
    * carries no PII, so the query derives a deterministic PII-bearing
    * suffix from doc_id (same derivation in the oracle) — every rule
    * actually fires. Pure scan-fused projection, zero shuffles. */
  def q96PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(coalesce(col("text"), lit("")),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example ph 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" ip 10.2.0."), (col("doc_id") % 250).cast("string"),
      when(col("doc_id") % 3 === 0, lit(" ssn 987-65-4320")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" card 4111 1111 1111 1111"))
        .otherwise(lit("")))
    operators.Redaction.scrubWithCounts(
      t(s, dir, "documents").select(col("doc_id"), raw.as("text")),
      col("text"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("clean_md5"),
        col("n_email"), col("n_ssn"), col("n_card"), col("n_phone"),
        col("n_ip"))
      .orderBy(col("doc_id"))
  }

  /** q97 — winnowing fingerprints (Winnowing.sharedFingerprintPairs):
    * MOSS-style rolling-hash fingerprinting — sliding-window minima over
    * 3-gram hashes, doc pairs sharing >= 2 fingerprints, docfreq-capped
    * inverted index. The contiguous-overlap near-dup family next to
    * MinHash/SimHash/shared-grams. */
  def q97WinnowingPairs(s: SparkSession, dir: String): DataFrame =
    operators.Winnowing.sharedFingerprintPairs(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      k = 3, w = 4, minShared = 2L, maxDf = 100L)
      .orderBy(col("doc_a"), col("doc_b"))

  /** q98 — KMV distinct sketch (Sketch.distinctEstimate): approximate
    * COUNT(DISTINCT user) per event type with k=64 bounded state —
    * deterministic md5-hash sketch, engine-portable integer estimate
    * ((k−1)·2⁶⁰ div h_k), exact short-circuit below k. */
  def q98KmvDistinct(s: SparkSession, dir: String): DataFrame =
    operators.Sketch.distinctEstimate(
      Tables.events(s, dir).select(col("event_type"), col("user_id")),
      col("event_type"), col("user_id"), k = 64)
      .orderBy(col("grp"))

  /** q99 — Z-order layout stats (Layout.zOrderStats): Morton-key
    * clustering of lineitem on (partkey, suppkey), 64 key-range buckets
    * with per-bucket min/max of both dimensions — the multi-dim file
    * layout whose statistics prune scans on either column. */
  def q99ZOrderLayout(s: SparkSession, dir: String): DataFrame =
    operators.Layout.zOrderStats(
      t(s, dir, "lineitem").select(col("l_partkey").cast("long").as("pk"),
        col("l_suppkey").cast("long").as("sk")),
      col("pk"), col("sk"), bits = 16, buckets = 64)
      .orderBy(col("bucket"))

  /** q100 — stream-stream interval self-join (EventStreams
    * .followedWithin): each view paired with the same user's clicks
    * within 10 minutes, computed as a WATERMARKED STREAMING JOIN (both
    * join-state buffers bounded by the watermarks + the time-range
    * condition) and driven through the production-shaped append-mode
    * file-sink harness; the oracle is the batch interval join — inner
    * stream-stream joins emit exactly the batch multiset on a bounded
    * replay (EventStreamsSpec pins the equivalence). */
  def q100StreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    streaming.EventStreams.runToCompletionFileSink(s, s"$dir/events.parquet",
      df => streaming.EventStreams.followedWithin(df, "view", "click",
        withinMinutes = 10))
      .orderBy(col("user_id"), col("first_id"), col("then_id"))

  /** q101's literal merge table — shared by the engine entry and the
    * generated oracle so the two can never drift. Rules chosen to fire
    * on the fixture vocabulary ("table" → "tab le" under the chain). */
  private[graft] val q101Rules: Seq[(String, String)] =
    Seq(("t", "a"), ("ta", "b"), ("s", "c"))

  /** q101 — BPE inference (Bpe.encodeCorpus): the corpus encoded under
    * a FIXED literal merge table — train-once-encode-many, the
    * production counterpart of q84's trainer. Heavy folds on the
    * distinct-word frame only; per-doc checksums pin the result. */
  def q101BpeEncode(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.encodeCorpus(
      t(s, dir, "documents"), col("doc_id"), col("text"), q101Rules)
      .orderBy(col("doc_id"))

  /** q102 — stream-static enrichment (EventStreams
    * .hourlyCategoryCounts): the event stream LEFT-joined to a static
    * category dimension (stateless broadcast probe re-planned per
    * micro-batch) feeding the windowed rollup, driven through the
    * file-sink harness; oracle = the batch join + hourly rollup. */
  def q102StreamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("view", "engagement"), ("click", "engagement"),
      ("signup", "acquisition"), ("purchase", "commerce"), ("error", "ops"))
      .toDF("event_type", "category")
    streaming.EventStreams.runToCompletionFileSink(s, s"$dir/events.parquet",
      df => streaming.EventStreams.hourlyCategoryCounts(df, dim))
      .orderBy(col("hour"), col("category"))
  }

  /** q103 — LEFT OUTER stream-stream interval join (EventStreams
    * .followedWithinOuter): q100 with unmatched-left emission — a view
    * with no click inside the interval emits (user, first_id, NULL)
    * once the watermark passes its join horizon. The harness' sentinel
    * pushes the final watermark past every real row's horizon, so the
    * bounded replay decides ALL rows and the batch LEFT join is the
    * exact oracle (the emission-latency trade, closed). */
  def q103StreamOuterJoin(s: SparkSession, dir: String): DataFrame =
    streaming.EventStreams.runToCompletionFileSink(s, s"$dir/events.parquet",
      df => streaming.EventStreams.followedWithinOuter(df, "view", "click",
        withinMinutes = 10))
      .orderBy(col("user_id"), col("first_id"), col("then_id"))

  /** q104 — continuous rollup materialization (EventStreams
    * .incrementalRollup): foreachBatch folding each micro-batch into a
    * standing parquet rollup via the additive merge + crash-recovering
    * staged swap (replayed batch ids skipped inside the swap). The
    * read-back table must equal the batch rollup — the streaming sink
    * form of the snapshot pipeline's refresh. */
  def q104IncrementalRollup(s: SparkSession, dir: String): DataFrame =
    run("graft_rollup_") { root =>
      val target = root.resolve("t").toString
      streaming.EventStreams.incrementalRollup(s, s"$dir/events.parquet", target)
      s.read.parquet(target).orderBy(col("event_type"))
    }

  /** q105 — fixed-stride frame sampling (MultimodalOps.sampleFrames):
    * the blob-table form of documents sampled every 4th 64-byte frame —
    * byte-range plan + slice checksums, the deterministic plumbing under
    * a stubbed media decoder (the fixture text is pure ASCII, so the
    * oracle's char slices are byte slices). Scan-fused, no shuffle. */
  def q105FrameSample(s: SparkSession, dir: String): DataFrame =
    operators.MultimodalOps.sampleFrames(
      operators.MultimodalOps.asBlobTable(
        t(s, dir, "documents").filter(col("text").isNotNull),
        "doc_id", "text", "text/plain"),
      col("doc_id"), col("payload"), frameBytes = 64, stride = 4)
      .orderBy(col("id"), col("frame_idx"))

  /** q106 — deterministic span corruption (Corruption.spanMask):
    * T5-style denoising prep — 3-token spans every 16 positions with a
    * per-doc hash phase, runs collapsed to one sentinel; counts + the
    * corrupted stream's md5 per document. No RNG anywhere. */
  def q106SpanCorruption(s: SparkSession, dir: String): DataFrame =
    operators.Corruption.spanMask(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      stride = 16, spanLen = 3)
      .orderBy(col("doc_id"))

  /** q107 — integer unigram surprisal (Keywords.unigramSurprisal): the
    * perplexity-proxy quality score in whole bits — bitlen(N) −
    * bitlen(freq) per token, no floats, no libm; vocab-frame heavy
    * work, 1-row total broadcast, one doc rollup. */
  def q107UnigramSurprisal(s: SparkSession, dir: String): DataFrame =
    operators.Keywords.unigramSurprisal(
      t(s, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** q108 — contrastive negatives (Dataloader.modularNegatives): 3
    * deterministic negatives per doc from its language stratum at
    * modular rank offsets — embedding-training pair generation as a
    * pure function of the key set (sharded rank + one equi-join). */
  def q108ModularNegatives(s: SparkSession, dir: String): DataFrame =
    operators.Dataloader.modularNegatives(
      t(s, dir, "documents").select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), k = 3)
      .orderBy(col("stratum"), col("id"), col("j"))

  /** q109 — incremental admission through the MATERIALIZED index
    * (Dedup.nearDupIndex → parquet → Dedup.admitNewDocsWithIndex): the
    * standing 80% corpus's signature index is computed once, written to
    * parquet, reloaded, and a hash-split "new batch" (20% of docs) is
    * near-dup-checked against it — only the new batch is shingled at
    * probe time, the cross-job don't-reclean-the-corpus ingest shape.
    * Survivors dedup among themselves; admitted ids out. Same
    * verified-Jaccard semantics and banding as q48's full rebuild, and
    * identical output to the former all-in-one admitNewDocs form. */
  /** Standing-corpus nearDupIndex parquet per fixture dir, built ONCE
    * per JVM — the production contract verbatim ("computed once per
    * snapshot and persisted"; each ingest only probes it). */
  private def standingIndex(s: SparkSession, dir: String): String =
    Staged.artifact("neardup_index", dir) { ix =>
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      operators.Dedup.nearDupIndex(docs.filter(!newSplit(col("doc_id"))),
          col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 2)
        .write.mode("overwrite").parquet(ix)
    }

  def q109IncrementalAdmit(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    // the PATH overload: probe parameters come from the artifact's
    // embedded p_* columns, not re-supplied — mismatch impossible
    operators.Dedup.admitNewDocsWithIndex(
      docs.filter(newSplit(col("doc_id"))), standingIndex(s, dir),
      col("doc_id"), col("text"), 0.4)
      .orderBy(col("doc_id"))
  }

  /** q110 — overlapping token chunking (Chunking.overlappingChunks):
    * 32-token windows every 24 tokens (8-token overlap) over documents
    * — the RAG/embedding retrieval-prep split, exact integer coverage,
    * scan-fused. */
  def q110OverlappingChunks(s: SparkSession, dir: String): DataFrame =
    operators.Chunking.overlappingChunks(
      t(s, dir, "documents"), col("doc_id"), col("text"),
      width = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** q111 — mergeable KMV rollup (Sketch.shardedDistinctEstimate):
    * per-(event_type, user-shard) sketches merged per event_type with
    * kmvMerge. The oracle computes the DIRECT whole-group sketch (q98's
    * SQL), so the hash match proves the mergeability law — sketch of
    * shards merged ≡ sketch of the union — on real data. */
  def q111KmvMergedShards(s: SparkSession, dir: String): DataFrame =
    operators.Sketch.shardedDistinctEstimate(
      Tables.events(s, dir).select(col("event_type"), col("user_id")),
      col("event_type"), col("user_id"),
      pmod(col("user_id"), lit(8)), k = 64)
      .orderBy(col("grp"))

  /** q113 — 3-DIMENSIONAL Z-order layout (Layout.zOrderStatsN): lineitem
    * clustered on (partkey, suppkey, quantity) at 10 bits each (30-bit
    * Morton key, inside the 63 div 3 = 21-bit/dim budget), 64 key-range
    * buckets — each bucket bounds ALL THREE dimensions (~1/∛buckets of
    * each range), so min/max file stats prune predicates on any of the
    * three columns. Oracle generated from the same unrolled bit loop. */
  def q113ZOrder3d(s: SparkSession, dir: String): DataFrame =
    operators.Layout.zOrderStatsN(
      t(s, dir, "lineitem"),
      Seq("partkey" -> col("l_partkey"), "suppkey" -> col("l_suppkey"),
        "qty" -> col("l_quantity")),
      bits = 10, buckets = 64)
      .orderBy(col("bucket"))

  /** q114 — corpus clean under the WINNOWING pair policy
    * (CorpusPipeline.cleanWith + winnowingPolicy): the same gate →
    * exact dedup → components → sample chain as q48 with candidate
    * generation swapped to shared-fingerprint pairs (contiguous-overlap
    * detection, q97's operator) — the policy seam exercised end to end
    * against a composed oracle. */
  def q114CleanWinnowing(s: SparkSession, dir: String): DataFrame =
    operators.CorpusPipeline.cleanWith(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars")),
      stopwords = TF.DefaultLangMarkers("en"),
      qualityThreshold = 0.5,
      operators.CorpusPipeline.winnowingPolicy(
        k = 3, w = 4, minShared = 2L, maxDf = 100L),
      sampleBounds = Map("en" -> "8000"), defaultBound = "g")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("lang"))

  /** q115 — cross-table MinHash fuzzy join (Dedup.minhashFuzzyJoin):
    * record linkage between two document "sources" (the fixture's
    * source column split by name length — 10 sources a side) by
    * verified n-gram Jaccard, banded candidates only, never a cross
    * product — the entity-resolution shape of the dedup stack. */
  def q115FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    operators.Dedup.minhashFuzzyJoin(
      docs.filter(length(col("source")) === 4),
      docs.filter(length(col("source")) === 5),
      col("doc_id"), col("text"), col("doc_id"), col("text"),
      shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4)
      .orderBy(col("left_id"), col("right_id"))
  }

  /** q116 — STREAMING admission end to end (AdmissionStream
    * .runAdmission): the new 20% of documents land as two mod-time-
    * ordered files (split by doc_id parity), one micro-batch each; batch
    * A admits against the standing corpus's seeded nearDupIndex, batch B
    * against standing ∪ A's admissions (the fold-back invariant). The
    * oracle replays both admission rounds in SQL against the growing
    * index — streaming ≡ the sequential batch ingest loop, hash-checked. */
  /** q116's landing: the new 20% of documents as two mod-time-ordered
    * micro-batch files (split by doc_id parity) — a pure function of the
    * fixture, so staged once ([[Staged.landing]]). */
  private def q116Landing(s: SparkSession, dir: String): Path =
    Staged.landing("q116", dir) {
      val docs = t(s, dir, "documents")
      val isNew = newSplit(col("doc_id"))
      Seq(("a.parquet", docs.filter(isNew && col("doc_id") % 2 === 0), 1000000L),
        ("b.parquet", docs.filter(isNew && col("doc_id") % 2 =!= 0), 2000000L))
    }

  /** The admission family's per-run staging: q116's landing as
    * `landing`, and the standing index as `index/seed` — runAdmission
    * extends its index dir in place but never rewrites the seed FILES,
    * so runs can share the inodes; each run still gets its own index
    * tree to grow. */
  private def stageAdmission(s: SparkSession, dir: String, root: Path): Unit = {
    linkTree(q116Landing(s, dir), root.resolve("landing"))
    linkTree(Paths.get(standingIndex(s, dir)), root.resolve("index").resolve("seed"))
  }

  def q116StreamingAdmission(s: SparkSession, dir: String): DataFrame =
    run("graft_q116_") { root =>
      stageAdmission(s, dir, root)
      // compactEvery = 1: with two micro-batches, batch 1 finds batch-0's
      // subdir standing and folds the tree first — so the DRIVER-verified
      // path exercises the compaction branch (hash must equal the
      // uncompacted run's; the probe reads the same signature rows flat or
      // nested), not just the spec
      streaming.AdmissionStream.runAdmission(s, root.resolve("landing").toString,
          root.resolve("index").toString, root.resolve("out").toString,
          shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
          maxFilesPerTrigger = Some(1), compactEvery = Some(1))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }

  /** q117 — KMV set algebra (Sketch.sketchOverlap): pairwise
    * distinct-user overlap between event types estimated from the
    * sketches alone (union sketch from stored state, integer Jaccard →
    * est_inter) — the audience-overlap query answered without raw data.
    * k=64 as q98; below-k pairs short-circuit to exact counts. */
  def q117SketchOverlap(s: SparkSession, dir: String): DataFrame =
    operators.Sketch.sketchOverlap(
      Tables.events(s, dir).select(col("event_type"), col("user_id")),
      col("event_type"), col("user_id"), k = 64)
      .orderBy(col("grp_a"), col("grp_b"))

  /** q118 — temperature-smoothed data mixture (Sampling
    * .temperatureMixture): per-source char budgets derived from the
    * corpus itself at α = 1/2 (w ∝ √chars — dominant sources
    * downweighted, tail kept closer to whole), applied as the
    * scan-fused integer-ppm hash gate. All-integer threshold
    * arithmetic (floor-sqrt weights, integer normalizer), so the kept
    * set is bit-reproducible in the oracle. */
  def q118TemperatureMix(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.temperatureMixture(
      t(s, dir, "documents"),
      col("doc_id"), col("source"), col("n_chars"), budget = 300000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).cast("long").as("chars"))
      .orderBy(col("source"))

  /** q119 — ANN index-quality eval (Similarity.recallReport): the SRP
    * approximate top-10 (q28's exact configuration) measured against
    * the brute-force ground truth (q20's), per query — (query_id,
    * truth, hits) in integers. The eval harness every approximate
    * retrieval path runs before it is trusted; at scale the ground
    * truth runs over a query SAMPLE, which is exactly the q20 shape
    * (5 probe vectors against the full corpus). */
  def q119AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    operators.Similarity.recallReport(
      operators.Similarity.bruteForceTopK(q, e, 10),
      operators.Similarity.srpTopK(q, e, 10, nBits = 6, dim = 64))
      .orderBy(col("query_id"))
  }

  /** Standing IVF-flat index parquet per fixture dir, built ONCE per
    * JVM — the ANN side of the [[standingIndex]] contract: a production
    * retrieval path builds its index per snapshot and probes it per
    * query batch; rebuilding centroids + assignments per probe is the
    * ANN analog of re-shingling the corpus. Filesystem artifact, not a
    * Spark cache (survives clearCache, as a real index does). */
  private def standingAnnIndex(s: SparkSession, dir: String): String =
    Staged.artifact("ann_index", dir) { ix =>
      operators.Similarity.writeIvfFlatIndex(
        t(s, dir, "embeddings"), nLists = 8, ix)
    }

  /** q120 — ANN index lifecycle (Similarity.writeIvfFlatIndex →
    * ivfFlatProbe): the IVF-flat index is built once, written to parquet
    * partitioned by cell, reloaded, and probed — the scan reads ONLY the
    * probed cells' partitions (literal IN over the partition column).
    * Same deterministic hash-centroid quantizer as q49, and the oracle
    * IS q49's: artifact probe ≡ direct computation, hash-checked. */
  def q120AnnIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.ivfFlatProbe(
      e.filter(col("vec_id") < 5), standingAnnIndex(s, dir), 10, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Standing-then-appended IVF index per fixture (the ANN ingest
    * lifecycle artifact for q121): built over the hash-split 80% of
    * embeddings, then the 20% "new batch" appended under the FROZEN
    * build-time centroids. Once per JVM, like [[standingAnnIndex]]. */
  private def standingAnnAppendIndex(s: SparkSession, dir: String): String =
    Staged.artifact("ann_append", dir) { ix =>
      val e = t(s, dir, "embeddings")
      val isNew = newSplit(col("vec_id"))
      operators.Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 8, ix)
      operators.Similarity.appendToIvfFlatIndex(e.filter(isNew), ix)
    }

  /** q121 — ANN index APPEND lifecycle (writeIvfFlatIndex →
    * appendToIvfFlatIndex → ivfFlatProbe): the standing 80% builds the
    * index and freezes its hash-centroid quantizer; the 20% batch
    * appends under those centroids; the probe then retrieves over
    * standing ∪ appended. The oracle replays the identical split —
    * centroids from the standing subset only, assignments for every
    * vector under them — so the append path is hash-checked end to
    * end (the retrieval analog of q109's incremental admission). */
  def q121AnnIndexAppend(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.ivfFlatProbe(
      e.filter(col("vec_id") < 5), standingAnnAppendIndex(s, dir), 10, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Pristine standing-80% ANN index per fixture (q122's seed): unlike
    * [[standingAnnAppendIndex]] it is never mutated — each q122 run
    * hard-links it into a private root and streams the 20% into THAT
    * copy. Once per JVM. */
  private def standingAnn80Index(s: SparkSession, dir: String): String =
    Staged.artifact("ann80", dir) { ix =>
      val e = t(s, dir, "embeddings")
      operators.Similarity.writeIvfFlatIndex(
        e.filter(!newSplit(col("vec_id"))), nLists = 8, ix)
    }

  /** q122's landing: the new 20% of embeddings as two mod-time-ordered
    * micro-batch files — the q116Landing pattern. */
  private def q122Landing(s: SparkSession, dir: String): Path =
    Staged.landing("q122", dir) {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val isNew = newSplit(col("vec_id"))
      Seq(("a.parquet", e.filter(isNew && col("vec_id") % 2 === 0), 1000000L),
        ("b.parquet", e.filter(isNew && col("vec_id") % 2 =!= 0), 2000000L))
    }

  /** q122 — STREAMING ANN ingest end to end (AnnIngest.runIngest): the
    * new 20% of embeddings land as two mod-time-ordered files, one
    * micro-batch each; each batch is cell-assigned under the standing
    * 80% index's frozen centroids and appended through the exactly-once
    * streaming file sink; the probe then retrieves over standing ∪
    * streamed as one index. Final state ≡ the batch append path, so the
    * oracle IS q121's — streaming ingest hash-checks against the batch
    * ingest loop (the ANN analog of q116 ≡ q109). */
  def q122StreamingAnnIngest(s: SparkSession, dir: String): DataFrame =
    run("graft_q122_") { root =>
      val ix = stageAnnIngest(s, dir, root)
      streaming.AnnIngest.runIngest(s, root.resolve("landing").toString, ix,
        maxFilesPerTrigger = Some(1))
      operators.Similarity.ivfFlatProbe(
          t(s, dir, "embeddings").filter(col("vec_id") < 5), ix,
          10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  /** The ANN ingest family's per-run staging: a private copy of the
    * standing-80% index at `ix` (returned) and q122's landing as
    * `landing`. */
  private def stageAnnIngest(s: SparkSession, dir: String, root: Path): String = {
    val ix = root.resolve("ix")
    linkTree(Paths.get(standingAnn80Index(s, dir)), ix)
    linkTree(q122Landing(s, dir), root.resolve("landing"))
    ix.toString
  }

  /** q123 — dimensionality-reduction recall (Similarity.projectVecs →
    * recallReport): the corpus and queries projected 64→16 dims through
    * the seeded plane matrix (one scan-fused pass of 16 native dots per
    * row), exact retrieval re-run in the REDUCED space, and its
    * per-query recall measured against the full-space ground truth —
    * the Johnson–Lindenstrauss cost/recall trade quantified as an
    * oracle-checked table. At 100 TB this is the first lever pulled
    * before ANN: 4× smaller vectors cut every downstream dot product
    * and candidate payload byte. */
  def q123ReducedAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val planes = VF.randomPlanes(16, 64, 7L)
    val red = operators.Similarity.projectVecs(
      e, col("vec_id"), col("embedding"), planes)
    operators.Similarity.recallReport(
      operators.Similarity.bruteForceTopK(e.filter(col("vec_id") < 5), e, 10),
      operators.Similarity.bruteForceTopK(
        red.filter(col("vec_id") < 5), red, 10))
      .orderBy(col("query_id"))
  }

  /** q112 — the END-TO-END training-data layout chain: corpus clean
    * (q48's full gate→dedup→near-dup→sample composition) feeding BOTH
    * sequence packing (q71's hash-sharded 512-token streams) and the
    * proportional interleave order (q91), joined per surviving doc. This
    * is the integration query that catches cross-operator column-contract
    * drift — each stage consumes the previous stage's real output frame,
    * and the oracle replays the whole chain as one composed CTE. The
    * cleaned frame is persisted: pack and interleave both consume it, and
    * the clean chain (shingle + components) is the expensive pass. */
  def q112CleanPackInterleave(s: SparkSession, dir: String): DataFrame = {
    val cleaned = operators.CorpusPipeline.clean(
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars")),
      stopwords = TF.DefaultLangMarkers("en"),
      qualityThreshold = 0.5, jaccardThreshold = 0.5,
      rowsPerBand = 2,
      sampleBounds = Map("en" -> "8000"), defaultBound = "g")
      .select(col("doc_id"), col("lang"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val packed = operators.Packing.packSequences(
      cleaned.select(col("doc_id"), TF.tokenCount(col("text")).as("n_tok")),
      col("doc_id"), col("n_tok"), budget = 512L, shards = 4)
    val order = operators.Dataloader.interleaveOrder(
      cleaned.select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"))
    // pin the doc-count-sized result eagerly and release the cleaned
    // cache (the q125/q128 release idiom — cached blocks must not
    // outlive the query across repeated invocations)
    val res = order.join(packed.withColumnRenamed("id", "pid"),
        order("id") === col("pid"), "left")
      .select(col("id"), col("stratum"), col("rank"), col("okey"),
        col("n_tokens"), col("shard"), col("seq_id"), col("seq_off"))
      .orderBy(col("okey"), col("stratum"), col("rank"))
      .localCheckpoint(true)
    cleaned.unpersist()
    res
  }

  /** q124 — Count-Min heavy hitters (Sketch.cmsCells/cmsEstimate): the
    * documents token stream folded into a 4×256 CMS cell table (one
    * scan, map-side partial aggregation — ≤ 1024 cells cross the wire
    * whatever the corpus), then the exact top-20 tokens point-queried
    * against the sketch. Output (word, exact_cnt, est_cnt) makes the
    * one-sided error auditable row by row: est ≥ exact always, equality
    * where the item's least-loaded cell has no collisions. At 100 TB
    * the exact top-20 leg is the expensive audit this sketch replaces —
    * frequency monitoring pays depth·width state, not a token shuffle. */
  def q124CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(explode(TF.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = operators.Sketch.cmsCells(toks, col("w"), depth = 4, width = 256)
    val top = toks.groupBy(col("w").as("word"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("word"))
      .limit(20)
    val est = operators.Sketch.cmsEstimate(cells, top, col("word"),
      depth = 4, width = 256)
    // pin the 20-row result eagerly and release the token cache — the
    // cached blocks must not outlive the query (repeated invocations in
    // one application would otherwise accumulate them; the q125/q128
    // release idiom)
    val res = top.join(
        est.withColumnRenamed("item", "word").withColumnRenamed("est", "est_cnt"),
        Seq("word"))
      .orderBy(col("exact_cnt").desc, col("word"))
      .localCheckpoint(true)
    toks.unpersist()
    res
  }

  /** q125 — STREAMING heavy hitters (EventStreams.streamingCmsCells):
    * the event firehose split into 3 landing files → 3 micro-batches,
    * each folded into a per-batch 4×512 CMS and additively merged into
    * the standing parquet sketch (batchId-keyed exactly-once staged
    * swap, as q104). The standing cells after the replay equal the
    * batch sketch of all events — the CMS additivity law end-to-end —
    * and the exact top-10 users point-query against them. Per-batch
    * cost: one batch scan + a ≤2048-row merge; NO per-item state store
    * (a streaming groupBy(user) would hold the user universe in state
    * forever — the sketch holds 2048 cells at any item cardinality). */
  /** q125's 3-file event landing, staged once per fixture per JVM (the
    * q116Landing pattern) — runs hard-link the staged files into private
    * landing dirs instead of paying a Spark write job per invocation.
    * The write's `_SUCCESS`/`.crc` side files are linked too; a file
    * source skips `_`/`.`-prefixed names. */
  private def q125Landing(s: SparkSession, dir: String): String =
    Staged.artifact("q125_stage", dir) { landing =>
      t(s, dir, "events").repartition(3).write
        .parquet(landing)
    }

  def q125StreamingHeavyHitters(s: SparkSession, dir: String): DataFrame =
    run("graft_q125_") { root =>
      val landing = root.resolve("landing")
      linkTree(Paths.get(q125Landing(s, dir)), landing)
      val target = root.resolve("cms").toString
      streaming.EventStreams.streamingCmsCells(s, landing.toString, target,
        col("user_id"), depth = 4, width = 512, maxFilesPerTrigger = Some(1))
      val cells = s.read.parquet(target).select("r", "c", "cnt")
      val top = t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id").cast("string").as("uid"))
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("uid"))
        .limit(10)
      val est = operators.Sketch.cmsEstimate(cells, top, col("uid"),
        depth = 4, width = 512)
      top
        .join(est.withColumnRenamed("item", "uid").withColumnRenamed("est", "est_cnt"),
          Seq("uid"))
        .orderBy(col("exact_cnt").desc, col("uid"))
    }

  /** q126 — Bloom-filter contamination pre-screen (Contamination.
    * bloomBits/bloomNgramOverlap): q53's benchmark-overlap audit with
    * the gram-set broadcast compressed to a 2048-bit Bloom filter —
    * the probe is a zero-join scan-fused k-bit test per gram (the m-bit
    * array rides the plan as one literal), which is what survives when
    * the benchmark suite's gram set itself is too big to broadcast.
    * Output joins the exact and Bloom counts per doc: bloom_matched ≥
    * matched in EVERY row (false positives only add — the one-sided
    * guarantee that makes the pre-filter safe: nothing contaminated
    * escapes a Bloom screen). */
  def q126BloomContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val cand = docs.filter(col("doc_id") % 97 =!= 0)
    val exact = operators.Contamination.ngramOverlap(
        cand, bench, col("doc_id"), col("text"), n = 3, denomFactor = 2)
      .select(col("doc_id"), col("matched"), col("total"))
    val bits = operators.Contamination.bloomBits(bench, col("text"),
      n = 3, m = 2048, k = 3)
    val bloom = operators.Contamination.bloomNgramOverlap(
        cand, bits, col("doc_id"), col("text"), n = 3, k = 3)
      .select(col("doc_id"), col("bloom_matched"))
    exact.join(bloom, Seq("doc_id")).orderBy(col("doc_id"))
  }

  /** q127 — SemDeDup semantic dedup clusters (Dedup.semanticNearDupPairs
    * → connectedComponentsAuto): paraphrase-class duplicates found in
    * EMBEDDING space — cluster under the 64 hash-chosen centroids,
    * compare within cells only (the cross product demoted to per-cell),
    * exact cosine ≥ 0.35, then the pair graph contracted to components
    * (keep-min-id = each cluster's representative is its component
    * label). The blocking, the cosine arithmetic, and the recursive
    * closure all replay in the oracle — the whole approximate pipeline
    * hash-checks. Components route through the bounded fast path
    * (label-identical to the star loop by AdmitCoreComponentsSpec;
    * distributed star fallback past the edge cap — q51 stays on the
    * star loop as the distributed-path demonstrator). */
  def q127SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.semanticNearDupPairs(
      t(s, dir, "embeddings"), nCells = 64, threshold = 0.35)
    Dedup.connectedComponentsAuto(pairs, col("id_a"), col("id_b"))
      .orderBy(col("id"))
  }

  /** q128 — STREAMING SEMANTIC admission (SemanticAdmission.runAdmission):
    * the SemDeDup ingest gate run continuously — the new 20% of
    * embeddings stream in two micro-batches against the standing 80%'s
    * IVF index artifact (q122's fixtures, hard-linked); each batch is
    * cosine-near-dup checked in the frozen centroids' cells, survivors
    * dedup among themselves (star components, min-id), and admitted
    * index rows fold back so batch 2 dedups against batch 1's
    * admissions. The oracle replays both rounds in SQL — cells,
    * cosines, recursive closures, and the growing index — so the
    * streaming loop hash-checks end to end (the embedding-space q116). */
  def q128StreamingSemanticAdmission(s: SparkSession, dir: String): DataFrame =
    run("graft_q128_") { root =>
      val ix = stageAnnIngest(s, dir, root)
      streaming.SemanticAdmission.runAdmission(s, root.resolve("landing").toString,
          ix, root.resolve("out").toString,
          threshold = 0.35, maxFilesPerTrigger = Some(1))
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }

  /** q129 — distributed k-means training (Similarity.lloydTrain): two
    * full Lloyd rounds over the embeddings with centroids as a broadcast
    * FRAME — assignment argmin collapses map-side, means are the exact
    * integer-quantized aggregation, nothing is collected after the
    * bounded seed pick. The oracle chains both rounds as CTEs (seed →
    * assign → quantized means → floor-div centroids with empty-cell
    * fallback → assign → means), so the trainer — the piece that turns
    * the IVF family's hash seeds into data-fitted quantizers at 100 TB
    * — hash-checks end to end. */
  def q129KmeansTrain(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.lloydTrain(
      t(s, dir, "embeddings"), nCells = 8, rounds = 2)
      .orderBy(col("cell"), col("pos"))

  /** q130's stand-in model weights — shared with the generated oracle
    * (the q28-planes discipline: one constant, two renderings). */
  private[graft] val q130Weights: Seq[Long] =
    operators.QualityModel.hashWeights(1024, 7L)

  /** q130 — model-based quality gate (QualityModel.score): the
    * fastText-shaped hashed linear classifier — unigram bag + distinct
    * bigrams hashed into 1024 buckets, one integer-micro weight vector
    * riding the plan as a literal, the score an `aggregate` fold per
    * row. Zero joins, zero shuffles: the model-filter pass costs one
    * corpus scan at any scale, and the integer dot product hash-checks
    * (a float model score could not). */
  def q130ModelQualityGate(s: SparkSession, dir: String): DataFrame =
    operators.QualityModel.score(t(s, dir, "documents"),
      col("doc_id"), col("text"), q130Weights, bias = 0L)
      .orderBy(col("doc_id"))

  /** q131 — banded-dedup recall audit (Dedup.bandedRecallReport): the
    * exact all-pairs ground truth computed on a FIXED-SIZE audit slice
    * against the SAME banding parameters the q43 component pipeline runs
    * at corpus scale — verification makes the banding precision-1, so the
    * one number that needs watching is `missed`. The dedup-side
    * counterpart of q119's ANN recall eval.
    *
    * The slice is [[operators.Sampling.exactNPerStratum]]'s deterministic
    * hash sample of exactly 160 docs (one stratum, md5-rank pick behind
    * the scan-fused hash-prefix gate), NOT a fraction: the ground-truth
    * leg is deliberately quadratic in the slice, so a fractional slice
    * (the previous `doc_id % 3`) grows linearly with the corpus and its
    * truth leg quadratically — 5.76× at 10× data in BENCH_SCALE, the job
    * that never finishes at 100×. A fixed-N slice makes the audit O(1) in
    * corpus growth; the prefilter bound is the deployment knob (tighten
    * toward n/total with margin as the corpus grows, per the
    * exactNPerStratum contract). */
  /** q131's audit-slice knobs, shared with the generated oracle (the
    * one-place rule: editing either side alone cannot desync them).
    * The engine RAISES when the prefilter gate yields fewer than
    * [[Q131AuditN]] survivors (exactNPerStratum's under-provision
    * guard) where the oracle's LIMIT would silently return a shorter
    * sample — tighten the bound toward n/total WITH MARGIN as the
    * corpus grows. Cost note: the lit(1) single stratum funnels every
    * gate survivor (~half the corpus at '8000') through ONE window
    * partition for the md5-rank pick; that is the price of an exact-N
    * deterministic sample, and the prefilter bound is the knob that
    * keeps the funneled set small — tighten it first if this stage ever
    * shows up in a profile. */
  private[graft] val Q131AuditN = 160
  private[graft] val Q131PrefilterBound = "8000"

  def q131DedupRecall(s: SparkSession, dir: String): DataFrame =
    Dedup.bandedRecallReport(
      operators.Sampling.exactNPerStratum(
        t(s, dir, "documents").filter(trim(col("text")) =!= "")
          .select(col("doc_id"), col("text")),
        col("doc_id"), lit(1), n = Q131AuditN,
        prefilterHexBound = Q131PrefilterBound)
        .drop("__rank"),
      col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 1,
      threshold = 0.4, maxBandDf = Some(30L))

  /** q132 — the DATASET CARD (composition): the per-source release
    * summary every corpus ships with — volume (docs, chars, tokens),
    * vocabulary richness (KMV distinct-token estimate, k=64 — bounded
    * state per source however big the stream), and the model-quality
    * aggregate (q130's integer gate summed + kept counts). One
    * documents scan feeds three integer-deterministic aggregate legs;
    * everything joins on the 5-row source dimension, so the card costs
    * three bounded shuffles at any corpus size and the whole artifact
    * hash-checks. */
  /** The card's LAZY plan plus the shared persisted documents frame —
    * split from the entry so PlanPruningSpec can pin the cache-fill
    * scan's requiredSchema (the entry's eager localCheckpoint hides the
    * scans). The projection BEFORE persist matters: caching the full
    * table would fill the cache from a scan of every column, lang and
    * all, when the card consumes exactly four. */
  private[graft] def q132CardPlan(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("docs"),
      sum(col("n_chars")).cast("long").as("chars"),
      sum(TF.tokenCount(col("text"))).cast("long").as("tokens"))
    val vocabEst = operators.Sketch.distinctEstimate(
        docs.select(col("source"), explode(TF.tokens(lower(col("text")))).as("w")),
        col("source"), col("w"), k = 64)
      .select(col("grp").as("source"),
        col("est_distinct").as("est_distinct_tokens"))
    val gate = operators.QualityModel.score(docs, col("doc_id"), col("text"),
        q130Weights)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("score_micros")).as("model_score_micros"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"))
    (docs,
      base.join(vocabEst, Seq("source"), "left")
        .join(gate, Seq("source"), "left")
        .orderBy(col("source")))
  }

  def q132DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val (docs, card) = q132CardPlan(s, dir)
    // pin the source-count-sized card eagerly and release the documents
    // cache (the q125/q128 release idiom)
    val res = card.localCheckpoint(true)
    docs.unpersist()
    res
  }

  /** Standing TRAINED-quantizer IVF index per fixture dir (q133's
    * artifact), built once per JVM — the [[standingAnnIndex]] contract
    * with the quantizer data-fitted instead of hash-seeded:
    * lloydTrain's two distributed Lloyd rounds fit the centroids,
    * collectTrainedCentroids freezes them (one bounded nCells × dim
    * collect), writeIvfFlatIndex materializes the cell-partitioned
    * artifact under them. */
  private def standingTrainedAnnIndex(s: SparkSession, dir: String): String =
    Staged.artifact("ann_trained", dir) { ix =>
      val e = t(s, dir, "embeddings")
      operators.Similarity.writeIvfFlatIndex(e, trainedCentroids(s, dir), ix)
    }

  /** The trained coarse quantizer per fixture dir, fit once per JVM —
    * shared by q133's flat artifact and q137's PQ artifact (the inputs
    * are identical and the trainer deterministic; re-running two
    * 2-round distributed k-means passes per dir bought nothing). */
  private def trainedCentroids(s: SparkSession, dir: String): Seq[Seq[Double]] =
    Staged.memo("trained_centroids", dir)(
      operators.Similarity.collectTrainedCentroids(
        operators.Similarity.lloydTrain(
          t(s, dir, "embeddings"), nCells = 8, rounds = 2)))

  /** q133 — TRAIN → BUILD → PROBE, the composed ANN production
    * lifecycle: q129's distributed k-means fits the quantizer, the
    * trained centroids freeze into a [[operators.Similarity
    * .writeIvfFlatIndex]] artifact (cell-partitioned parquet), and the
    * probe retrieves over it with literal-IN partition pruning — the
    * round trip that turns the trainer's output into the index the
    * retrieval path actually serves. The oracle chains q129's two
    * Lloyd-round CTEs into q49's probe shape under the trained
    * centroids, so train → build → probe hash-checks end to end. */
  def q133TrainedIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.ivfFlatProbe(
      e.filter(col("vec_id") < 5), standingTrainedAnnIndex(s, dir),
      10, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** Standing IVF-PQ index artifact per fixture dir (q134's), built once
    * per JVM — the [[standingAnnIndex]] contract for the COMPRESSED
    * artifact: same hash quantizers as q59, corpus stored as codes +
    * reconstruction norms partitioned by cell. */
  private def standingPqIndex(s: SparkSession, dir: String): String =
    Staged.artifact("ann_pq", dir) { ix =>
      operators.Similarity.writeIvfPqIndex(
        t(s, dir, "embeddings"), nLists = 8, m = 8, codewords = 16, ix)
    }

  /** q134 — IVF-PQ index ARTIFACT lifecycle (Similarity.writeIvfPqIndex
    * → ivfPqProbe): q59's compressed billion-scale retrieval served from
    * a MATERIALIZED artifact — codes + stored reconstruction norms
    * partitioned by cell, centroid and codebook tables alongside; the
    * probe reloads the bounded quantizer tables and ADC-scores only the
    * probed cells' code partitions (literal-IN partition pruning). The
    * artifact probe ≡ the direct computation, so its oracle IS q59's —
    * the compressed counterpart of q120 ≡ q49. */
  def q134AnnPqIndexProbe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.ivfPqProbe(
      e.filter(col("vec_id") < 5), standingPqIndex(s, dir), 10, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q135's 3-file documents landing (the card's four columns only),
    * staged once per fixture per JVM — the q125Landing pattern. */
  private def q135Landing(s: SparkSession, dir: String): String =
    Staged.artifact("q135_stage", dir) { landing =>
      // 24 files / 8 per trigger = the same 3 micro-batches, but each
      // batch's scan splits 8 ways: a small parquet file is one row
      // group = ONE task, and the card partial's tokenize+hash
      // projection is the data-linear cost — on a single file per batch
      // it ran single-core, which is what turned the 10× scale stress
      // super-linear (the card fold itself is sources-sized)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
        .repartition(24).write.parquet(landing)
    }

  /** q135 — STREAMING dataset card (CardStream.runCardStream): q132's
    * release summary maintained INCREMENTALLY — the documents firehose
    * lands as 3 micro-batches, each folds a source-count-sized partial
    * (counters + per-batch KMV token sketch) into the standing card
    * state via the batchId-keyed exactly-once staged swap; the final
    * read derives the vocabulary estimate from the MERGED sketch. Every
    * card leg is additive or mergeable, so streaming ≡ batch bit-exactly
    * — the oracle IS q132's SQL. Per-batch cost: one batch scan plus a
    * sources-sized merge; the card is one micro-batch stale instead of
    * one full-corpus job stale. */
  def q135StreamingDatasetCard(s: SparkSession, dir: String): DataFrame =
    run("graft_q135_") { root =>
      val landing = root.resolve("landing")
      linkTree(Paths.get(q135Landing(s, dir)), landing)
      val target = root.resolve("card").toString
      streaming.CardStream.runCardStream(s, landing.toString, target,
        q130Weights, k = 64, maxFilesPerTrigger = Some(8))
      streaming.CardStream.readCard(s, target, k = 64)
        .orderBy(col("source"))
    }

  /** Standing trained tokenizer artifact per fixture dir (q136's),
    * built once per JVM — the tokenizer version a production corpus
    * ships with, trained once, applied per snapshot. */
  private def standingTokenizer(s: SparkSession, dir: String): String =
    Staged.artifact("bpe_tok", dir) { p =>
      operators.Bpe.writeTokenizer(t(s, dir, "documents"),
        col("doc_id"), col("text"), rounds = 3, p)
    }

  /** q136 — TOKENIZER ARTIFACT lifecycle (Bpe.writeTokenizer →
    * encodeCorpusWith): q84's trainer runs once and its ordered merge
    * table lands as a versioned parquet artifact (rank, l, r, cnt +
    * embedded p_rounds); the corpus is then encoded under the RELOADED
    * table through the native single-expression path — train once,
    * encode every snapshot after, the artifact discipline the near-dup
    * and ANN indexes already follow, applied to the tokenizer. The
    * oracle replays the three training rounds and the re-encode (q84's
    * SQL minus the rules column), so artifact roundtrip + inference
    * hash-check end to end. */
  def q136TokenizerEncode(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.encodeCorpusWith(t(s, dir, "documents"),
      col("doc_id"), col("text"), standingTokenizer(s, dir),
      expectedRounds = Some(3))
      .orderBy(col("doc_id"))

  /** Standing trained-coarse IVF-PQ artifact per fixture (q137's),
    * built once per JVM: lloydTrain fits the coarse quantizer, the PQ
    * codebooks stay the deterministic hash pick — the UNTRAINED books
    * baseline q141's fully-trained stack is measured against (its
    * recall spec compares exactly these two artifacts). */
  private def standingTrainedPqIndex(s: SparkSession, dir: String): String =
    Staged.artifact("ann_tpq", dir) { ix =>
      val e = t(s, dir, "embeddings")
      val books = operators.Similarity.pqCodebooks(e, m = 8, codewords = 16)
      operators.Similarity.writeIvfPqIndex(e, trainedCentroids(s, dir), books, ix)
    }

  /** q137 — the FULLY-TRAINED compressed serving stack (lloydTrain →
    * collectTrainedCentroids → writeIvfPqIndex → ivfPqProbe): q133's
    * trained coarse quantizer composed with q134's PQ artifact — the
    * production shape where training, compression and serving are three
    * separate jobs stitched by artifacts. The oracle swaps the ADC
    * core's coarse CTE from hash seeds to the shared Lloyd-round chain,
    * so the whole train → compress → probe path hash-checks. */
  def q137TrainedPqProbe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.ivfPqProbe(
      e.filter(col("vec_id") < 5), standingTrainedPqIndex(s, dir),
      10, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q138 — ANN index COMPACTION on the driver-verified path
    * (AnnIngest → Similarity.compactIvfFlatIndex → ivfFlatProbe): q122's
    * streaming ingest runs against a private copy of the standing-80%
    * index, the streamed table is then FOLDED into the batch assignments
    * (staged-swap, vec_id-deduped, cell-partitioned rewrite) and the
    * streamed dir dropped, and the probe retrieves over the compacted
    * artifact. Final state ≡ the batch append ≡ the uncompacted
    * streaming state, so the oracle IS q121's — the maintenance step
    * that keeps a firehose-fed index scannable is hash-checked end to
    * end, not just spec'd. */
  def q138CompactedIndexProbe(s: SparkSession, dir: String): DataFrame =
    run("graft_q138_") { root =>
      val ix = stageAnnIngest(s, dir, root)
      streaming.AnnIngest.runIngest(s, root.resolve("landing").toString, ix,
        maxFilesPerTrigger = Some(1))
      operators.Similarity.compactIvfFlatIndex(s, ix)
      operators.Similarity.ivfFlatProbe(
          t(s, dir, "embeddings").filter(col("vec_id") < 5), ix,
          10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  /** Standing FULLY-trained IVF-PQ artifact per fixture (q141's), built
    * once per JVM: lloydTrain fits the coarse quantizer (shared with
    * q133/q137 via [[trainedCentroids]]) AND lloydTrainSubspaces fits
    * the m codebooks — one extra distributed job training all 8
    * subspaces at once — so nothing in the artifact is a hash pick. */
  private def standingFullyTrainedPqIndex(s: SparkSession, dir: String): String =
    Staged.artifact("ann_ftpq", dir) { ix =>
      val e = t(s, dir, "embeddings")
      val books = operators.Similarity.collectTrainedCodebooks(
        operators.Similarity.lloydTrainSubspaces(e, m = 8, codewords = 16,
          rounds = 2))
      operators.Similarity.writeIvfPqIndex(e, trainedCentroids(s, dir), books, ix)
    }

  /** q141 — the fully-trained compressed stack with BOTH quantizers
    * data-fitted (lloydTrain coarse + lloydTrainSubspaces codebooks →
    * writeIvfPqIndex → ivfPqProbe): where q137's codebooks were still
    * the deterministic hash pick, here the per-subspace trainer refines
    * them with the same two distributed quantized Lloyd rounds — the
    * part of IVF-PQ recall that actually comes from training. The
    * oracle chains the shared coarse Lloyd CTEs with the per-subspace
    * training CTEs into the book-table ADC core, so
    * train → train → compress → probe hash-checks end to end; the
    * trained-≥-hash recall claim is spec-measured. */
  def q141FullyTrainedPqProbe(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    operators.Similarity.ivfPqProbe(
      e.filter(col("vec_id") < 5), standingFullyTrainedPqIndex(s, dir),
      10, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), col("rnk"))
  }

  /** q139 — ANN index DELETE lifecycle (Similarity.deleteFromAnnIndex →
    * ivfFlatProbe): the standing index gets a takedown batch (vec_id %
    * 10 = 7) tombstoned TWICE (a replayed delete must be a no-op — the
    * tombstone table is set-semantics at every read), and the probe then
    * retrieves with the deleted rows masked. The oracle is the index
    * rebuilt WITHOUT those rows under the same frozen quantizer
    * (centroids and cell assignments are build-time state — deletion
    * only shrinks the candidate set), so masked-probe ≡
    * rebuilt-without-the-rows is hash-checked; tombstone-masked ≡
    * post-compaction is pinned by AnnIngestSpec. Per-delete cost is
    * O(|deleted|) rows appended — the index data is never touched,
    * which is the whole point at 100 TB. */
  def q139IndexDeleteProbe(s: SparkSession, dir: String): DataFrame =
    run("graft_q139_") { root =>
      val ix = root.resolve("ix").toString
      linkTree(Paths.get(standingAnnIndex(s, dir)), Paths.get(ix))
      val deleted = t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 7).select(col("vec_id"))
        .coalesce(1)
      operators.Similarity.deleteFromAnnIndex(deleted, ix)
      operators.Similarity.deleteFromAnnIndex(deleted, ix) // replay
      operators.Similarity.ivfFlatProbe(
          t(s, dir, "embeddings").filter(col("vec_id") < 5), ix,
          10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  /** q140 — near-dup index DELETE lifecycle (Dedup.deleteFromNearDupIndex
    * → admitNewDocsWithIndex): a fifth of the standing corpus (doc_id %
    * 5 = 2) is tombstoned out of the signature index (replayed twice),
    * and the q109 admission batch then probes the masked tree — a new
    * document whose only near-dup matches were deleted ADMITS, which is
    * the behavioral point of takedown support (the deleted doc no longer
    * blocks its near-duplicates from entering the corpus). The oracle is
    * q109's admission SQL with the deleted docs dropped from the index
    * side — probe-after-delete ≡ rebuilt-without-the-rows, hash-checked;
    * compaction/rebuild folds are pinned by DedupSpec. */
  def q140NearDupDeleteAdmit(s: SparkSession, dir: String): DataFrame =
    run("graft_q140_") { root =>
      val ix = root.resolve("ix").toString
      linkTree(Paths.get(standingIndex(s, dir)), Paths.get(ix))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val isNew = newSplit(col("doc_id"))
      val deleted = docs.filter(!isNew && col("doc_id") % 5 === 2)
        .select(col("doc_id")).coalesce(1)
      operators.Dedup.deleteFromNearDupIndex(deleted, ix)
      operators.Dedup.deleteFromNearDupIndex(deleted, ix) // replay
      operators.Dedup.admitNewDocsWithIndex(
          docs.filter(isNew), ix, col("doc_id"), col("text"), 0.4)
        .orderBy(col("doc_id"))
    }

  /** q142 — the compression stack's recall as a MEASURED, driver-checked
    * table (Similarity.recallReport over the IVF-PQ artifact probes):
    * the exact ground truth (q20's brute-force top-10) scored against
    * BOTH standing compressed artifacts — q134's hash-quantizer index
    * and q137's trained-coarse index — as (variant, query_id, truth,
    * hits). This closes the eval gap the SRP/reduced-dim paths already
    * had (q119/q123): every approximate retrieval family now ships with
    * an oracle-checked recall report, including the compressed one that
    * actually serves at billion scale. The ground truth is computed
    * once and pinned (it feeds both folds). */
  def q142CompressedRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val exact = operators.Similarity.bruteForceTopK(q, e, 10)
      .localCheckpoint(true)
    val rHash = operators.Similarity.recallReport(exact,
        operators.Similarity.ivfPqProbe(q, standingPqIndex(s, dir), 10, nProbe = 2))
      .withColumn("variant", lit("hash"))
    val rTrained = operators.Similarity.recallReport(exact,
        operators.Similarity.ivfPqProbe(q, standingTrainedPqIndex(s, dir), 10,
          nProbe = 2))
      .withColumn("variant", lit("trained"))
    rHash.unionByName(rTrained)
      .select(col("variant"), col("query_id"), col("truth"), col("hits"))
      .orderBy(col("variant"), col("query_id"))
  }

  /** q143 — streaming admission COMPOSED with the streaming dataset
    * card (AdmissionStream.runAdmission + CardStream partials via the
    * onBatchAdmitted observer): each micro-batch's ADMITTED docs — and
    * only those — fold a source-count-sized card partial into the
    * standing card state, batchId-keyed exactly-once, so the card
    * tracks the kept corpus as it grows: the continuous-ingest
    * observability story in one query. The oracle composes q116's
    * two-round admission chain with q132's card CTEs restricted to the
    * admitted ids — streaming admission + streaming card ≡ one batch
    * SQL, hash-checked. */
  def q143AdmittedCard(s: SparkSession, dir: String): DataFrame =
    run("graft_q143_") { root =>
      stageAdmission(s, dir, root)
      val cardPath = root.resolve("card").toString
      // ONE session card fold (CardStream.cardFold): standing card +
      // applied set resolved once, carried across batches in memory
      val cardFold = streaming.CardStream.cardFold(s, cardPath, q130Weights,
        k = 64)
      streaming.AdmissionStream.runAdmission(s, root.resolve("landing").toString,
        root.resolve("index").toString, root.resolve("out").toString,
        shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
        maxFilesPerTrigger = Some(1),
        onBatchAdmitted = Some((admitted, batchId) =>
          cardFold(admitted.select(col("doc_id"), col("source"),
            col("n_chars"), col("text")), batchId)))
      // group-committed state: one flush at session end (scratch-ckpt run)
      cardFold.flush()
      streaming.CardStream.readCard(s, cardPath, k = 64)
        .orderBy(col("source"))
    }

  /** q144 — DSIR importance-resampled data selection (Selection.dsir):
    * target = the English slice of `documents`, raw = the whole corpus;
    * fit the two hashed-n-gram models (two count scans, ≤ 2·1024 cells
    * each), score every raw doc with the log-ratio tables as array
    * literals (one zero-join projection), Gumbel-top-120 under seed 7.
    * The oracle replays the whole chain in SQL — counts, the
    * IEEE-mirrored λ rounding, exact long weight sums, the seeded
    * Gumbel keys — and takes the same deterministic top-k. */
  def q144DsirSelection(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // target = the en slice of the SAME table → one-scan fused fit
    // (Selection.dsirTargetSlice): raw + target counts as conditional
    // sums of one gram explode, bit-identical λ/scores/top-k to the
    // two-fit dsir (spec-pinned), at one tokenize pass less
    operators.Selection.dsirTargetSlice(docs, col("lang") === "en",
      col("doc_id"), col("text"), nBuckets = 1024, k = 120, seed = 7L)
  }

  /** q145 — STREAMING ANN probe (ProbeStream.runProbes): ten query
    * vectors land as two mod-time-ordered files, one micro-batch each;
    * every batch retrieves its top-10 from the standing IVF-flat
    * artifact (partition-pruned, stateless) and lands results under a
    * per-batch directory with idempotent overwrite — the serving loop
    * of the index lifecycle. Probing is per-query independent, so
    * streaming ≡ batch exactly: the oracle is q49's retrieval SQL over
    * the streamed query set. */
  /** q145's landing: ten query vectors as two mod-time-ordered
    * micro-batch files — the q116Landing pattern. */
  private def q145Landing(s: SparkSession, dir: String): Path =
    Staged.landing("q145", dir) {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val isQuery = col("vec_id") >= 5 && col("vec_id") < 15
      Seq(("a.parquet", e.filter(isQuery && col("vec_id") % 2 === 0), 1000000L),
        ("b.parquet", e.filter(isQuery && col("vec_id") % 2 =!= 0), 2000000L))
    }

  def q145StreamingAnnProbe(s: SparkSession, dir: String): DataFrame =
    run("graft_q145_") { root =>
      val landing = root.resolve("landing")
      linkTree(q145Landing(s, dir), landing)
      val out = root.resolve("out").toString
      streaming.ProbeStream.runProbes(s, landing.toString,
        standingAnnIndex(s, dir), out, k = 10, nProbe = 2,
        maxFilesPerTrigger = Some(1))
      s.read.parquet(out)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  /** q146's standing DSIR model artifacts, fitted once per fixture per
    * JVM ([[standingAnnIndex]]'s contract for the selection stack): a
    * production pipeline fits the target/raw n-gram models per
    * snapshot and scores many batches against them — refitting per
    * selection pass is the re-shingle-the-corpus trap. */
  private def standingDsirModels(s: SparkSession, dir: String): (String, String) =
    (Staged.artifact("dsir_target", dir) { tgt =>
      operators.Selection.writeNgramModel(
        t(s, dir, "documents").filter(col("lang") === "en"), col("text"), 1024, tgt)
    }, Staged.artifact("dsir_raw", dir) { raw =>
      operators.Selection.writeNgramModel(t(s, dir, "documents"), col("text"), 1024, raw)
    })

  /** q146 — DSIR selection against STANDING MODEL ARTIFACTS
    * (Selection.writeNgramModel → readNgramModel → dsirWithModels): the
    * fit-once / score-many lifecycle — the two hashed-n-gram models are
    * versioned parquet artifacts with the hash width embedded
    * (`p_nbuckets` fail-fast), and the selection pass reloads two
    * bounded tables instead of re-scanning the corpora. Artifact
    * scoring ≡ direct computation, so the oracle IS q144's (the
    * q120 ≡ q49 discipline for the selection stack). */
  def q146DsirArtifactSelection(s: SparkSession, dir: String): DataFrame = {
    val (tgt, raw) = standingDsirModels(s, dir)
    operators.Selection.dsirWithModels(t(s, dir, "documents"),
      col("doc_id"), col("text"), tgt, raw, k = 120, seed = 7L)
  }

  /** q147 — cluster-balanced diversity sampling: the trained coarse
    * quantizer's cells (q133's lloydTrain centroids, shared per JVM)
    * become sampling strata, and exactNPerStratum draws a fixed quota
    * per cell by deterministic md5 rank — "spread the sample across
    * embedding space", the diversity-selection complement of
    * SemDeDup's near-dup pruning. Scale shape: one scan-fused cell
    * assignment (broadcast centroid literal), one window per cell;
    * quota and cells are deployment knobs. */
  def q147ClusterBalancedSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.exactNPerStratum(
      operators.Similarity.assignCells(
          t(s, dir, "embeddings"), trainedCentroids(s, dir))
        .select(col("cell"), col("vec_id")),
      col("vec_id"), col("cell"), n = 10)
      .select(col("cell"), col("vec_id"), col("__rank").as("rk"))
      .orderBy(col("cell"), col("rk"))

  /** q148 — the GENERATIONAL (commit-by-pointer) near-dup index
    * lifecycle end to end on the hash-checked surface: the standing
    * signature index publishes as `gen-1` under a pointer root
    * (Fs.publishGeneration — the object-store deployment layout, where
    * directory renames are not atomic and every artifact mutation is an
    * immutable new generation + one pointer PUT), a takedown batch
    * tombstones a fifth of the standing corpus INTO the current
    * generation (replayed — set semantics), compaction folds the
    * deletes physically and publishes `gen-2` with the pointer flipped,
    * pruneGenerations reclaims the superseded `gen-1`, and the q109
    * admission batch probes the pointer root. Pointer root ≡ concrete
    * generation at every verb (GenerationsSpec pins the equivalence;
    * THIS entry puts the whole publish→delete→compact→prune→probe chain
    * under the driver's DuckDB hash check). Oracle = q140's: the
    * admission SQL with the deleted docs dropped from the index side. */
  def q148GenerationLifecycle(s: SparkSession, dir: String): DataFrame =
    run("graft_q148_") { root =>
      val ix = root.resolve("ix").toString
      operators.Fs.publishGeneration(ix) { gen =>
        linkTree(Paths.get(standingIndex(s, dir)), Paths.get(gen))
      }
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val isNew = newSplit(col("doc_id"))
      val deleted = docs.filter(!isNew && col("doc_id") % 5 === 2)
        .select(col("doc_id")).coalesce(1)
      operators.Dedup.deleteFromNearDupIndex(deleted, ix)
      operators.Dedup.deleteFromNearDupIndex(deleted, ix) // replayed takedown
      operators.Dedup.compactNearDupIndex(s, ix) // folds deletes → gen-2 + flip
      operators.Fs.pruneGenerations(ix, keep = 0) // reclaims gen-1
      operators.Dedup.admitNewDocsWithIndex(
          docs.filter(isNew), ix, col("doc_id"), col("text"), 0.4)
        .orderBy(col("doc_id"))
    }

  /** q149 — the generational lifecycle for the ANN artifact family
    * (q148's chain on the IVF-flat index): standing index published as
    * `gen-1` under a pointer root, a tombstoned takedown batch
    * (replayed), compactIvfFlatIndex folds the deletes and publishes
    * `gen-2` with centroids carried and the pointer flipped,
    * pruneGenerations reclaims `gen-1`, and the probe retrieves from
    * the pointer root with partition pruning intact. Oracle = q139's:
    * the retrieval SQL with the deleted rows dropped from the
    * candidate set under the same frozen quantizer. */
  def q149AnnGenerationLifecycle(s: SparkSession, dir: String): DataFrame =
    run("graft_q149_") { root =>
      val ix = root.resolve("ix").toString
      operators.Fs.publishGeneration(ix) { gen =>
        linkTree(Paths.get(standingAnnIndex(s, dir)), Paths.get(gen))
      }
      val deleted = t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 7).select(col("vec_id"))
        .coalesce(1)
      operators.Similarity.deleteFromAnnIndex(deleted, ix)
      operators.Similarity.deleteFromAnnIndex(deleted, ix) // replayed takedown
      operators.Similarity.compactIvfFlatIndex(s, ix) // fold → gen-2 + flip
      operators.Fs.pruneGenerations(ix, keep = 0) // reclaims gen-1
      operators.Similarity.ivfFlatProbe(
          t(s, dir, "embeddings").filter(col("vec_id") < 5), ix,
          10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  /** q150 — STREAMING DSIR model maintenance (ModelStream
    * .runModelStream): the raw corpus lands as two mod-time-ordered
    * files, one micro-batch each; every batch's hashed-n-gram counts
    * fold additively into the standing raw-model artifact (bounded at
    * ≤ 2·nBuckets rows however large the corpus — the CMS/card state
    * discipline applied to the selection stack), and the DSIR pass then
    * selects against the STREAMED raw model + the batch-fitted target
    * model. The counts are sums over disjoint batches, so streamed fit
    * ≡ one-pass batch fit EXACTLY — the oracle is q144's (the full
    * chain in SQL), hash-checked. */
  /** q150's landing: the documents corpus as two mod-time-ordered
    * micro-batch files — the q116Landing pattern. */
  private def q150Landing(s: SparkSession, dir: String): Path =
    Staged.landing("q150", dir) {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      Seq(("a.parquet", docs.filter(col("doc_id") % 2 === 0), 1000000L),
        ("b.parquet", docs.filter(col("doc_id") % 2 =!= 0), 2000000L))
    }

  def q150StreamingDsirModel(s: SparkSession, dir: String): DataFrame =
    run("graft_q150_") { root =>
      val landing = root.resolve("landing")
      linkTree(q150Landing(s, dir), landing)
      val rawModel = root.resolve("raw_model").toString
      streaming.ModelStream.runModelStream(s, landing.toString, rawModel,
        nBuckets = 1024, maxFilesPerTrigger = Some(1))
      val (tgt, _) = standingDsirModels(s, dir)
      operators.Selection.dsirWithModels(
          t(s, dir, "documents"), col("doc_id"), col("text"),
          tgt, rawModel, k = 120, seed = 7L)
    }

  /** q151 — the distributed PCA/whitening FIT pass
    * ([[operators.Pca.comomentGramian]]) on the hash-checked surface:
    * one scan over the embeddings corpus folds per-partition d×d long
    * Gramian partials (every per-row product floor-quantized to micros
    * BEFORE accumulation — exact, order-independent integer sums), and
    * the shuffle moves P·d² tiny rows, never vectors. This is the
    * corpus-side half of [[operators.Pca.fit]]; the driver-side
    * eigensolve + scan-fused projection are pinned by PcaSpec (an
    * eigendecomposition is not SQL-expressible, the moment pass is). */
  def q151PcaComoment(s: SparkSession, dir: String): DataFrame =
    operators.Pca.comomentGramian(t(s, dir, "embeddings"), col("embedding"))
      .orderBy(col("i"), col("j"))

  /** q152 — SCOPED near-dup dedup ([[operators.Dedup
    * .scopedMinhashNearDupPairs]]): q23's banded MinHash pipeline with
    * the `source` column folded into the band key, so documents only
    * pair WITHIN their source — the per-domain dedup pass web-scale
    * pipelines run (FineWeb-style), where cross-domain template overlap
    * is boilerplate's job, not dedup's. Same parameters as q23, so the
    * output is exactly q23's pair set minus the cross-source pairs —
    * and the blocking is cheaper, not just filtered: buckets split per
    * scope before the df ceiling applies. */
  def q152ScopedNearDup(s: SparkSession, dir: String): DataFrame =
    operators.Dedup.scopedMinhashNearDupPairs(
      t(s, dir, "documents").filter(trim(col("text")) =!= ""),
      col("doc_id"), col("text"), col("source"), shingleN = 3, k = 8,
      rowsPerBand = 1, threshold = 0.4, maxBandDf = Some(30L))
      .orderBy(col("source"), col("id_a"), col("id_b"))

  /** q153 — artifact lifecycle OBSERVABILITY on the hash-checked
    * surface ([[operators.Maintenance.describeArtifact]]): a pointer
    * root is taken through publish → delete → compact (q148's verbs),
    * and the describe report — layout kind, generation inventory,
    * current-pointer flag, tombstone load per generation — is the query
    * result. The oracle derives the expected inventory from the base
    * tables and the protocol's naming contract (`gen-1` superseded and
    * still carrying its tombstones, `gen-2` current and clean), so the
    * driver's hash check pins both the report AND the lifecycle layout
    * it reads. Metadata-only: the report never scans index payload
    * (GenerationsSpec pins that separately). */
  def q153ArtifactDescribe(s: SparkSession, dir: String): DataFrame =
    run("graft_q153_") { root =>
      val ix = root.resolve("ix").toString
      operators.Fs.publishGeneration(ix) { gen =>
        linkTree(Paths.get(standingIndex(s, dir)), Paths.get(gen))
      }
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val deleted = docs.filter(!newSplit(col("doc_id")) && col("doc_id") % 5 === 2)
        .select(col("doc_id")).coalesce(1)
      operators.Dedup.deleteFromNearDupIndex(deleted, ix)
      operators.Dedup.compactNearDupIndex(s, ix) // folds → gen-2 + flip
      operators.Maintenance.describeArtifact(s, ix)
        .select(col("layout"), col("generation"), col("is_current"),
          col("tombstone_rows"), col("batch_subdirs"))
        .orderBy(col("generation"))
    }

  /** q154 — STREAMING PCA moment maintenance
    * ([[streaming.GramianStream]]): the embeddings corpus lands as two
    * mod-time-ordered files, one micro-batch each; every batch's
    * quantized co-moment cells ([[operators.Pca.momentRows]] — ≤ d²+d+1
    * rows however large the batch) fold additively into the standing
    * state artifact under applied-batch markers, and
    * [[operators.Pca.fitFromArtifact]] can serve a fresh whitening
    * model at any point between batches without rescanning the corpus.
    * The cells are exact integer sums over disjoint batches, so
    * streamed fold ≡ one-pass batch moment computation EXACTLY — the
    * oracle is q151's, hash-checked. */
  /** q154's landing: the embeddings corpus as two mod-time-ordered
    * micro-batch files — the q116Landing pattern. */
  private def q154Landing(s: SparkSession, dir: String): Path =
    Staged.landing("q154", dir) {
      val embs = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Seq(("a.parquet", embs.filter(col("vec_id") % 2 === 0), 1000000L),
        ("b.parquet", embs.filter(col("vec_id") % 2 =!= 0), 2000000L))
    }

  def q154StreamingPcaMoments(s: SparkSession, dir: String): DataFrame =
    run("graft_q154_") { root =>
      val landing = root.resolve("landing")
      linkTree(q154Landing(s, dir), landing)
      val state = root.resolve("moments").toString
      streaming.GramianStream.runGramianStream(s, landing.toString, state,
        maxFilesPerTrigger = Some(1))
      s.read.parquet(state)
        .filter(col("i") >= 0 && col("j") >= 0)
        .select(col("i"), col("j"), col("q").as("g_q"))
        .orderBy(col("i"), col("j"))
    }

  /** q155 — the composed per-domain dedup PIPELINE (q152's scoped
    * pairs → star connected components → q58's keep-best policy): what
    * a FineWeb-style pass actually ships — one surviving representative
    * per within-source duplicate cluster, highest n_chars winning, ties
    * to the lower id. Components never span sources because the pair
    * graph is scoped by construction; the output carries the source so
    * downstream quota sampling (q85's shape) can cap survivors per
    * domain. */
  def q155ScopedDedupSurvivors(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(trim(col("text")) =!= "")
    val pairs = operators.Dedup.scopedMinhashNearDupPairs(docs,
      col("doc_id"), col("text"), col("source"), shingleN = 3, k = 8,
      rowsPerBand = 1, threshold = 0.4, maxBandDf = Some(30L))
    operators.Dedup.bestRepresentative(docs, pairs, col("doc_id"),
        col("n_chars"))
      .join(docs.select(col("doc_id").as("keep_id"), col("source")),
        Seq("keep_id"))
      .select(col("source"), col("comp"), col("keep_id"), col("score"))
      .orderBy(col("comp"))
  }

  /** q156 — the end-to-end corpus SELECTION pass: CorpusPipeline.cleanWith
    * with the SCOPED pair policy (near-dup dedup confined within each
    * source, exact dedup still global — a cross-source byte-identical
    * copy is a dup no matter where it was crawled), then a per-source
    * EXACT quota (Sampling.exactNPerStratum, n=10) capping every domain's
    * contribution to the training mix. This is the selection shape a
    * FineWeb-style pass ships: gate → dedup → domain cap, each stage a
    * verified operator, the composition hash-checked end to end. Unlike
    * q48's hash-bound stratified sample, the quota is exact-N — the mix
    * recipe a tokens-per-domain budget actually specifies. */
  def q156ScopedCorpusSelection(s: SparkSession, dir: String): DataFrame = {
    val scoped: operators.CorpusPipeline.PairPolicy = (df, id, text) =>
      operators.Dedup.scopedMinhashNearDupPairs(df, id, text, col("source"),
        shingleN = 3, k = 8, rowsPerBand = 1, threshold = 0.4,
        maxBandDf = Some(30L)).select(col("id_a"), col("id_b"))
    // lang is NOT selected: this chain never samples by language (empty
    // bounds — the stratified stage's expression never references the
    // stratum), and the chain's persisted exact-dedup frame is a pruning
    // BARRIER (an InMemoryRelation caches every input column), so an
    // unused column here is scanned AND cached through the whole pipeline
    val cleaned = operators.CorpusPipeline.cleanWith(
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")),
      stopwords = TF.DefaultLangMarkers("en"),
      qualityThreshold = 0.5, pairPolicy = scoped)
    operators.Sampling.exactNPerStratum(
        cleaned.select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), n = 10)
      .select(col("source"), col("doc_id"), col("__rank").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** q157 — tombstone-PRESSURE auto-compaction on the driver-verified
    * path: the standing index takes a 20% takedown load (doc_id%5=2 of
    * the standing corpus tombstoned, the delete replayed — idempotence),
    * then the SAME two-batch streaming admission as q116 runs with
    * `compactWhenTombstoneRatio = 0.1`. The session measures the
    * pressure once at start (20% > θ), folds the tombstones physically
    * (Dedup.compactNearDupIndex), and both batches admit against the
    * folded, deleted-free tree. Oracle = q116's sequential admission
    * chain with the deleted fifth excluded from the standing side: the
    * fold must change exactly WHAT the probes see — deleted docs no
    * longer suppress matching batch docs — and nothing else. */
  def q157PressureAdmission(s: SparkSession, dir: String): DataFrame =
    run("graft_q157_") { root =>
      stageAdmission(s, dir, root)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val deleted = docs.filter(!newSplit(col("doc_id")) && col("doc_id") % 5 === 2)
        .select(col("doc_id")).coalesce(1)
      operators.Dedup.deleteFromNearDupIndex(deleted, root.resolve("index").toString)
      operators.Dedup.deleteFromNearDupIndex(deleted, root.resolve("index").toString) // replay
      streaming.AdmissionStream.runAdmission(s, root.resolve("landing").toString,
          root.resolve("index").toString, root.resolve("out").toString,
          shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
          maxFilesPerTrigger = Some(1),
          compactWhenTombstoneRatio = Some(0.1))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }

  /** q158 — tombstone-pressure auto-compaction on the ANN family's
    * driver-verified path (the q157 shape for vectors): the standing
    * 80% IVF-flat artifact takes a 10% takedown load (vec_id%10=7 of
    * the standing vectors tombstoned, delete replayed), then q122's
    * two-batch streaming ingest runs with `compactWhenTombstoneRatio =
    * 0.05`: the session folds the deletes physically at start
    * (Similarity.compactIvfFlatIndex — centroids carried, so cell
    * geometry is untouched), ingests both batches against the folded
    * tree, and the probe serves standing-minus-deleted ∪ ingested.
    * Oracle = q121/q122's probe SQL with the deleted tenth excluded
    * from the candidate side. */
  def q158AnnPressureIngest(s: SparkSession, dir: String): DataFrame =
    run("graft_q158_") { root =>
      val ix = stageAnnIngest(s, dir, root)
      val e = t(s, dir, "embeddings")
      val deleted = e.filter(!newSplit(col("vec_id")) && col("vec_id") % 10 === 7)
        .select(col("vec_id")).coalesce(1)
      operators.Similarity.deleteFromAnnIndex(deleted, ix)
      operators.Similarity.deleteFromAnnIndex(deleted, ix) // replay
      streaming.AnnIngest.runIngest(s, root.resolve("landing").toString, ix,
        maxFilesPerTrigger = Some(1),
        compactWhenTombstoneRatio = Some(0.05))
      operators.Similarity.ivfFlatProbe(
          e.filter(col("vec_id") < 5), ix, 10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  /** q159 — streaming per-domain quota admission (QuotaStream): the
    * q116 two-batch landing replayed through the |sources|-row quota
    * state — every source admits its doc_id-ascending head until the
    * RUNNING count reaches 3, across batches, first-come-first-served.
    * `rk` is each row's position in its source's admitted sequence.
    * Oracle = a single window over the new docs ordered (batch,
    * doc_id): the sequential per-batch admission against folded counts
    * is exactly the global per-source head. */
  def q159StreamingQuotaAdmission(s: SparkSession, dir: String): DataFrame =
    run("graft_q159_") { root =>
      val landing = root.resolve("landing")
      linkTree(q116Landing(s, dir), landing)
      streaming.QuotaStream.runQuotaAdmission(s, landing.toString,
          root.resolve("state").toString, root.resolve("out").toString,
          capPerSource = 3L, maxFilesPerTrigger = Some(1))
        .orderBy(col("source"), col("rk"))
    }

  /** q160 — the composed continuous-ingest pipeline: near-dup ADMISSION
    * (q116's two-batch loop) feeding the per-domain QUOTA fold through
    * the `onBatchAdmitted` observer seam — only deduped rows reach the
    * quota, and each batch's quota fold commits exactly once under the
    * state's applied markers. This is the ingest shape a production
    * corpus runs: dedup against the standing index, then cap what each
    * domain may contribute. Oracle = the q116 admission chain's per-batch
    * admitted sets pushed through one global per-source window ordered
    * (batch, doc_id). */
  def q160DedupQuotaIngest(s: SparkSession, dir: String): DataFrame =
    run("graft_q160_") { root =>
      stageAdmission(s, dir, root)
      val qOut = root.resolve("quota_out").toString
      val quotaFold = streaming.QuotaStream.quotaFold(s,
        root.resolve("quota_state").toString, qOut, 3L)
      streaming.AdmissionStream.runAdmission(s, root.resolve("landing").toString,
        root.resolve("index").toString, root.resolve("out").toString,
        shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
        maxFilesPerTrigger = Some(1),
        onBatchAdmitted = Some(quotaFold))
      // group-committed state: one flush at session end (scratch-ckpt run)
      quotaFold.flush()
      s.read.option("recursiveFileLookup", "true").parquet(qOut)
        .orderBy(col("source"), col("rk"))
    }

  /** q161 — streaming top-N per source with replacement (TopNStream):
    * the reference's TopN snapshot made continuous — each source's
    * standing board keeps its 2 highest-n_chars documents, and every
    * micro-batch may displace standing entries. Replay is idempotent by
    * top-N's merge property; state is board-sized. Oracle = the global
    * per-source top-2 over the new docs (batch order is irrelevant to a
    * leaderboard — exactly the property that distinguishes it from
    * q159's first-come quota). */
  def q161StreamingTopN(s: SparkSession, dir: String): DataFrame =
    run("graft_q161_") { root =>
      val landing = root.resolve("landing")
      linkTree(q116Landing(s, dir), landing)
      streaming.TopNStream.runTopN(s, landing.toString,
          root.resolve("state").toString, n = 2, scoreCol = "n_chars",
          maxFilesPerTrigger = Some(1))
        .orderBy(col("source"), col("doc_id"))
    }

  /** q162 — the dedup → LEADERBOARD composition (q160's shape with the
    * board fold as the observer): q116's near-dup admission feeds
    * TopNStream.boardFold through `onBatchAdmitted`, so only documents
    * that survive dedup compete for each source's top-2 board. The
    * oracle is the global per-source top-2 OVER THE ADMITTED SET — a
    * leaderboard is batch-order-invariant, so unlike q160's quota the
    * two-batch sequencing drops out and only WHICH docs were admitted
    * matters. */
  def q162DedupTopNIngest(s: SparkSession, dir: String): DataFrame =
    run("graft_q162_") { root =>
      stageAdmission(s, dir, root)
      val statePath = root.resolve("board").toString
      val boardFold = streaming.TopNStream.boardFold(s, statePath, 2, "n_chars")
      streaming.AdmissionStream.runAdmission(s, root.resolve("landing").toString,
        root.resolve("index").toString, root.resolve("out").toString,
        shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
        maxFilesPerTrigger = Some(1),
        onBatchAdmitted = Some(boardFold))
      // group-committed state: one flush at session end (scratch-ckpt run)
      boardFold.flush()
      streaming.TopNStream.readBoard(s, statePath)
        .orderBy(col("source"), col("doc_id"))
    }

  /** Standing PCA whitening model per fixture dir, fit ONCE per JVM off
    * a standing MOMENT artifact ([[streaming.GramianStream]]'s state
    * shape — one momentRows pass materialized with its embedded
    * p_scale/p_dim, then [[operators.Pca.fitFromArtifact]]): the
    * production lifecycle where the continuously-maintained co-moment
    * table serves fresh models without a corpus rescan. Cached for two
    * readers: q163's query body AND its generated oracle, which renders
    * THIS basis as SQL literals (the q28-planes discipline — the fit
    * itself is pinned separately: q151/q154 hash-check the moments, and
    * PcaSpec pins the deterministic eigensolve). */
  private def standingPcaModel(s: SparkSession, dir: String): operators.Pca.PcaModel =
    Staged.memo("pca_model", dir) {
      val art = Staged.artifact("pca_art", dir) { art =>
        val e = t(s, dir, "embeddings")
        // ONE moment pass; the artifact = GramianStream's state shape (the
        // co-moment cells plus count/sum/width rows and the embedded
        // parameters), dim read off the width marker
        val cells = operators.Pca.momentRows(e, col("embedding"), 1e6)
          .localCheckpoint(true)
        val dim = cells.filter(col("i") === -2).select(col("j"))
          .head().getInt(0)
        cells.select(col("i"), col("j"), col("q"),
            lit(1e6).as("p_scale"), lit(dim).as("p_dim"))
          .coalesce(1).write.mode("overwrite").parquet(art)
      }
      operators.Pca.fitFromArtifact(s, art, k = 16)
    }

  /** The PCA models fitted in this JVM, by fixture dir — what q163's and
    * q165's generated oracles render. */
  private[graft] def pcaModels: Map[String, operators.Pca.PcaModel] =
    Staged.memoized("pca_model")

  /** q163 — the WHITENED ANN SERVING stack: the standard embedding
    * pipeline fit → whiten → build → probe composed end to end. The
    * standing moment artifact serves a 16-component whitening model
    * ([[operators.Pca.fitFromArtifact]] — d²-bounded eigensolve, no
    * corpus rescan), the corpus projects through the scan-fused whitened
    * basis ([[operators.Pca.whiten]] — k native dots per row, inverse
    * std-devs as multiplied literals), the whitened vectors build an
    * IVF-flat artifact and the probe runs against it; the recall report
    * puts the whitened index's hits next to the UNWHITENED index's on
    * the same full-space ground truth. Oracle: the q123/q49 CTE chains
    * with the whitening matrix rendered as literals from the cached
    * model (the basis itself is hash-pinned via q151's moments and
    * PcaSpec's deterministic eigensolve). */
  def q163WhitenedAnnServe(s: SparkSession, dir: String): DataFrame =
    run("graft_q163_") { root =>
      val e = t(s, dir, "embeddings")
      val model = standingPcaModel(s, dir)
      val white = operators.Pca.whiten(e, col("vec_id"), col("embedding"), model)
        .localCheckpoint(true) // feeds build AND probe AND ground truth
      val ix = root.resolve("ix").toString
      operators.Similarity.writeIvfFlatIndex(white, nLists = 8, ix)
      val whiteProbe = operators.Similarity.ivfFlatProbe(
        white.filter(col("vec_id") < 5), ix, 10, nProbe = 2)
      val rawIx = root.resolve("ix_raw").toString
      operators.Similarity.writeIvfFlatIndex(
        e.select(col("vec_id"), col("embedding")), nLists = 8, rawIx)
      val rawProbe = operators.Similarity.ivfFlatProbe(
        e.filter(col("vec_id") < 5), rawIx, 10, nProbe = 2)
      val gt = operators.Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 5), e, 10).localCheckpoint(true)
      operators.Similarity.recallReport(gt, whiteProbe)
        .withColumn("variant", lit("whitened"))
        .unionByName(operators.Similarity.recallReport(gt, rawProbe)
          .withColumn("variant", lit("raw")))
        .select(col("variant"), col("query_id"), col("truth"), col("hits"))
        .orderBy(col("variant"), col("query_id"))
    }

  /** q164 — benchmark DECONTAMINATION composed into the complete
    * selection pass: q156's gate → exact dedup → scoped near-dup →
    * per-source quota chain, with the contamination screen every
    * production corpus runs before selection. The held-out benchmark
    * slice (the q53/q126 fixture convention, doc_id % 97 = 0) builds the
    * 2048-bit Bloom pre-screen ([[operators.Contamination.bloomBits]] —
    * the bits ride the plan as one literal; at 100 TB that replaces a
    * multi-GB benchmark-gram broadcast for the no-hit majority), only
    * Bloom SUSPECTS pay the exact trigram confirm (sound: the filter
    * has no false negatives, so zero-hit docs are exactly-clean), and
    * confirmed-contaminated documents are dropped before near-dup.
    * The whole chain is [[operators.CorpusPipeline
    * .cleanDecontaminatedScoped]] — screen, confirm and banding share
    * ONE staged shingle frame, and the screen runs after gate + exact
    * dedup (it is a pure function of text, so it commutes past both;
    * the operator's scaladoc carries the proof, this query's unchanged
    * hash the evidence — r19 ran the screen first on the raw corpus,
    * paying a second full tokenize pass). Benchmark rows themselves are
    * eval data, not training input, and stay out of the selection.
    * Oracle: q156's CTE chain over the decontaminated candidate set,
    * the screen replayed exactly (q53's arithmetic). */
  def q164DecontaminatedSelection(s: SparkSession, dir: String): DataFrame = {
    // lang is NOT selected — see q156: the chain never samples by
    // language and the persisted exact-dedup frame is a pruning barrier
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val isBench = col("doc_id") % 97 === 0
    val nonEmpty = trim(coalesce(col("text"), lit(""))) =!= ""
    val bench = docs.filter(isBench && nonEmpty)
    val cand = docs.filter(!isBench)
    val cleaned = operators.CorpusPipeline.cleanDecontaminatedScoped(
      cand, bench, stopwords = TF.DefaultLangMarkers("en"),
      qualityThreshold = 0.5, scope = col("source"), shingleN = 3,
      minhashK = 8, rowsPerBand = 1, jaccardThreshold = 0.4,
      maxBandDf = Some(30L), bloomM = 2048, bloomK = 3, denomFactor = 2)
    operators.Sampling.exactNPerStratum(
        cleaned.select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), n = 10)
      .select(col("source"), col("doc_id"), col("__rank").as("rk"))
      .orderBy(col("source"), col("rk"))
  }

  /** q166 — the COMPLETE production continuous-ingest pipeline: q160's
    * dedup → quota composition with the DECONTAMINATION screen between
    * them (q164's batch screen made per-micro-batch): each batch's
    * near-dup-admitted rows pass the Bloom pre-screen (one 2048-bit plan
    * literal, scan-fused bit tests) and only Bloom suspects pay the
    * exact trigram confirm against the broadcast benchmark grams —
    * confirmed-contaminated documents never reach the per-source quota.
    * The screen is a per-row predicate, so batching drops out of the
    * oracle: q160's admission chain minus the q164-style contaminated
    * set, through one global per-source window ordered (batch, doc_id).
    * Note the benchmark slice (doc_id % 97 = 0) cuts across the landing
    * docs too — an arriving benchmark document self-matches and is
    * dropped, exactly what a production screen does. */
  def q166DecontaminatedQuotaIngest(s: SparkSession, dir: String): DataFrame =
    run("graft_q166_") { root =>
      stageAdmission(s, dir, root)
      val docs = t(s, dir, "documents")
      val nonEmpty = trim(coalesce(col("text"), lit(""))) =!= ""
      val bench = docs.filter(col("doc_id") % 97 === 0 && nonEmpty)
      val bits = operators.Contamination.bloomBits(bench, col("text"),
        n = 3, m = 2048, k = 3)
      // the exact-confirm side is a pure function of the benchmark suite:
      // resolve the distinct gram set ONCE per session and pin it — the
      // per-batch screen below otherwise re-scans and re-shuffles the
      // benchmark every micro-batch (the session-prologue discipline)
      val benchGrams = operators.Contamination.benchmarkGrams(
        bench, col("text"), n = 3).localCheckpoint(true)
      val qOut = root.resolve("quota_out").toString
      val quota = streaming.QuotaStream.quotaFold(s,
        root.resolve("quota_state").toString, qOut, 3L)
      streaming.AdmissionStream.runAdmission(s, root.resolve("landing").toString,
        root.resolve("index").toString, root.resolve("out").toString,
        shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
        maxFilesPerTrigger = Some(1),
        onBatchAdmitted = Some { (adm, batchId) =>
          // no pin here: every use below folds into the quota fold's ONE
          // collect action, and adm is a landing-file scan semi-joined to
          // the loop's already-pinned admitted ids — re-evaluating that
          // subtree inside one job is cheaper than a per-batch checkpoint
          // job of its own (the composed-ingest fixed-cost lesson)
          val probed = adm.filter(nonEmpty)
          val suspects = operators.Contamination.bloomNgramOverlap(
              probed, bits, col("doc_id"), col("text"), n = 3, k = 3)
            .filter(col("bloom_matched") > 0).select(col("doc_id"))
          val bad = operators.Contamination.ngramOverlapGrams(
              probed.join(suspects, Seq("doc_id"), "left_semi"),
              benchGrams, col("doc_id"), col("text"), n = 3, denomFactor = 2)
            .filter(col("contaminated")).select(col("doc_id"))
          quota(adm.join(bad, Seq("doc_id"), "left_anti"), batchId)
        })
      // group-committed state: one flush at session end (scratch-ckpt run)
      quota.flush()
      s.read.option("recursiveFileLookup", "true").parquet(qOut)
        .orderBy(col("source"), col("rk"))
    }

  /** q165 — the WHITENED CONTINUOUS-INGEST serving loop: q163's
    * fit → whiten → build → probe pipeline with the ingest leg streaming.
    * The standing 80% (q121's md5 split) is whitened under the standing
    * PCA model and builds the frozen-quantizer index; the NEW 20% lands
    * raw as two micro-batches and each batch whitens IN the ingest loop
    * through [[streaming.AnnIngest.runIngest]]'s stateless `transform`
    * seam (the same frozen model — a pure scan-fused projection, so the
    * zero-state file-sink loop shape is unchanged); the probe then runs
    * whitened queries over standing ∪ ingested. Oracle: q121's frozen-
    * quantizer CTE chain over the whitened projection (basis literals
    * rendered at dump time, the q163 discipline). */
  def q165WhitenedStreamIngest(s: SparkSession, dir: String): DataFrame =
    run("graft_q165_") { root =>
      val e = t(s, dir, "embeddings")
      val model = standingPcaModel(s, dir)
      val white = operators.Pca.whiten(e, col("vec_id"), col("embedding"), model)
        .localCheckpoint(true) // standing build + query side
      val ix = root.resolve("ix").toString
      operators.Similarity.writeIvfFlatIndex(
        white.filter(!newSplit(col("vec_id"))), nLists = 8, ix)
      val landing = root.resolve("landing")
      linkTree(q122Landing(s, dir), landing)
      streaming.AnnIngest.runIngest(s, landing.toString, ix,
        maxFilesPerTrigger = Some(1),
        transform = Some(batch =>
          operators.Pca.whiten(batch, col("vec_id"), col("embedding"), model)))
      operators.Similarity.ivfFlatProbe(
          white.filter(col("vec_id") < 5), ix, 10, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_top_deck_types" -> (q01TopDeckTypes _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_customer_summary" -> (q03CustomerSummary _),
    "q04_semi_topn" -> (q04SemiTopN _),
    "q05_matchup_matrix" -> (q05MatchupMatrix _),
    "q06_top_orders_per_customer" -> (q06TopOrdersPerCustomer _),
    "q07_dedup_exact" -> (q07DedupExact _),
    "q08_word_frequencies" -> (q08WordFrequencies _),
    "q09_archetype_cascade" -> (q09ArchetypeCascade _),
    "q10_tag_normalize" -> (q10TagNormalize _),
    "q11_top_parts" -> (q11TopParts _),
    "q12_scalar_totals" -> (q12ScalarTotals _),
    "q13_having_leaderboard" -> (q13HavingLeaderboard _),
    "q14_distinct_labels" -> (q14DistinctLabels _),
    "q15_signature_hash" -> (q15SignatureHash _),
    "q16_anti_orphans" -> (q16AntiOrphans _),
    "q17_token_stats" -> (q17TokenStats _),
    "q18_doc_quality" -> (q18DocQuality _),
    "q19_minhash_fingerprint" -> (q19MinhashFingerprint _),
    "q20_knn_bruteforce" -> (q20KnnBruteForce _),
    "q21_event_windows" -> (q21EventWindows _),
    "q22_event_dedup_count" -> (q22EventDedupCount _),
    "q23_neardup_minhash" -> (q23NearDupMinhash _),
    "q24_neardup_simhash" -> (q24NearDupSimhash _),
    "q25_neardup_embedding" -> (q25NearDupEmbedding _),
    "q26_language_id" -> (q26LanguageId _),
    "q27_quality_score" -> (q27QualityScore _),
    "q28_ann_srp" -> (q28AnnSrp _),
    "q29_streaming_windows" -> (q29StreamingWindows _),
    "q30_multimodal_features" -> (q30MultimodalFeatures _),
    "q31_sessionization" -> (q31Sessionization _),
    "q32_rollup_totals" -> (q32RollupTotals _),
    "q33_ann_ivf" -> (q33AnnIvf _),
    "q34_json_extract" -> (q34JsonExtract _),
    "q35_rank_ties" -> (q35RankTies _),
    "q36_cube_totals" -> (q36CubeTotals _),
    "q37_ngram_jaccard" -> (q37NgramJaccard _),
    "q38_session_window" -> (q38SessionWindow _),
    "q39_asof_orders" -> (q39AsOfOrders _),
    "q40_quantiles" -> (q40Quantiles _),
    "q41_sample_split" -> (q41SampleSplit _),
    "q42_pivot_status" -> (q42PivotStatus _),
    "q43_dedup_components" -> (q43DedupComponents _),
    "q44_stratified_sample" -> (q44StratifiedSample _),
    "q45_interval_join" -> (q45IntervalJoin _),
    "q46_nation_revenue" -> (q46NationRevenue _),
    "q47_below_avg_quantity" -> (q47BelowAvgQuantity _),
    "q48_corpus_clean" -> (q48CorpusClean _),
    "q49_ann_ivf_flat" -> (q49AnnIvfFlat _),
    "q50_disjunctive_filter" -> (q50DisjunctiveFilter _),
    "q51_dedup_components_star" -> (q51DedupComponentsStar _),
    "q52_repetition" -> (q52Repetition _),
    "q53_contamination" -> (q53Contamination _),
    "q54_tfidf_keywords" -> (q54TfIdfKeywords _),
    "q55_dup_ngrams" -> (q55DupNgrams _),
    "q56_label_centroids" -> (q56LabelCentroids _),
    "q57_ann_pq" -> (q57AnnPq _),
    "q58_keep_best" -> (q58KeepBest _),
    "q59_ann_ivf_pq" -> (q59AnnIvfPq _),
    "q60_profile" -> (q60Profile _),
    "q61_snapshot_diff" -> (q61SnapshotDiff _),
    "q62_semantic_enrich" -> (q62SemanticEnrich _),
    "q63_rolling_window" -> (q63RollingWindow _),
    "q64_set_ops" -> (q64SetOps _),
    "q65_exists_sql" -> (q65ExistsSql _),
    "q66_not_in_nulls" -> (q66NotInNulls _),
    "q67_calendar" -> (q67Calendar _),
    "q68_mixture_sample" -> (q68MixtureSample _),
    "q69_first_last" -> (q69FirstLast _),
    "q70_dup_ngrams_ceiling" -> (q70DupNgramsCeiling _),
    "q71_sequence_pack" -> (q71SequencePack _),
    "q72_ann_ivf_pq_refined" -> (q72AnnIvfPqRefined _),
    "q73_bm25_search" -> (q73Bm25Search _),
    "q74_streaming_file_sink" -> (q74StreamingFileSink _),
    "q75_hybrid_rrf" -> (q75HybridRrf _),
    "q76_top_fraction" -> (q76TopFraction _),
    "q77_boilerplate_strip" -> (q77BoilerplateStrip _),
    "q78_vocab_encode" -> (q78VocabEncode _),
    "q79_group_outliers" -> (q79GroupOutliers _),
    "q80_scd_history" -> (q80ScdHistory _),
    "q81_span_removal" -> (q81SpanRemoval _),
    "q82_packed_slices" -> (q82PackedSlices _),
    "q83_bpe_merge" -> (q83BpeMerge _),
    "q84_bpe_train" -> (q84BpeTrain _),
    "q85_exact_quota" -> (q85ExactQuota _),
    "q86_streaming_dedup" -> (q86StreamingDedup _),
    "q87_dataset_checksum" -> (q87DatasetChecksum _),
    "q88_split_leakage" -> (q88SplitLeakage _),
    "q89_sq8_encode" -> (q89Sq8Encode _),
    "q90_sq8_topk" -> (q90Sq8TopK _),
    "q91_interleave_order" -> (q91InterleaveOrder _),
    "q92_length_batches" -> (q92LengthBatches _),
    "q93_debounce" -> (q93Debounce _),
    "q94_funnel" -> (q94Funnel _),
    "q95_retention" -> (q95Retention _),
    "q96_pii_redaction" -> (q96PiiRedaction _),
    "q97_winnowing_pairs" -> (q97WinnowingPairs _),
    "q98_kmv_distinct" -> (q98KmvDistinct _),
    "q99_zorder_layout" -> (q99ZOrderLayout _),
    "q100_stream_stream_join" -> (q100StreamStreamJoin _),
    "q101_bpe_encode" -> (q101BpeEncode _),
    "q102_stream_static_enrich" -> (q102StreamStaticEnrich _),
    "q103_stream_outer_join" -> (q103StreamOuterJoin _),
    "q104_incremental_rollup" -> (q104IncrementalRollup _),
    "q105_frame_sample" -> (q105FrameSample _),
    "q106_span_corruption" -> (q106SpanCorruption _),
    "q107_unigram_surprisal" -> (q107UnigramSurprisal _),
    "q108_modular_negatives" -> (q108ModularNegatives _),
    "q109_incremental_admit" -> (q109IncrementalAdmit _),
    "q110_overlapping_chunks" -> (q110OverlappingChunks _),
    "q111_kmv_merged_shards" -> (q111KmvMergedShards _),
    "q112_clean_pack_interleave" -> (q112CleanPackInterleave _),
    "q113_zorder_3d" -> (q113ZOrder3d _),
    "q114_clean_winnowing" -> (q114CleanWinnowing _),
    "q115_fuzzy_join" -> (q115FuzzyJoin _),
    "q116_streaming_admission" -> (q116StreamingAdmission _),
    "q117_sketch_overlap" -> (q117SketchOverlap _),
    "q118_temperature_mix" -> (q118TemperatureMix _),
    "q119_ann_recall" -> (q119AnnRecall _),
    "q120_ann_index_probe" -> (q120AnnIndexProbe _),
    "q121_ann_index_append" -> (q121AnnIndexAppend _),
    "q122_streaming_ann_ingest" -> (q122StreamingAnnIngest _),
    "q123_reduced_ann_recall" -> (q123ReducedAnnRecall _),
    "q124_cms_heavy_hitters" -> (q124CmsHeavyHitters _),
    "q125_streaming_heavy_hitters" -> (q125StreamingHeavyHitters _),
    "q126_bloom_contamination" -> (q126BloomContamination _),
    "q127_semantic_dedup" -> (q127SemanticDedup _),
    "q128_streaming_semantic_admission" -> (q128StreamingSemanticAdmission _),
    "q129_kmeans_train" -> (q129KmeansTrain _),
    "q130_model_quality_gate" -> (q130ModelQualityGate _),
    "q131_dedup_recall" -> (q131DedupRecall _),
    "q132_dataset_card" -> (q132DatasetCard _),
    "q133_trained_index_probe" -> (q133TrainedIndexProbe _),
    "q134_pq_index_probe" -> (q134AnnPqIndexProbe _),
    "q135_streaming_dataset_card" -> (q135StreamingDatasetCard _),
    "q136_tokenizer_encode" -> (q136TokenizerEncode _),
    "q137_trained_pq_probe" -> (q137TrainedPqProbe _),
    "q138_compacted_index_probe" -> (q138CompactedIndexProbe _),
    "q139_index_delete_probe" -> (q139IndexDeleteProbe _),
    "q140_neardup_delete_admit" -> (q140NearDupDeleteAdmit _),
    "q141_fully_trained_pq_probe" -> (q141FullyTrainedPqProbe _),
    "q142_compressed_recall" -> (q142CompressedRecall _),
    "q143_admitted_card" -> (q143AdmittedCard _),
    "q144_dsir_selection" -> (q144DsirSelection _),
    "q145_streaming_ann_probe" -> (q145StreamingAnnProbe _),
    "q146_dsir_artifact_selection" -> (q146DsirArtifactSelection _),
    "q147_cluster_balanced_sample" -> (q147ClusterBalancedSample _),
    "q148_generation_lifecycle" -> (q148GenerationLifecycle _),
    "q149_ann_generation_lifecycle" -> (q149AnnGenerationLifecycle _),
    "q150_streaming_dsir_model" -> (q150StreamingDsirModel _),
    "q151_pca_comoment" -> (q151PcaComoment _),
    "q152_scoped_neardup" -> (q152ScopedNearDup _),
    "q153_artifact_describe" -> (q153ArtifactDescribe _),
    "q154_streaming_pca_moments" -> (q154StreamingPcaMoments _),
    "q155_scoped_dedup_survivors" -> (q155ScopedDedupSurvivors _),
    "q156_scoped_corpus_selection" -> (q156ScopedCorpusSelection _),
    "q157_pressure_admission" -> (q157PressureAdmission _),
    "q158_ann_pressure_ingest" -> (q158AnnPressureIngest _),
    "q159_streaming_quota" -> (q159StreamingQuotaAdmission _),
    "q160_dedup_quota_ingest" -> (q160DedupQuotaIngest _),
    "q161_streaming_topn" -> (q161StreamingTopN _),
    "q162_dedup_topn_ingest" -> (q162DedupTopNIngest _),
    "q163_whitened_ann_serve" -> (q163WhitenedAnnServe _),
    "q164_decontaminated_selection" -> (q164DecontaminatedSelection _),
    "q165_whitened_stream_ingest" -> (q165WhitenedStreamIngest _),
    "q166_decontaminated_quota_ingest" -> (q166DecontaminatedQuotaIngest _)
  )

  /** DuckDB oracle SQL (driver contract: one entry per `queries` key)
    * lives in [[Oracles]] — kept out of this file so the engine entries
    * stay readable; generated oracles read the SAME constants as the
    * engine queries (Bm25Queries, q101Rules, Redaction.piiRules), so
    * the two sides cannot drift. */
  def oracleSql: Map[String, String] = Oracles.sql
}
