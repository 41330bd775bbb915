package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.operators.{BattleOps, Classifier, SnapshotPipeline}
import graft.sources.{CardMetadata, Tables}
import Main.timed

/** The snapshot refresh as the benchmark drives it: battle-log JSON →
  * `SnapshotPipeline.build` → `Snapshot.write` → the six invariants that
  * `graft.SnapshotRunner` gates a refresh on. Plus the checks the
  * benchmark adds on top, and the traced run's per-layer spans. */
object Refresh {
  val TopN = 1000

  /** The eleven warehouse tables, in a fixed order. */
  val Tables11: Seq[String] = Seq("player", "cards", "decks", "deck_cards",
    "player_decks", "deck_types", "meta_deck_types", "meta_type_deck_ids",
    "meta_type_cards", "player_type_cards", "meta_type_matchups")

  private def leaderboard(spark: SparkSession, in: BattleGen.Inputs): DataFrame =
    spark.read.schema(Tables.leaderboardSchema).json(in.leaderboard)

  /** One full refresh. Returns the built snapshot (its side cache is
    * still filled) and the names of the invariants that failed. */
  def run(spark: SparkSession, in: BattleGen.Inputs, out: String)
      : (SnapshotPipeline.Snapshot, Seq[String]) = {
    val battles = Tables.readBattlesJson(spark, in.battles)
    val meta = CardMetadata.load(spark, in.cards)
    val snap = SnapshotPipeline.build(spark, battles, leaderboard(spark, in), meta, TopN)
    snap.write(out)
    (snap, invariants(spark, out))
  }

  def written(spark: SparkSession, out: String): Map[String, DataFrame] =
    Tables11.map(n => n -> spark.read.parquet(s"$out/$n")).toMap

  /** The six post-load invariants of `graft.SnapshotRunner` (reference
    * validate_snapshot.py), over the written tables. */
  def invariants(spark: SparkSession, out: String): Seq[String] = {
    val w = written(spark, out)
    def total(df: DataFrame, c: String): Long =
      df.agg(coalesce(sum(c), lit(0L))).head().getLong(0)
    val stats = Seq("player_decks", "meta_deck_types", "meta_type_deck_ids",
      "meta_type_cards", "player_type_cards", "meta_type_matchups")
    val checks = Seq[(String, () => Boolean)](
      "deck_cards: every deck has exactly 8 rows" -> (() =>
        w("deck_cards").groupBy("deck_hash").count().filter(col("count") =!= 8).isEmpty),
      "0 <= wins <= uses in all stats tables" -> (() => stats.forall(t =>
        w(t).filter(col("wins") < 0 || col("uses") < 0 || col("wins") > col("uses")).isEmpty)),
      "meta_deck_types non-empty" -> (() => w("meta_deck_types").limit(1).count() == 1),
      "player count <= topN" -> (() => w("player").count() <= TopN),
      "topn_obs <= meta_obs <= 2*topn_obs" -> (() => {
        val topnObs = total(w("player_decks"), "uses")
        val metaObs = total(w("meta_deck_types"), "uses")
        topnObs <= metaObs && metaObs <= 2 * topnObs
      }),
      "unknown-archetype ratio <= 0.30" -> (() => {
        val m = w("meta_deck_types")
        val all = total(m, "uses")
        val unknown = total(m.filter(lower(col("deck_type")) === "unknown"), "uses")
        all == 0L || unknown.toDouble / all <= 0.30
      }))
    checks.collect { case (name, ok) if !ok() => name }
  }

  /** Order-insensitive fingerprint of each written table: row count and
    * the exact sum of per-row 64-bit hashes. */
  def tableHashes(spark: SparkSession, out: String): Map[String, String] =
    written(spark, out).map { case (n, df) =>
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
        .head()
      n -> s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
    }

  /** Σ meta_deck_types.uses = 2 × the generator's kept matches. */
  def usesMatch(spark: SparkSession, out: String, truth: BattleGen.Truth): Boolean =
    spark.read.parquet(s"$out/meta_deck_types").agg(coalesce(sum("uses"), lit(0L)))
      .head().getLong(0) == 2L * truth.matches

  /** Compares every label-free projection of the written snapshot with
    * the generator's ground truth, on the driver: the tables are read
    * with plain scans and compared as maps. Returns the mismatches. */
  def oracle(spark: SparkSession, out: String, truth: BattleGen.Truth): Seq[String] = {
    val w = written(spark, out)
    def rows(t: String, cols: String*) = w(t).select(cols.map(col): _*).collect().toSeq
    // deck identity the generator can compute: the sorted "id:variant" list
    val keyOf = rows("deck_cards", "deck_hash", "card_id", "card_variant")
      .groupBy(_.getString(0))
      .map { case (h, rs) => h -> rs.map(r => s"${r.getLong(1)}:${r.getString(2)}").sorted.mkString(",") }
    def sums[K](rs: Seq[org.apache.spark.sql.Row], key: org.apache.spark.sql.Row => K,
        u: Int, v: Int): Map[K, (Long, Long)] =
      rs.groupMapReduce(key)(r => (r.getLong(u), r.getLong(v))) { case ((a, b), (c, d)) => (a + c, b + d) }
    def total(t: String, c: String): Long = rows(t, c).map(_.getLong(0)).sum
    val decks = rows("decks", "deck_hash").map(_.getString(0))
    val checks = Seq[(String, () => Boolean)](
      "player rows = leaderboard" -> (() => w("player").count() == math.min(TopN, truth.players)),
      "decks = distinct kept decks" -> (() =>
        decks.size == truth.deckUses.size && decks.distinct.size == decks.size),
      "per-deck uses/wins" -> (() => sums(rows("meta_type_deck_ids", "deck_hash", "uses", "wins"),
        r => keyOf.getOrElse(r.getString(0), "?"), 1, 2) == truth.deckUses),
      "player_decks" -> (() => sums(rows("player_decks", "player_tag", "deck_hash", "uses", "wins"),
        r => (r.getString(0), keyOf.getOrElse(r.getString(1), "?")), 2, 3) == truth.playerDeckUses),
      "per-card uses/wins" -> (() => sums(rows("meta_type_cards", "card_id", "card_variant", "uses", "wins"),
        r => (r.getLong(0), r.getString(1)), 2, 3) == truth.cardUses),
      "cards dim" -> (() =>
        rows("cards", "card_id", "card_name").map(r => r.getLong(0) -> r.getString(1)).toMap == truth.cardNames),
      "matchups total" -> (() =>
        total("meta_type_matchups", "uses") == 2L * truth.matches &&
          total("meta_type_matchups", "wins") == truth.decisiveMatches),
      "meta_deck_types wins" -> (() => total("meta_deck_types", "wins") == truth.decisiveMatches))
    checks.collect { case (name, ok) if !ok() => name }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The traced refresh: each public function the refresh calls, timed on
    * its own and forced with a `noop` sink over cached inputs, then the
    * real build, write and validation into `out`. Returns the failed
    * invariants and the layer metrics. */
  def layers(spark: SparkSession, in: BattleGen.Inputs, out: String)
      : (Seq[String], Seq[(String, Double)]) = {
    val (_, parse) = timed(noop(Tables.readBattlesJson(spark, in.battles)))
    val (meta, cardMeta) = timed(CardMetadata.load(spark, in.cards))
    val battles = Tables.readBattlesJson(spark, in.battles).cache()
    battles.count()
    val ranked = battles
      .filter(BattleOps.isRanked1v1(col("team"), col("opponent"), col("gameMode.id")))
      .cache()
    val rankedRows = ranked.count()
    val (_, matchHash) = timed(noop(ranked.select(Hashing.symmetricMatchHash(
      col("battleTime"), col("gameMode.id"), col("gameMode.name"), col("type"),
      col("team"), col("opponent")))))
    val obsCols = ranked.select(
      BattleOps.deckObs(element_at(col("team"), 1).getField("cards"), meta.nameById).as("a"),
      BattleOps.deckObs(element_at(col("opponent"), 1).getField("cards"), meta.nameById).as("b"))
    val (_, deckObs) = timed(noop(obsCols))
    val obs = obsCols.filter(col("a").isNotNull && col("b").isNotNull).cache()
    obs.count()
    val (_, deckHash) = timed(noop(obs.select(
      BattleOps.deckHashOf(col("a")), BattleOps.deckHashOf(col("b")))))
    val (_, classify) = timed(noop(obs.select(
      Classifier.classifyDeck(BattleOps.classifierNames(col("a")), meta),
      Classifier.classifyDeck(BattleOps.classifierNames(col("b")), meta))))
    val (_, sides) = timed(noop(SnapshotPipeline.sideObservations(battles, meta, Map.empty)))
    val lb = leaderboard(spark, in)
    val (snap, buildPlan) = timed(SnapshotPipeline.build(spark, battles, lb, meta, TopN))
    val (_, rollups) = timed(snap.all.values.foreach(noop))
    val (_, write) = timed(snap.write(out))
    // every parquet file under each table, partition subdirectories included
    val files = Tables11.flatMap { t =>
      val s = Files.walk(Paths.get(out, t))
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(Files.size).toList
      finally s.close()
    }
    val (failed, validate) = timed(invariants(spark, out))
    // each kept match is two side observations, and each side one use
    val keptMatches = spark.read.parquet(s"$out/meta_deck_types").agg(coalesce(sum("uses"), lit(0L)))
      .head().getLong(0) / 2
    obs.unpersist(); ranked.unpersist()
    (failed, Seq(
      "sources.parse_s" -> parse,
      "sources.card_metadata_s" -> cardMeta,
      "functions.match_hash_s" -> matchHash,
      "operators.deck_obs_s" -> deckObs,
      "functions.deck_hash_s" -> deckHash,
      "operators.classify_s" -> classify,
      "operators.sides_s" -> sides,
      "operators.dedup_kept_ratio" -> keptMatches.toDouble / math.max(1L, rankedRows),
      "operators.build_plan_s" -> buildPlan,
      "operators.rollups_s" -> rollups,
      "operators.write_s" -> write,
      "operators.write_files" -> files.size.toDouble,
      "operators.write_bytes" -> files.sum.toDouble,
      "validate_s" -> validate))
  }
}
