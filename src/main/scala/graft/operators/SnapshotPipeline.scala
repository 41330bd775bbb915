package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{DomainFunctions => F, Hashing}
import graft.sources.CardMetadata

/** The flagship ETL: raw battle logs + leaderboard → the reference's full
  * star-schema snapshot (reference scripts/etl_snapshot_topn.py:189-359,
  * warehouse DDL db/schema.sql).
  *
  * Execution shape (designed for 100 TB of battle logs):
  *  1. narrow stage: filter ranked-1v1, compute match_hash, extract both
  *     decks, hash + classify — all codegen'd per-row work fused into the
  *     scan;
  *  2. `dropDuplicates(match_hash)` — the ONE global shuffle keyed on a
  *     sha1 hex (uniform, unskewable key: hash partitioning is perfectly
  *     balanced);
  *  3. union-of-perspectives (U1) doubles rows *after* dedup, still narrow;
  *  4. each rollup is a partial-aggregate-friendly count/sum groupBy —
  *     map-side combine collapses the per-partition cardinality to
  *     |distinct keys| (archetypes: ~6; decks: bounded by distinct hashes)
  *     so the final shuffles move tiny partial maps, not facts.
  *
  * The per-side observation frame is cached once and feeds all six rollups
  * (the reference's single-pass dict accumulators, SURVEY §4).
  */
object SnapshotPipeline {

  /** The materialized snapshot — one DataFrame per warehouse table
    * (db/schema.sql:11-152). */
  final case class Snapshot(
      players: DataFrame,        // player(player_tag, player_name, trophies, rank_global)
      cards: DataFrame,          // cards(card_id, card_name)
      decks: DataFrame,          // decks(deck_hash, deck_type)
      deckCards: DataFrame,      // deck_cards(deck_hash, card_id, card_variant, slot)
      playerDecks: DataFrame,    // player_decks(player_tag, deck_hash, uses, wins)
      deckTypes: DataFrame,      // deck_types(deck_type)
      metaDeckTypes: DataFrame,  // meta_deck_types(deck_type, uses, wins)
      metaTypeDeckIds: DataFrame,// meta_type_deck_ids(deck_type, deck_hash, uses, wins)
      metaTypeCards: DataFrame,  // meta_type_cards(deck_type, card_id, card_variant, uses, wins)
      playerTypeCards: DataFrame,// player_type_cards(player_tag, deck_type, card_id, card_variant, uses, wins)
      metaTypeMatchups: DataFrame// meta_type_matchups(deck_type, opp_deck_type, uses, wins)
  ) {
    def all: Map[String, DataFrame] = Map(
      "player" -> players, "cards" -> cards, "decks" -> decks,
      "deck_cards" -> deckCards, "player_decks" -> playerDecks,
      "deck_types" -> deckTypes, "meta_deck_types" -> metaDeckTypes,
      "meta_type_deck_ids" -> metaTypeDeckIds,
      "meta_type_cards" -> metaTypeCards,
      "player_type_cards" -> playerTypeCards,
      "meta_type_matchups" -> metaTypeMatchups)

    /** Snapshot-mode load: overwrite per table — TRUNCATE+reload semantics
      * (etl_snapshot_topn.py:162-182; S6/S7/S8 degenerate to overwrite
      * after upstream dedup, SURVEY §2.1). */
    def write(outDir: String): Unit =
      all.foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$outDir/$name")
      }
  }

  /** Per-side observation frame: one row per (deduped match, side).
    * Columns: match_hash, player_tag, deck_hash, deck_type, cards(obs
    * array), won, opp_deck_type. This is U1 — the load-bearing
    * union-of-perspectives (etl_snapshot_topn.py:304-308). */
  def sideObservations(battles: DataFrame, meta: CardMetadata.Meta,
      overrides: Map[String, String]): DataFrame = {
    val overrideMap =
      if (overrides.isEmpty) map()
      else map(overrides.toSeq.sortBy(_._1).flatMap {
        case (h, t) => Seq(lit(h), lit(t)) }: _*)
    // J1 — override lookup ?? classifier (etl:290-291). Overrides are a
    // tiny config dim → literal map, mirroring the reference's dict.
    finishSides(hashedWide(battles, meta)
      .withColumn("team_type", coalesce(element_at(overrideMap, col("team_dh")),
        Classifier.classifyDeck(BattleOps.classifierNames(col("team_obs")), meta)))
      .withColumn("opp_type", coalesce(element_at(overrideMap, col("opp_dh")),
        Classifier.classifyDeck(BattleOps.classifierNames(col("opp_obs")), meta))))
  }

  /** S5 as a real config-table SCAN: overrides read from a warehouse table
    * `deck_type_overrides(deck_hash, deck_type)` each run — the reference
    * re-reads it from Postgres on every refresh (etl:150-159) precisely so
    * curated labels survive snapshot reloads (db/schema.sql:37-40). The
    * table is config-sized (hundreds of rows), so it broadcast-left-joins
    * against both side hashes; at NO scale does it shuffle the battle
    * facts. Matches [[sideObservations]] exactly when the table holds the
    * same pairs as the literal map (SnapshotPipelineSpec asserts this). */
  def sideObservationsWithTable(battles: DataFrame, meta: CardMetadata.Meta,
      overridesTable: DataFrame): DataFrame = {
    val ovr = overridesTable
      .select(col("deck_hash"), col("deck_type"))
      // config hygiene: one label per hash even if the config table is
      // dirty — deterministic min, mirroring the PK the warehouse enforces
      .groupBy("deck_hash").agg(min("deck_type").as("ovr_type"))
    finishSides(hashedWide(battles, meta)
      .join(broadcast(ovr.select(col("deck_hash").as("team_dh"),
        col("ovr_type").as("team_ovr"))), Seq("team_dh"), "left")
      .join(broadcast(ovr.select(col("deck_hash").as("opp_dh"),
        col("ovr_type").as("opp_ovr"))), Seq("opp_dh"), "left")
      .withColumn("team_type", coalesce(col("team_ovr"),
        Classifier.classifyDeck(BattleOps.classifierNames(col("team_obs")), meta)))
      .withColumn("opp_type", coalesce(col("opp_ovr"),
        Classifier.classifyDeck(BattleOps.classifierNames(col("opp_obs")), meta))))
  }

  /** Dedup + per-side hashing, shared by both override paths: everything
    * up to (team_dh, opp_dh, win flags), before type resolution. */
  private def hashedWide(battles: DataFrame, meta: CardMetadata.Meta): DataFrame = {
    val deduped = battles
      .filter(BattleOps.isRanked1v1(col("team"), col("opponent"), col("gameMode.id")))
      // A13 — global exact dedup on the match hash (etl:257-261). Shuffle
      // key = sha1 hex → uniformly distributed, no skew at any scale.
      // Symmetric variant so the same match fetched from BOTH players'
      // battlelogs collapses — the reference's documented intent
      // (hash_utils.py:31-33), which its orientation-sensitive JSON
      // never achieves. Divergence documented in Hashing.symmetricMatchHash.
      .withColumn("match_hash", Hashing.symmetricMatchHash(col("battleTime"),
        col("gameMode.id"), col("gameMode.name"), col("type"),
        col("team"), col("opponent")))
      .dropDuplicates("match_hash")

    deduped
      .select(col("match_hash"),
        element_at(col("team"), 1).as("t"),
        element_at(col("opponent"), 1).as("o"))
      .withColumn("team_tag", F.normalizeTag(col("t.tag")))
      .withColumn("opp_tag", F.normalizeTag(col("o.tag")))
      .filter(col("team_tag") =!= "" && col("opp_tag") =!= "")
      .withColumn("team_obs", BattleOps.deckObs(col("t.cards"), meta.nameById))
      .withColumn("opp_obs", BattleOps.deckObs(col("o.cards"), meta.nameById))
      // reject the match unless BOTH decks extract (etl:279-282)
      .filter(col("team_obs").isNotNull && col("opp_obs").isNotNull)
      .withColumn("team_dh", BattleOps.deckHashOf(col("team_obs")))
      .withColumn("opp_dh", BattleOps.deckHashOf(col("opp_obs")))
      // P5 — strict-crowns win flags; draw = neither side won (etl:293-294)
      .withColumn("team_won", F.isWin(col("t.crowns"), col("o.crowns")))
      .withColumn("opp_won", F.isWin(col("o.crowns"), col("t.crowns")))
  }

  /** U1 — both perspectives of the typed wide frame. */
  private def finishSides(wide: DataFrame): DataFrame = {
    def side(tag: String, dh: String, tp: String, obs: String, won: String,
        oppTp: String): DataFrame =
      wide.select(col("match_hash"), col(tag).as("player_tag"),
        col(dh).as("deck_hash"), col(tp).as("deck_type"),
        col(obs).as("cards"), col(won).as("won"),
        col(oppTp).as("opp_deck_type"))

    side("team_tag", "team_dh", "team_type", "team_obs", "team_won", "opp_type")
      .unionByName(
        side("opp_tag", "opp_dh", "opp_type", "opp_obs", "opp_won", "team_type"))
  }

  /** Build the full snapshot. `battles` in [[graft.sources.Tables.battleSchema]];
    * `leaderboard` in leaderboardSchema; `overrides` = deck_type_overrides
    * config (NOT truncated on refresh — db/schema.sql:37-40). */
  def build(spark: SparkSession, battles: DataFrame, leaderboard: DataFrame,
      meta: CardMetadata.Meta, topN: Int,
      overrides: Map[String, String] = Map.empty): Snapshot =
    assemble(BattleOps.topPlayers(leaderboard, topN),
      sideObservations(battles, meta, overrides))

  /** [[build]] with the overrides read from a config TABLE each run —
    * the honest port of the reference's warehouse-backed
    * `deck_type_overrides` (etl:150-159; see
    * [[sideObservationsWithTable]]). */
  def buildWithOverridesTable(spark: SparkSession, battles: DataFrame,
      leaderboard: DataFrame, meta: CardMetadata.Meta, topN: Int,
      overridesTable: DataFrame): Snapshot =
    assemble(BattleOps.topPlayers(leaderboard, topN),
      sideObservationsWithTable(battles, meta, overridesTable))

  private def assemble(players: DataFrame, sides0: DataFrame): Snapshot = {
    // one cached pass feeds six rollups (reference's single fold, §4)
    val sides = sides0.cache()

    val winsExpr = sum(when(col("won"), 1).otherwise(0)).cast("long").as("wins")
    val usesExpr = count(lit(1)).as("uses")

    // A1 — per-archetype uses/wins over both sides (etl:322-323)
    val metaDeckTypes = sides.groupBy("deck_type").agg(usesExpr, winsExpr)

    // A2 — per (type, deck) (etl:325-326)
    val metaTypeDeckIds = sides.groupBy("deck_type", "deck_hash").agg(usesExpr, winsExpr)

    // A3 — explode-then-aggregate per (type, card, variant) (etl:328-330)
    val metaTypeCards = sides
      .select(col("deck_type"), explode(col("cards")).as("c"), col("won"))
      .groupBy(col("deck_type"), col("c.card_id").as("card_id"),
        col("c.card_variant").as("card_variant"))
      .agg(usesExpr, winsExpr)

    // A4 + J9 — player facts restricted to TopN tags via left-semi join
    // (etl:332-335). Players dim is tiny → Catalyst broadcasts the semi.
    val playerDecks = sides
      .join(players.select("player_tag"), Seq("player_tag"), "left_semi")
      .groupBy("player_tag", "deck_hash").agg(usesExpr, winsExpr)

    // A5 — directional matchup matrix: sides already carries both
    // directions (one row per match per perspective), so a single groupBy
    // yields the two directed rows per match (etl:296-302).
    val metaTypeMatchups = sides
      .groupBy(col("deck_type"), col("opp_deck_type")).agg(usesExpr, winsExpr)

    // A7 — cards dim: distinct card_id → a deterministic representative
    // name (reference keeps last-writer-wins dict order; deck contents make
    // this unique in practice — we pin max() for determinism, SURVEY A7).
    val cards = sides
      .select(explode(col("cards")).as("c"))
      .select(col("c.card_id").as("card_id"), col("c.card_name").as("card_name"))
      .filter(col("card_name") =!= "")
      .groupBy("card_id").agg(max("card_name").as("card_name"))

    // A8 — decks dim: one row per deck_hash, represented by ONE observation
    // (reference: first-seen, etl:312-314). deck_type and cards are taken
    // together from the min_by (match_hash, player_tag) row — a unique total
    // order — so the dim can never mix the type of one observation with the
    // cards of another (same hash can carry different backfilled names and
    // classify differently; ADVICE r01).
    val decks = sides
      .groupBy("deck_hash")
      .agg(min_by(
        struct(col("deck_type").as("deck_type"), col("cards").as("cards")),
        struct(col("match_hash"), col("player_tag"))).as("rep"))
      .select(col("deck_hash"), col("rep.deck_type").as("deck_type"),
        col("rep.cards").as("cards"))
      .cache()

    // deck_cards bridge — exactly 8 rows/deck (db/schema.sql:47-60)
    val deckCards = decks
      .select(col("deck_hash"), explode(col("cards")).as("c"))
      .select(col("deck_hash"), col("c.card_id").as("card_id"),
        col("c.card_variant").as("card_variant"), col("c.slot").as("slot"))

    // A9 — deck_types label dim (etl:367)
    val deckTypes = decks.select("deck_type").distinct().orderBy("deck_type")

    // A6/J7 — player_type_cards: fan deck-level uses/wins out through the
    // 8-card composition then re-aggregate (etl:337-345). decks is small
    // relative to facts → broadcast join keeps this shuffle-free up to the
    // final groupBy.
    val playerTypeCards = playerDecks
      .join(broadcast(decks), Seq("deck_hash"))
      .select(col("player_tag"), col("deck_type"), explode(col("cards")).as("c"),
        col("uses"), col("wins"))
      .groupBy(col("player_tag"), col("deck_type"),
        col("c.card_id").as("card_id"), col("c.card_variant").as("card_variant"))
      .agg(sum("uses").cast("long").as("uses"), sum("wins").cast("long").as("wins"))

    Snapshot(players, cards, decks.select("deck_hash", "deck_type"), deckCards,
      playerDecks, deckTypes, metaDeckTypes, metaTypeDeckIds, metaTypeCards,
      playerTypeCards, metaTypeMatchups)
  }
}
