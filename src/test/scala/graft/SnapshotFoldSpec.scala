package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{BattleOps, SnapshotPipeline}
import graft.operators.SnapshotPipeline.Snapshot
import graft.sources.{CardMetadata, Tables}
import graft.sources.CardMetadata.Card

/** The one-job rollup fold of [[SnapshotPipeline.build]] against the
  * distributed rollups it replaced, kept here verbatim as the reference
  * (the way DeckKernelSpec keeps the higher-order deck path): all eleven
  * tables must hold the same rows (both `exceptAll` directions) under the
  * same schema, over generated battle sets and over the literal edge
  * cases — overrides, draws, empty and null card names, tags outside
  * the TopN, one deck listed in several card orders (so its deck_cards
  * slots show which observation represents it), and no battles at all. */
class SnapshotFoldSpec extends SparkSpecBase {

  /** The distributed rollups over the side observations, as
    * `SnapshotPipeline.assemble` planned them before the fold. */
  private def reference(players: DataFrame, sides0: DataFrame): Snapshot = {
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

  /** Builds both snapshots and asserts every table equal; returns the
    * reference's row count per table. */
  private def foldMatchesReference(battles: DataFrame, leaderboard: DataFrame,
      meta: CardMetadata.Meta, topN: Int,
      overrides: Map[String, String] = Map.empty): Map[String, Long] = {
    val fold = SnapshotPipeline.build(spark, battles, leaderboard, meta, topN, overrides)
    val sides = SnapshotPipeline.sideObservations(battles, meta, overrides)
    val ref = reference(BattleOps.topPlayers(leaderboard, topN), sides)
    try {
      fold.all.keySet shouldBe ref.all.keySet
      val counts = for ((name, expected) <- ref.all) yield withClue(s"table $name: ") {
        val got = fold.all(name)
        got.schema shouldBe expected.schema
        got.exceptAll(expected).count() shouldBe 0L
        expected.exceptAll(got).count() shouldBe 0L
        name -> expected.count()
      }
      // the label dim is ordered, and its order is part of the table
      fold.deckTypes.collect().toSeq shouldBe ref.deckTypes.collect().toSeq
      counts
    } finally spark.sharedState.cacheManager.clearCache()
  }

  // PipelinePropertiesSpec's generator: 6 players, 20 cards, ~half of the
  // matches fetched from both players' logs, ~1 in 10 not ranked, random
  // crowns (so draws), and names present on every card
  private val genMeta = CardMetadata.Meta(
    (1L to 20L).map(i => Card(i, s"C$i", None, Some((i % 6 + 1).toInt),
      isBigTank = i == 20, isBaitPiece = i <= 3, isBridgeSpamPiece = i % 7 == 0)))

  private def genBattles(seed: Long, n: Int): DataFrame = {
    val rnd = new Random(seed)
    val tags = (1 to 6).map(i => s"#P$i")
    def deck(): Seq[Long] = rnd.shuffle((1L to 20L).toList).take(8)
    def part(tag: String, crowns: Int, ids: Seq[Long]): Row =
      Row(tag, crowns, ids.map(id => Row(id, s"C$id", rnd.nextInt(3))))
    val rows = (0 until n).flatMap { i =>
      val Seq(a, b) = rnd.shuffle(tags.toList).take(2)
      val (ca, cb) = (rnd.nextInt(4), rnd.nextInt(4))
      val (da, db) = (deck(), deck())
      val modeId = if (rnd.nextInt(10) == 0) 99L else 72000006L // some invalid
      val base = Row(s"t$i", "pathOfLegend", Row(modeId, "Ranked"),
        Seq(part(a, ca, da)), Seq(part(b, cb, db)))
      // ~half the matches also appear from the other player's perspective
      if (rnd.nextBoolean())
        Seq(base, Row(s"t$i", "pathOfLegend", Row(modeId, "Ranked"),
          Seq(part(b, cb, db)), Seq(part(a, ca, da))))
      else Seq(base)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows), Tables.battleSchema)
  }

  private def genLeaderboard: DataFrame = {
    import spark.implicits._
    (1 to 6).map(i => (s"#P$i", s"P$i", i, 4000 - i * 10, 0))
      .toDF("tag", "name", "rank", "trophies", "eloRating")
  }

  test("fold ≡ reference over generated battle sets (5 seeds, TopN 6 and 3)") {
    for (seed <- Seq(1L, 7L, 42L, 99L, 2024L); topN <- Seq(6, 3)) withClue(s"seed=$seed topN=$topN: ") {
      val counts = foldMatchesReference(genBattles(seed, 40), genLeaderboard, genMeta, topN)
      counts("meta_deck_types") should be > 0L
      counts("player_type_cards") should be > 0L
    }
  }

  // a literal battle set: names the metadata cannot backfill, a card id
  // seen under several names, draws, a tag outside the TopN and overrides
  private val litMeta = CardMetadata.Meta(
    Card(1, "X-Bow", None, Some(6), isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false) +:
      (2L to 12L).map(i => Card(i, s"C$i", None, Some(4),
        isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false)))

  private def litBattles: DataFrame = {
    val ranked = Row(72000006L, "Ranked1v1")
    // card 13..16 are not in the metadata: an empty or null name stays ""
    def part(tag: String, crowns: Int, cards: Seq[(Long, String)], evo: Int = 0): Row =
      Row(tag, crowns, cards.map { case (id, name) => Row(id, name, evo) })
    // backfilled, X-Bow → Siege; each match lists x's cards in another
    // order, so its deck_cards slots tell which observation represents it
    val x = (1L to 8L).map(_ -> "")
    def xOrder(k: Int): Seq[(Long, String)] = x.drop(k) ++ x.take(k)
    val y = (9L to 16L).map(id => id -> (if (id == 13L) null else if (id == 14L) "" else s"n$id"))
    val yRenamed = (9L to 16L).map(id => id -> (if (id == 15L) "é" else if (id == 16L) "𝒳" else s"m$id"))
    val z = (5L to 12L).map(id => id -> s"C$id")
    val rows = Seq(
      Row("t1", "pathOfLegend", ranked, Seq(part("#A", 3, x)), Seq(part("#B", 1, y))),
      Row("t1", "pathOfLegend", ranked, Seq(part("#B", 1, y)), Seq(part("#A", 3, x))),
      Row("t2", "pathOfLegend", ranked, Seq(part("#A", 1, xOrder(1))), Seq(part("#C", 1, yRenamed))), // draw
      Row("t3", "pathOfLegend", ranked, Seq(part(" d ", 0, z, evo = 1)), Seq(part("#B", 2, y))),
      Row("t4", "pathOfLegend", ranked, Seq(part("#C", 2, z)), Seq(part("#A", 2, xOrder(2)))), // draw
      Row("t5", "pathOfLegend", ranked, Seq(part("", 2, z)), Seq(part("#A", 0, xOrder(3)))),   // no tag
      Row("t7", "pathOfLegend", ranked, Seq(part("#D", 1, xOrder(4))), Seq(part("#C", 0, z))),
      Row("t6", "pathOfLegend", ranked, Seq(part("#B", 1, y.take(7))), Seq(part("#C", 0, z))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), Tables.battleSchema)
  }

  private def litLeaderboard: DataFrame = {
    import spark.implicits._
    Seq(("#A", "Alice", 1, 3300, 0), ("#B", "Bob", 2, 3200, 0), ("#C", "Cara", 3, 3100, 0),
      ("#D", "Dan", 4, 3000, 0)).toDF("tag", "name", "rank", "trophies", "eloRating")
  }

  test("fold ≡ reference: draws, empty and null names, tags outside the TopN, a deck in five orders") {
    val counts = foldMatchesReference(litBattles, litLeaderboard, litMeta, topN = 2)
    counts("player_decks") should be > 0L
    counts("cards") should be > 0L
  }

  test("fold ≡ reference under a literal overrides map") {
    val hashes = SnapshotPipeline.sideObservations(litBattles, litMeta, Map.empty)
      .select("deck_hash").distinct().collect().map(_.getString(0)).sorted
    val overrides = Map(hashes.head -> "Bait", hashes.last -> "Zap Bait", "no-such-hash" -> "Siege")
    val counts = foldMatchesReference(litBattles, litLeaderboard, litMeta, topN = 3, overrides)
    counts("deck_types") should be > 1L
  }

  test("fold ≡ reference on no battles: eleven empty tables with the reference's schemas") {
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Tables.battleSchema)
    val noPlayers = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Tables.leaderboardSchema)
    foldMatchesReference(none, noPlayers, litMeta, topN = 2).values.toSet shouldBe Set(0L)
  }
}
