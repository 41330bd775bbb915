package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DomainFunctions => F}
import graft.operators.BattleOps
import graft.sources.Tables

/** P1/P2/P4/P9/P10 row-level battle operators (battle_filters.py,
  * etl_snapshot_topn.py:50-137,203-216). */
class BattleOpsSpec extends SparkSpecBase {

  private def battleDF(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Tables.battleSchema)

  private def part(tag: String, crowns: Int, cards: Seq[(Long, String, Int)]): Row =
    Row(tag, crowns, cards.map { case (id, n, ev) => Row(id, n, ev) })

  private val eightCards: Seq[(Long, String, Int)] =
    (1L to 8L).map(i => (i, s"Card$i", 0))

  test("isRanked1v1 keeps only 1v1 whitelisted modes; malformed fails closed") {
    val rows = Seq(
      Row("t1", "x", Row(72000006L, "Ranked"), Seq(part("#A", 1, eightCards)), Seq(part("#B", 0, eightCards))),
      Row("t2", "x", Row(99L, "Casual"), Seq(part("#A", 1, eightCards)), Seq(part("#B", 0, eightCards))),
      Row("t3", "x", Row(72000464L, "Ranked"), Seq(part("#A", 1, eightCards), part("#C", 1, eightCards)), Seq(part("#B", 0, eightCards))),
      Row("t4", "x", Row(72000006L, "Ranked"), null, Seq(part("#B", 0, eightCards)))
    )
    val kept = battleDF(rows)
      .filter(BattleOps.isRanked1v1(col("team"), col("opponent"), col("gameMode.id")))
      .select("battleTime").collect().map(_.getString(0)).toSeq
    kept shouldBe Seq("t1")
  }

  test("filterAndNormalize: result derivation and card-name projection") {
    val rows = Seq(
      Row("t1", "x", Row(72000006L, "Ranked"), Seq(part("#A", 3, eightCards)), Seq(part("#B", 1, eightCards))),
      Row("t2", "x", Row(72000006L, null), Seq(part("#A", 0, eightCards)), Seq(part("#B", 0, eightCards)))
    )
    val out = BattleOps.filterAndNormalize(battleDF(rows))
      .orderBy("battle_time").collect()
    out(0).getAs[String]("result") shouldBe "win"
    out(0).getAs[scala.collection.Seq[String]]("my_cards") shouldBe (1 to 8).map(i => s"Card$i")
    out(0).getAs[String]("mode_name") shouldBe "Ranked"
    out(1).getAs[String]("result") shouldBe "draw"
    out(1).getAs[String]("mode_name") shouldBe "x" // null mode name → type
  }

  test("filterAndNormalizeTyped: case-class encoder over the same plan") {
    val rows = Seq(
      Row("t1", "x", Row(72000006L, "Ranked"), Seq(part("#A", 2, eightCards)), Seq(part("#B", 0, eightCards))))
    val ds = BattleOps.filterAndNormalizeTyped(battleDF(rows))
    val b = ds.head()
    b.result shouldBe "win"
    b.my_cards shouldBe (1 to 8).map(i => s"Card$i")
    b.mode_name shouldBe "Ranked"
  }

  test("deckObs: valid 8-card deck extracts with slots 1..8 and variants") {
    val cards = Seq((3L, "C3", 1), (1L, "C1", 0), (2L, "", 2)) ++
      (4L to 8L).map(i => (i, s"C$i", 0))
    val df = battleDF(Seq(Row("t", "x", Row(72000006L, "m"),
      Seq(part("#A", 1, cards)), Seq(part("#B", 0, eightCards)))))
    val obs = df.select(BattleOps.deckObs(
      element_at(col("team"), 1).getField("cards"), Map(2L -> "Backfilled")).as("o"))
      .head().getAs[scala.collection.Seq[Row]]("o")
    obs.map(_.getAs[Int]("slot")) shouldBe (1 to 8)
    obs.head.getAs[String]("card_variant") shouldBe "evo"   // evolutionLevel 1
    obs(2).getAs[String]("card_variant") shouldBe "hero"    // evolutionLevel 2
    obs(2).getAs[String]("card_name") shouldBe "Backfilled" // empty name → metadata
    obs(1).getAs[String]("card_variant") shouldBe "normal"
  }

  test("deckObs rejects short decks and duplicate (id, variant) pairs") {
    val dup = Seq((1L, "A", 0), (1L, "A2", 0)) ++ (2L to 7L).map(i => (i, s"C$i", 0))
    val short = (1L to 7L).map(i => (i, s"C$i", 0))
    val df = battleDF(Seq(
      Row("dup", "x", Row(72000006L, "m"), Seq(part("#A", 1, dup)), Seq(part("#B", 0, eightCards))),
      Row("short", "x", Row(72000006L, "m"), Seq(part("#A", 1, short)), Seq(part("#B", 0, eightCards)))
    ))
    val out = df.select(col("battleTime"),
      BattleOps.deckObs(element_at(col("team"), 1).getField("cards"), Map.empty).as("o"))
      .collect().map(r => r.getString(0) -> r.isNullAt(1)).toMap
    out("dup") shouldBe true
    out("short") shouldBe true
  }

  test("deckObs accepts same id with different variants (evo + normal)") {
    val cards = Seq((1L, "A", 1), (1L, "A", 0)) ++ (2L to 7L).map(i => (i, s"C$i", 0))
    val df = battleDF(Seq(Row("t", "x", Row(72000006L, "m"),
      Seq(part("#A", 1, cards)), Seq(part("#B", 0, eightCards)))))
    df.select(BattleOps.deckObs(element_at(col("team"), 1).getField("cards"), Map.empty).as("o"))
      .head().isNullAt(0) shouldBe false
  }

  test("summarizeDeckTypes: perspective flip, draws, and 8-card skip") {
    import spark.implicits._
    import graft.sources.CardMetadata
    import graft.sources.CardMetadata.Card
    val meta = CardMetadata.Meta(
      Card(1, "X-Bow", None, Some(6), false, false, false) +:
        (2L to 16L).map(i => Card(i, s"C$i", None, Some(4), false, false, false)))
    val siege = (1 to 8).map(i => if (i == 1) "X-Bow" else s"C$i")
    val hybrid = (9 to 16).map(i => s"C$i")
    val normalized = Seq(
      ("t1", "win", siege, hybrid, "m"),   // my Siege beats their Hybrid
      ("t2", "loss", siege, hybrid, "m"),  // my Siege loses to their Hybrid
      ("t3", "draw", siege, hybrid, "m"),
      ("t4", "win", siege, hybrid.take(7), "m") // 7-card opp deck → opp side skipped
    ).toDF("battle_time", "result", "my_cards", "opp_cards", "mode_name")
    val (my, opp) = BattleOps.summarizeDeckTypes(normalized, meta)
    val m = my.collect().map(r => r.getAs[String]("deck_type") ->
      (r.getAs[Long]("games"), r.getAs[Long]("wins"), r.getAs[Long]("losses"),
        r.getAs[Long]("draws"), r.getAs[Double]("win_rate"))).toMap
    m("Siege") shouldBe ((4L, 2L, 1L, 1L, 0.5))
    val o = opp.collect().map(r => r.getAs[String]("deck_type") ->
      (r.getAs[Long]("games"), r.getAs[Long]("wins"), r.getAs[Long]("losses"),
        r.getAs[Long]("draws"))).toMap
    // flip: my win = opp loss; the 7-card battle doesn't count for opp
    o("Hybrid") shouldBe ((3L, 1L, 1L, 1L))
  }

  test("topPlayers: api rank preferred, positional fallback, ladder coalesce") {
    import spark.implicits._
    val lb = Seq(
      ("#a", "Alice", 0, 0, 3200),        // rank 0 → fallback; trophies 0 → eloRating
      ("#B", "Bob", 2, 3100, 0),
      ("c", "Cara", 1, 3300, 0)           // tag gets '#' prefix + uppercase
    ).toDF("tag", "name", "rank", "trophies", "eloRating")
    val out = BattleOps.topPlayers(lb, 3).collect()
      .map(r => r.getAs[String]("player_tag") ->
        (r.getAs[Int]("trophies"), r.getAs[Int]("rank_global"))).toMap
    out.keySet shouldBe Set("#A", "#B", "#C")
    out("#A")._1 shouldBe 3200 // trophies 0 → eloRating coalesce
    out("#B") shouldBe ((3100, 2)) // api rank kept
    out("#C") shouldBe ((3300, 1))
    // #a's api rank 0 → positional fallback in trophy order (C 3300 > A
    // 3200 > B 3100 ⇒ 2); the reference keeps API ranks as-is, so the
    // fallback may duplicate an existing rank — exactly like arrival order
    out("#A")._2 shouldBe 2
  }

  /** The reference: `topPlayers` as a `row_number` window over the
    * leaderboard, with the cutoff tie-break it documents (rank_global,
    * then trophies desc, then player_tag) as the head's sort. */
  private def topPlayersWindow(leaderboard: DataFrame, topN: Int): DataFrame = {
    val w = Window.orderBy(desc("trophies"), asc("player_tag"))
    leaderboard
      .select(
        F.normalizeTag(col("tag")).as("player_tag"),
        trim(coalesce(col("name"), lit(""))).as("player_name"),
        F.ladderValue(col("trophies"), col("eloRating")).as("trophies"),
        col("rank").as("api_rank"))
      .filter(col("player_tag") =!= "")
      .withColumn("rank_global",
        coalesce(nullif(col("api_rank"), lit(0)), row_number().over(w)))
      .drop("api_rank")
      .orderBy(col("rank_global"), desc("trophies"), col("player_tag"))
      .limit(topN)
  }

  test("topPlayers ranks on the driver as the window form does, at every cutoff") {
    def player(tag: String, name: String, rank: Integer, trophies: Integer, elo: Integer) =
      Row(tag, name, rank, trophies, elo)
    val lb = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      player("#p1", "A", null, 3000, 0),      // null api rank → position
      player("p2", "B", 0, 3000, 0),          // rank 0 → position; trophy tie
      player("#p3", null, 5, 2900, 0),        // null name → ""
      player("  ", "Blank", 1, 4000, 0),      // blank tag: dropped
      player(null, "Null", 2, 3900, 0),       // null tag: dropped
      player("", "Empty", 3, 3800, 0),        // empty tag: dropped
      player("#p4", "D", null, 0, 3100),      // trophies 0 → eloRating
      player("#p5", "E", 3, 2800, 0),         // api rank 3 twice …
      player("#p6", "F", 3, 2800, 0),         // … broken by tag
      player("#p7", "G", null, 2800, 0),
      player("#p8", "H", 0, null, null),      // ladder value 0
      player("#p9", "I", 2, 1000, 0),         // api rank = a position
      player("\uFF21x", "J", null, 1000, 0),  // U+FF21 orders before …
      player("\uD83D\uDE00y", "K", null, 1000, 0), // … U+1F600 in UTF-8
      player("#p10", "L", 4, 500, 0)), 3), Tables.leaderboardSchema)
    val kept = 12
    for (topN <- 0 to kept + 1) withClue(s"topN $topN") {
      val held = BattleOps.topPlayers(lb, topN)
      val reference = topPlayersWindow(lb, topN)
      held.schema shouldBe reference.schema
      var rows = Array.empty[Row]
      jobsOf { rows = held.collect() } shouldBe 0
      rows.toSeq shouldBe reference.collect().toSeq
      rows.length shouldBe math.min(topN, kept)
    }
  }
}
