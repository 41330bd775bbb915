package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.expressions.{DeckKernel, DeckMeta}
import graft.functions.{DomainFunctions => F}
import graft.sources.CardMetadata

/** Row-level battle operators: the ranked-1v1 predicate, normalization
  * projection, and 8-card deck extraction (reference
  * src/analysist/battle_filters.py and scripts/etl_snapshot_topn.py:50-137).
  *
  * All operators are narrow (per-row) column expressions — at 100 TB they
  * pipeline inside the scan stage with zero shuffle; the only wide edges in
  * the whole pipeline are the match-hash dedup and the final group-bys
  * (see [[SnapshotPipeline]]). The deck operators are views of the one
  * native [[graft.expressions.DeckKernel]] pass.
  */
object BattleOps {

  /** Ranked/ladder gameMode whitelist (battle_filters.py:4-7). */
  val RankedModeIds: Seq[Long] = Seq(72000006L, 72000464L)

  /** P1 — ranked-1v1 predicate (battle_filters.py:10-35): pure 1v1 and a
    * whitelisted mode id. `size(null)` is -1 so malformed rows fail closed. */
  def isRanked1v1(team: Column, opponent: Column, modeId: Column): Column =
    size(team) === 1 && size(opponent) === 1 && modeId.isin(RankedModeIds: _*)

  /** P2/P3 — filter + normalize a raw battle-log DataFrame (schema
    * [[graft.sources.Tables.battleSchema]]) into the minimal analysis shape
    * (battle_filters.py:52-124): battle_time, result, my_cards, opp_cards,
    * mode_name. Card lists keep only entries with a non-empty name. */
  def filterAndNormalize(battles: DataFrame): DataFrame = {
    def names(side: Column): Column =
      filter(
        transform(coalesce(side.getField("cards"), array()),
          c => trim(coalesce(c.getField("name"), lit("")))),
        n => n =!= "")
    battles
      .filter(isRanked1v1(col("team"), col("opponent"), col("gameMode.id")))
      .select(
        col("battleTime").as("battle_time"),
        F.battleResult(element_at(col("team"), 1).getField("crowns"),
          element_at(col("opponent"), 1).getField("crowns")).as("result"),
        names(element_at(col("team"), 1)).as("my_cards"),
        names(element_at(col("opponent"), 1)).as("opp_cards"),
        coalesce(nullif(col("gameMode.name"), lit("")), col("type"), lit(""))
          .as("mode_name"))
  }

  /** P9 — 8-card deck extraction + validation
    * (scripts/etl_snapshot_topn.py:77-108): take the first 8 of `cards[]`,
    * slot = 1..8, backfill a missing name from metadata by id, and reject
    * the deck (→ null) unless every card has an id and there are exactly 8
    * distinct (card_id, card_variant) pairs. The `obs` field of one native
    * [[graft.expressions.DeckKernel]] pass.
    *
    * Returns array<struct<card_id:long, card_name:string,
    * card_variant:string, slot:int>> or null when rejected.
    */
  def deckObs(cards: Column, nameById: Map[Long, String]): Column =
    DeckKernel(cards, DeckMeta.names(nameById)).getField("obs")

  /** Deck hash of an extracted observation array: sha1 of the canonical
    * signature (etl_snapshot_topn.py:140-143), as the kernel computes it. */
  def deckHashOf(obs: Column): Column = DeckKernel.hashOf(obs)

  /** Non-empty card names for the classifier
    * (etl_snapshot_topn.py:287-288); observation names are never null. */
  def classifierNames(obs: Column): Column =
    array_remove(obs.getField("card_name"), lit(""))

  /** A14/A15 — per-archetype W/L/D summary over normalized battles
    * (reference deck_type.py:192-274): classify each side (only decks of
    * exactly 8 cards count), aggregate my-perspective stats as-is and
    * opponent-perspective stats with win↔loss flipped (my win IS the
    * opponent's loss), win_rate = wins/games guarded to 0, ordered by
    * (win_rate, games) desc — deck_type tiebreak added for determinism
    * (the reference relies on dict order).
    *
    * Returns (my_deck_types, opp_deck_types). */
  def summarizeDeckTypes(normalized: DataFrame, meta: CardMetadata.Meta)
      : (DataFrame, DataFrame) = {
    def side(cards: Column, winLabel: String, lossLabel: String): DataFrame =
      normalized
        .filter(size(cards) === 8)
        .select(Classifier.classifyDeck(cards, meta).as("deck_type"), col("result"))
        .groupBy("deck_type")
        .agg(count(lit(1)).as("games"),
          sum(when(col("result") === winLabel, 1).otherwise(0)).cast("long").as("wins"),
          sum(when(col("result") === lossLabel, 1).otherwise(0)).cast("long").as("losses"),
          sum(when(col("result") =!= winLabel && col("result") =!= lossLabel, 1)
            .otherwise(0)).cast("long").as("draws"))
        .withColumn("win_rate",
          when(col("games") > 0, col("wins").cast("double") / col("games").cast("double"))
            .otherwise(0.0))
        .orderBy(col("win_rate").desc, col("games").desc, col("deck_type"))
    // my side counts "win" as a win; the opponent's win is my "loss"
    (side(col("my_cards"), "win", "loss"), side(col("opp_cards"), "loss", "win"))
  }

  /** Typed view of a normalized battle (the reference's normalized dict,
    * battle_filters.py:52-97) — for pipeline steps where compile-time
    * field safety helps; the DataFrame path stays the hot path (typed
    * lambdas opt out of codegen). */
  final case class NormalizedBattle(
      battle_time: String,
      result: String,
      my_cards: Seq[String],
      opp_cards: Seq[String],
      mode_name: String)

  /** [[filterAndNormalize]] as a typed Dataset — same plan, case-class
    * encoder on top. */
  def filterAndNormalizeTyped(battles: DataFrame): Dataset[NormalizedBattle] = {
    val spark = battles.sparkSession
    import spark.implicits._
    filterAndNormalize(battles).as[NormalizedBattle]
  }

  /** P10/W1 — TopN leaderboard head: normalize tags, coalesce ladder value,
    * rank from the API with a positional fallback
    * (etl_snapshot_topn.py:203-216). The fallback is the row's 1-based
    * position in the trophy-ordered board (tag-tiebroken for determinism
    * — the reference relies on API arrival order, SURVEY §2.12). The head
    * is the first `topN` rows by `rank_global`, then trophies desc, then
    * `player_tag`: that order breaks a rank tie at the cutoff, and the
    * rows come back in it.
    *
    * A leaderboard is config-sized (≤ thousands of rows), so one job
    * scans it and the driver ranks it; the result is held on the driver
    * (a LocalRelation in `leaderboardSchema`'s types, `rank_global` an
    * int), and reading it runs no job. BattleOpsSpec keeps the
    * `row_number` window form as the reference.
    */
  def topPlayers(leaderboard: DataFrame, topN: Int): DataFrame = {
    val board = leaderboard
      .select(
        F.normalizeTag(col("tag")).as("player_tag"),
        trim(coalesce(col("name"), lit(""))).as("player_name"),
        F.ladderValue(col("trophies"), col("eloRating")).as("trophies"),
        nullif(col("rank").cast("int"), lit(0)).as("api_rank"))
      .filter(col("player_tag") =!= "")
    // Spark's orders: trophies desc, then tags by their UTF-8 bytes
    val byTrophies = Ordering.by((r: Row) => (r.getInt(2), UTF8String.fromString(r.getString(0))))(
      Ordering.Tuple2(Ordering.Int.reverse, Ordering[UTF8String]))
    val ranked = board.collect().toSeq.sorted(byTrophies).zipWithIndex.map { case (r, i) =>
      Row(r.get(0), r.get(1), r.get(2), if (r.isNullAt(3)) i + 1 else r.getInt(3))
    }
    // a stable sort: rows of one rank_global keep the trophy order
    val head = ranked.sortBy(_.getInt(3)).take(topN)
    board.sparkSession.createDataFrame(java.util.Arrays.asList(head: _*),
      StructType(board.schema.fields.take(3) :+
        StructField("rank_global", IntegerType, nullable = false)))
  }
}
