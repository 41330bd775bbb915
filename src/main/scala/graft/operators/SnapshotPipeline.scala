package graft.operators

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.expressions.DeckKernel
import graft.functions.{DomainFunctions => F, Hashing}
import graft.sources.CardMetadata

/** The flagship ETL: raw battle logs + leaderboard → the reference's full
  * star-schema snapshot (reference scripts/etl_snapshot_topn.py:189-359,
  * warehouse DDL db/schema.sql).
  *
  * Execution shape (designed for 100 TB of battle logs):
  *  1. narrow stage: filter ranked-1v1 and compute match_hash (its side
  *     payloads are the native [[graft.expressions.MatchSide]]), fused
  *     into the scan in generated code;
  *  2. `dropDuplicates(match_hash)` — the ONE global shuffle keyed on a
  *     sha1 hex (uniform, unskewable key: hash partitioning is perfectly
  *     balanced);
  *  3. one native [[graft.expressions.DeckKernel]] call per side (8-card
  *     extraction, deck hash, classifier cascade), then both perspectives
  *     (U1) from one `inline` generator pass — rows double *after* dedup,
  *     still narrow, and nothing upstream runs twice;
  *  4. each rollup is a partial-aggregate-friendly count/sum groupBy —
  *     map-side combine collapses the per-partition cardinality to
  *     |distinct keys| (archetypes: ~6; decks: bounded by distinct hashes)
  *     so the final shuffles move tiny partial maps, not facts.
  *
  * The per-side observation frame is cached once and feeds all six rollups
  * (the reference's single-pass dict accumulators, SURVEY §4);
  * [[Snapshot.write]] fills that cache once, then overlaps the table
  * writes.
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
      * after upstream dedup, SURVEY §2.1).
      *
      * The decks table is written first and alone: in a [[build]]
      * snapshot it reads the cached decks dim, itself over the cached
      * side observations, so that one action fills both shared caches and
      * the other writes read them instead of racing to compute them (a
      * separate fill action would cost one more job). The other ten
      * writes then run on a pool of `defaultParallelism` threads, so each
      * write's driver-side planning and commit overlaps the others' jobs.
      * Every write runs to its end; the first failure (decks first, then
      * by table name) is rethrown as thrown, and no pool thread is left
      * running when this returns. */
    def write(outDir: String): Unit = {
      def writeTable(name: String): Option[Throwable] =
        Try(all(name).write.mode("overwrite").parquet(s"$outDir/$name")).failed.toOption
      val primed = writeTable("decks")
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(
        players.sparkSession.sparkContext.defaultParallelism, (r: Runnable) => {
          val t = new Thread(r, "snapshot-write")
          threads.add(t)
          t
        })
      val failures = try {
        val pending = (all.keySet - "decks").toSeq.sorted.map { name =>
          val task: Callable[Option[Throwable]] = () => writeTable(name)
          pool.submit(task)
        }
        pending.flatMap(_.get())
      } finally {
        pool.shutdown()
        threads.forEach(_.join())
      }
      (primed ++ failures).headOption.foreach(e => throw e)
    }

    /** The post-load invariants (reference validate_snapshot.py:49-206,
      * SURVEY §5) over the tables [[write]] put in `outDir`. Returns the
      * message of each invariant that fails, in check order. */
    def validate(outDir: String, topN: Int): Seq[String] = {
      val spark = players.sparkSession
      def table(name: String): DataFrame = spark.read.parquet(s"$outDir/$name")
      def total(df: DataFrame): Long =
        df.agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      val checks = Seq[(String, () => Boolean)](
        "deck_cards: every deck has exactly 8 rows" -> (() =>
          table("deck_cards").groupBy("deck_hash").count()
            .filter(col("count") =!= 8).isEmpty),
        "0 <= wins <= uses in all stats tables" -> (() =>
          Seq("player_decks", "meta_deck_types", "meta_type_deck_ids",
            "meta_type_cards", "player_type_cards", "meta_type_matchups")
            .forall(t => table(t)
              .filter(col("wins") < 0 || col("uses") < 0 || col("wins") > col("uses"))
              .isEmpty)),
        "meta_deck_types non-empty" -> (() =>
          table("meta_deck_types").limit(1).count() == 1),
        "player count <= topN" -> (() => table("player").count() <= topN),
        "topn_obs <= meta_obs <= 2*topn_obs" -> (() => {
          val topnObs = total(table("player_decks"))
          val metaObs = total(table("meta_deck_types"))
          topnObs <= metaObs && metaObs <= 2 * topnObs
        }),
        // the reference gates on 'Unknown' only (validate_snapshot.py:116-145)
        "unknown-archetype ratio <= 0.30" -> (() => {
          val m = table("meta_deck_types")
          val uses = total(m)
          uses == 0L || total(m.filter(lower(col("deck_type")) === "unknown")).toDouble / uses <= 0.30
        }))
      checks.collect { case (name, ok) if !ok() => name }
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
    def typed(deck: String): Column =
      coalesce(element_at(overrideMap, col(s"$deck.deck_hash")), col(s"$deck.deck_type"))
    finishSides(hashedWide(battles, meta)
      .withColumn("team_type", typed("team_deck"))
      .withColumn("opp_type", typed("opp_deck")))
  }

  /** Dedup + one [[DeckKernel]] pass per side: (match_hash, team_tag, opp_tag, team_deck, opp_deck, win
    * flags), where each `*_deck` is the kernel's struct<obs, deck_hash,
    * deck_type> — before override resolution. */
  private def hashedWide(battles: DataFrame, meta: CardMetadata.Meta): DataFrame =
    battles
      .filter(BattleOps.isRanked1v1(col("team"), col("opponent"), col("gameMode.id")))
      // A13 — global exact dedup on the match hash (etl:257-261). Shuffle
      // key = sha1 hex → uniformly distributed, no skew at any scale.
      // Symmetric variant so the same match fetched from BOTH players'
      // battlelogs collapses — the reference's documented intent
      // (hash_utils.py:31-33), which its orientation-sensitive JSON
      // never achieves. Divergence documented in Hashing.symmetricMatchHash.
      .select(Hashing.symmetricMatchHash(col("battleTime"),
          col("gameMode.id"), col("gameMode.name"), col("type"),
          col("team"), col("opponent")).as("match_hash"),
        // a ranked 1v1 side has one participant: the shuffle carries it,
        // not the array around it
        element_at(col("team"), 1).as("t"),
        element_at(col("opponent"), 1).as("o"))
      .dropDuplicates("match_hash")
      .select(col("match_hash"),
        F.normalizeTag(col("t.tag")).as("team_tag"),
        F.normalizeTag(col("o.tag")).as("opp_tag"),
        DeckKernel(col("t.cards"), meta.deck).as("team_deck"),
        DeckKernel(col("o.cards"), meta.deck).as("opp_deck"),
        // P5 — strict-crowns win flags; draw = neither side won (etl:293-294)
        F.isWin(col("t.crowns"), col("o.crowns")).as("team_won"),
        F.isWin(col("o.crowns"), col("t.crowns")).as("opp_won"))
      .filter(col("team_tag") =!= "" && col("opp_tag") =!= "")

  /** U1 — both perspectives of the typed wide frame from one generator
    * pass over each match. A match is kept only when BOTH decks extract
    * (etl:279-282); that check runs on the generated rows, so the
    * optimizer cannot push it below the projection and run each kernel a
    * second time inside the filter. */
  private def finishSides(wide: DataFrame): DataFrame = {
    def side(me: String, them: String): Column = struct(
      col(s"${me}_tag").as("player_tag"), col(s"${me}_deck.deck_hash").as("deck_hash"),
      col(s"${me}_type").as("deck_type"), col(s"${me}_deck.obs").as("cards"),
      col(s"${me}_won").as("won"), col(s"${them}_type").as("opp_deck_type"),
      (col("team_deck").isNotNull && col("opp_deck").isNotNull).as("kept"))
    wide.select(col("match_hash"), inline(array(side("team", "opp"), side("opp", "team"))))
      .filter(col("kept"))
      .drop("kept")
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
    * the port of the reference's warehouse-backed `deck_type_overrides`,
    * re-read on every refresh so curated labels survive snapshot reloads
    * (etl:150-159, db/schema.sql:37-40). The table is config-sized
    * (hundreds of rows), so it is collected to the driver as the
    * reference loads it into a dict, with one label per hash even if the
    * table is dirty (the deterministic min, mirroring the PK the
    * warehouse enforces), and becomes [[build]]'s literal map. */
  def buildWithOverridesTable(spark: SparkSession, battles: DataFrame,
      leaderboard: DataFrame, meta: CardMetadata.Meta, topN: Int,
      overridesTable: DataFrame): Snapshot =
    build(spark, battles, leaderboard, meta, topN,
      overridesTable.groupBy("deck_hash").agg(min("deck_type")).collect()
        .collect { case Row(h: String, t: String) => h -> t }.toMap)

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
