package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
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
  *  2. dedup on match_hash — the ONE global shuffle, keyed on a sha1 hex
  *     (uniform, unskewable key: hash partitioning is perfectly
  *     balanced), then ONE sort within each partition keeps the first
  *     row of each run of equal hashes (a spilling sort, so memory stays
  *     bounded at any scale);
  *  3. one native [[graft.expressions.DeckKernel]] call per side (8-card
  *     extraction, deck hash, classifier cascade), then both perspectives
  *     (U1) from one `inline` generator pass — rows double *after* dedup,
  *     still narrow, and nothing upstream runs twice;
  *  4. all rollups from ONE job over the side rows, the reference's
  *     single-pass dict accumulators (SURVEY §4): each partition folds its
  *     rows into per-key counters, the max card name and each deck's
  *     representative, and ships them as a compact partial — its size is
  *     |distinct keys| (archetypes: ~6; decks: bounded by distinct hashes),
  *     not |facts|. The driver merges the partials and fans
  *     player_type_cards out through the deck representatives.
  *
  * The driver then holds only output rows, and each warehouse table is a
  * LocalRelation of them, so [[Snapshot.write]] writes each as one
  * parquet file from the driver and runs no job. The largest is the
  * decks dimension with its cards, which a distributed fan-out would
  * broadcast to every task anyway. The TopN head is ranked on the
  * driver too ([[BattleOps.topPlayers]]: one leaderboard scan), so a
  * refresh runs the scan, the fold and nothing else.
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
      * A [[build]] table is held on the driver, so each table is one
      * parquet file written from the driver ([[Fs.overwriteParquet]]),
      * and the eleven writes run no Spark job. They run on a pool of
      * `defaultParallelism` threads, since a write's time is the
      * writer's set-up and the file system's calls, not its rows. Every
      * write runs to its end; the first failure by table name is
      * rethrown as thrown, and no pool thread is left running when this
      * returns. */
    def write(outDir: String): Unit = {
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(
        players.sparkSession.sparkContext.defaultParallelism, (r: Runnable) => {
          val t = new Thread(r, "snapshot-write")
          threads.add(t)
          t
        })
      val failures = try {
        val pending = all.keySet.toSeq.sorted.map { name =>
          val task: Callable[Option[Throwable]] = () =>
            Try(Fs.overwriteParquet(all(name), s"$outDir/$name")).failed.toOption
          pool.submit(task)
        }
        pending.flatMap(_.get())
      } finally {
        pool.shutdown()
        threads.forEach(_.join())
      }
      failures.headOption.foreach(e => throw e)
    }

    /** The post-load invariants (reference validate_snapshot.py:49-206,
      * SURVEY §5) over the tables [[write]] put in `outDir`. Returns the
      * message of each invariant that fails, in check order. Each table
      * is read under its frame's schema, so no read pays a
      * schema-inference job, and meta_deck_types' three checks share one
      * aggregate. */
    def validate(outDir: String, topN: Int): Seq[String] = {
      val spark = players.sparkSession
      def table(name: String): DataFrame =
        spark.read.schema(all(name).schema).parquet(s"$outDir/$name")
      def total(df: DataFrame): Long =
        df.agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      // rows, uses, and the uses of 'Unknown' — the reference gates on
      // 'Unknown' only (validate_snapshot.py:116-145)
      lazy val meta = table("meta_deck_types").agg(count(lit(1)),
        coalesce(sum("uses"), lit(0L)),
        coalesce(sum(when(lower(col("deck_type")) === "unknown", col("uses"))), lit(0L)))
        .head()
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
        "meta_deck_types non-empty" -> (() => meta.getLong(0) > 0L),
        "player count <= topN" -> (() => table("player").count() <= topN),
        "topn_obs <= meta_obs <= 2*topn_obs" -> (() => {
          val topnObs = total(table("player_decks"))
          val metaObs = meta.getLong(1)
          topnObs <= metaObs && metaObs <= 2 * topnObs
        }),
        "unknown-archetype ratio <= 0.30" -> (() => {
          val uses = meta.getLong(1)
          uses == 0L || meta.getLong(2).toDouble / uses <= 0.30
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
      // keep any one row per hash: the first of each run of equal
      // hashes once the exchange's partitions are sorted (a lag window:
      // one exchange, one sort, and no aggregate over the payload
      // structs on either side of the shuffle)
      .withColumn("prev", lag(col("match_hash"), 1).over(
        Window.partitionBy("match_hash").orderBy("match_hash")))
      .filter(col("prev").isNull)
      .select(col("match_hash"),
        F.normalizeTag(col("t.tag")).as("team_tag"),
        F.normalizeTag(col("o.tag")).as("opp_tag"),
        DeckKernel(col("t.cards"), meta.deck).as("team_deck"),
        DeckKernel(col("o.cards"), meta.deck).as("opp_deck"),
        // P5 — strict-crowns win flags; draw = neither side won (etl:293-294)
        F.isWin(col("t.crowns"), col("o.crowns")).as("team_won"),
        F.isWin(col("o.crowns"), col("t.crowns")).as("opp_won"))

  /** U1 — both perspectives of the typed wide frame from one generator
    * pass over each match. A match is kept only when BOTH decks extract
    * (etl:279-282) and both tags are non-empty; that check runs on the
    * generated rows, so the optimizer cannot push it below the projection
    * and run each kernel or tag normalization a second time inside the
    * filter. */
  private def finishSides(wide: DataFrame): DataFrame = {
    def side(me: String, them: String): Column = struct(
      col(s"${me}_tag").as("player_tag"), col(s"${me}_deck.deck_hash").as("deck_hash"),
      col(s"${me}_type").as("deck_type"), col(s"${me}_deck.obs").as("cards"),
      col(s"${me}_won").as("won"), col(s"${them}_type").as("opp_deck_type"),
      (col("team_deck").isNotNull && col("opp_deck").isNotNull &&
        col("team_tag") =!= "" && col("opp_tag") =!= "").as("kept"))
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

  /** The rollups as the reference computes them: one fold over the side
    * observations (etl_snapshot_topn.py:304-345, SURVEY §4). One job folds
    * each partition's side rows into a [[RollupFold]] and ships it as
    * bytes; the driver merges the partials and lays every table out as a
    * LocalRelation of its rows. The TopN tags the player_decks fact keeps
    * come from the held players dim. */
  private def assemble(players: DataFrame, sides: DataFrame): Snapshot = {
    val tags = players.collect().map(_.getAs[String]("player_tag")).toSet
    val schema = sides.schema
    val qe = sides.queryExecution
    val partials = SQLExecution.withNewExecutionId(qe, Some("snapshot rollups")) {
      qe.toRdd.mapPartitions { rows =>
        val fold = new RollupFold(schema, tags.map(UTF8String.fromString))
        rows.foreach(fold.add)
        Iterator.single(fold.encode())
      }.collect()
    }
    val merged = new RollupFold(schema, Set.empty)
    partials.foreach(merged.merge)
    merged.snapshot(players)
  }

  /** The reference's accumulators (etl:304-345) over the side rows of one
    * partition, or over several partitions' merged: uses/wins per key of
    * the five stats tables (player_decks only for the TopN `tags`), the
    * max non-empty name per card id, and each deck's representative, the
    * observation with the least (match_hash, player_tag) — so its type
    * and cards always come from one observation (ADVICE r01).
    *
    * Every string is interned once (an id indexes `strs`; -1 is null),
    * and each counter key is two ids packed in a Long, so a partial ships
    * as a string table and flat records ([[encode]]), not as a graph of
    * boxed tuples for the Java serializer. */
  private final class RollupFold(sides: StructType, tags: Set[UTF8String]) {
    import RollupFold._

    private val Seq(matchAt, tagAt, hashAt, typeAt, cardsAt, wonAt, oppAt) =
      Seq("match_hash", "player_tag", "deck_hash", "deck_type", "cards", "won",
        "opp_deck_type").map(sides.fieldIndex)
    private val strs = mutable.ArrayBuffer.empty[UTF8String]
    private val strIds = mutable.HashMap.empty[UTF8String, Int]
    // (card_id, card_variant id) → the card part of a meta_type_cards key
    private val cardKeys = mutable.ArrayBuffer.empty[(Long, Int)]
    private val cardIds = mutable.HashMap.empty[(Long, Int), Int]
    // uses, wins per key: (deck_type, 0), (deck_type, deck_hash),
    // (deck_type, card), (player_tag, deck_hash), (deck_type, opp_deck_type)
    private val counters = Array.fill(5)(mutable.LongMap.empty[Array[Long]])
    private val Array(typeUses, typeDeckUses, typeCardUses, playerDeckUses, matchupUses) =
      counters
    private val names = mutable.LongMap.empty[Int] // card_id → name id
    private val reps = mutable.LongMap.empty[Rep]  // deck_hash id → rep

    /** The id of `s`, which may sit in a reused row buffer: it is copied
      * only when first seen. */
    private def intern(s: UTF8String): Int =
      if (s == null) -1
      else strIds.getOrElse(s, {
        val owned = s.copy()
        strIds.update(owned, strs.length)
        strs += owned
        strs.length - 1
      })

    private def str(id: Int): UTF8String = if (id < 0) null else strs(id)

    private def card(id: Long, variant: Int): Int =
      cardIds.getOrElseUpdate((id, variant), { cardKeys += ((id, variant)); cardKeys.length - 1 })

    private def bump(m: mutable.LongMap[Array[Long]], key: Long, uses: Long, wins: Long): Unit = {
      val c = m.getOrElseUpdate(key, new Array[Long](2))
      c(0) += uses
      c(1) += wins
    }

    private def keepName(id: Long, name: Int): Unit =
      if (names.get(id).forall(n => str(name).binaryCompare(str(n)) > 0)) names(id) = name

    /** Whether (matchHash, tag) orders before deck `hash`'s current
      * representative, if it has one. */
    private def beforeRep(hash: Int, matchHash: UTF8String, tag: Int): Boolean =
      reps.get(hash).forall { r =>
        val c = matchHash.binaryCompare(r.matchHash)
        c < 0 || c == 0 && str(tag).binaryCompare(str(r.tag)) < 0
      }

    def add(row: InternalRow): Unit = {
      val tag = row.getUTF8String(tagAt)
      val t = intern(tag)
      val h = intern(row.getUTF8String(hashAt))
      val typ = intern(row.getUTF8String(typeAt))
      val won = if (row.getBoolean(wonAt)) 1L else 0L
      bump(typeUses, pack(typ, 0), 1L, won)
      bump(typeDeckUses, pack(typ, h), 1L, won)
      bump(matchupUses, pack(typ, intern(row.getUTF8String(oppAt))), 1L, won)
      if (tags.contains(tag)) bump(playerDeckUses, pack(t, h), 1L, won)
      val arr = row.getArray(cardsAt)
      val obs = Array.tabulate(arr.numElements()) { j =>
        // DeckKernel.obsType: card_id, card_name, card_variant, slot
        val c = arr.getStruct(j, 4)
        val o = Card(c.getLong(0), intern(c.getUTF8String(2)), c.getInt(3))
        bump(typeCardUses, pack(typ, card(o.id, o.variant)), 1L, won)
        val name = c.getUTF8String(1)
        if (name != null && name.numBytes > 0) keepName(o.id, intern(name))
        o
      }
      val matchHash = row.getUTF8String(matchAt)
      if (beforeRep(h, matchHash, t)) reps(h) = Rep(matchHash.copy(), t, typ, obs)
    }

    /** This fold as bytes: the string table, then flat records that
      * refer to it by id. [[merge]] reads them back. */
    def encode(): Array[Byte] = {
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      def utf8(s: UTF8String): Unit = { out.writeInt(s.numBytes); s.writeTo(out) }
      out.writeInt(strs.length)
      strs.foreach(utf8)
      out.writeInt(cardKeys.length)
      cardKeys.foreach { case (id, variant) => out.writeLong(id); out.writeInt(variant) }
      counters.foreach { m =>
        out.writeInt(m.size)
        m.foreachEntry { (k, c) => out.writeLong(k); out.writeLong(c(0)); out.writeLong(c(1)) }
      }
      out.writeInt(names.size)
      names.foreachEntry { (id, n) => out.writeLong(id); out.writeInt(n) }
      out.writeInt(reps.size)
      reps.foreachEntry { (h, r) =>
        out.writeInt(h.toInt); utf8(r.matchHash); out.writeInt(r.tag); out.writeInt(r.typ)
        out.writeInt(r.cards.length)
        r.cards.foreach { c =>
          out.writeLong(c.id); out.writeInt(c.variant); out.writeInt(c.slot)
        }
      }
      out.close()
      bytes.toByteArray
    }

    /** Folds one [[encode]]d partial into this one. */
    def merge(bytes: Array[Byte]): Unit = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      def utf8(): UTF8String = {
        val b = new Array[Byte](in.readInt())
        in.readFully(b)
        UTF8String.fromBytes(b)
      }
      def n[T: scala.reflect.ClassTag](f: => T): Array[T] = Array.fill(in.readInt())(f)
      val strId = n(intern(utf8()))
      def s(i: Int): Int = if (i < 0) -1 else strId(i)
      val cardId = n { val id = in.readLong(); card(id, s(in.readInt())) }
      // the second key part: 0 in (deck_type, 0), a card, or a string
      Seq[Int => Int](identity, s, cardId(_), s, s).zip(counters).foreach { case (second, m) =>
        n {
          val k = in.readLong()
          bump(m, pack(s(hi(k)), second(lo(k))), in.readLong(), in.readLong())
        }
      }
      n { val id = in.readLong(); keepName(id, s(in.readInt())) }
      n {
        val h = s(in.readInt())
        val (matchHash, tag, typ) = (utf8(), s(in.readInt()), s(in.readInt()))
        val rep = Rep(matchHash, tag, typ, n(Card(in.readLong(), s(in.readInt()), in.readInt())))
        if (beforeRep(h, matchHash, tag)) reps(h) = rep
      }
      ()
    }

    /** The eleven tables of this fold, each a LocalRelation with the
      * schema the distributed rollups had: group keys keep the
      * side columns' nullability, a deck's type and cards come from its
      * representative, and a sum is nullable where a count is not. */
    def snapshot(players: DataFrame): Snapshot = {
      val spark = players.sparkSession
      def f(name: String): StructField = sides(name)
      val obs = sides("cards").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      val repType = f("deck_type").copy(nullable = true)
      val uses = StructField("uses", LongType, nullable = false)
      val wins = StructField("wins", LongType)
      def frame(fields: StructField*)(rows: Iterator[Seq[Any]]): DataFrame =
        ColumnBridge.localFrame(spark, StructType(fields),
          rows.map(vs => new GenericInternalRow(vs.toArray): InternalRow).toVector)
      def counts(m: mutable.LongMap[Array[Long]])(key: Long => Seq[Any]): Iterator[Seq[Any]] =
        m.iterator.map { case (k, c) => key(k) ++ Seq(c(0), c(1)) }
      val fanOut = mutable.HashMap.empty[(Long, Int), Array[Long]]
      playerDeckUses.foreachEntry { (k, c) =>
        reps.get(lo(k)).foreach(r => r.cards.foreach { o =>
          val sum = fanOut.getOrElseUpdate((pack(hi(k), r.typ), card(o.id, o.variant)),
            new Array[Long](2))
          sum(0) += c(0)
          sum(1) += c(1)
        })
      }
      val nullsFirst: Ordering[UTF8String] = (a, b) =>
        if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
        else a.binaryCompare(b)
      Snapshot(
        players,
        frame(obs("card_id"), obs("card_name").copy(nullable = true))(
          names.iterator.map { case (id, n) => Seq(id, str(n)) }),
        frame(f("deck_hash"), repType)(
          reps.iterator.map { case (h, r) => Seq(str(h.toInt), str(r.typ)) }),
        frame(f("deck_hash"), obs("card_id"), obs("card_variant"), obs("slot"))(
          reps.iterator.flatMap { case (h, r) =>
            r.cards.iterator.map(o => Seq(str(h.toInt), o.id, str(o.variant), o.slot)) }),
        frame(f("player_tag"), f("deck_hash"), uses, wins)(
          counts(playerDeckUses)(k => Seq(str(hi(k)), str(lo(k))))),
        frame(repType)(reps.valuesIterator.map(r => str(r.typ)).distinct.toSeq
          .sorted(nullsFirst).iterator.map(Seq(_))),
        frame(f("deck_type"), uses, wins)(counts(typeUses)(k => Seq(str(hi(k))))),
        frame(f("deck_type"), f("deck_hash"), uses, wins)(
          counts(typeDeckUses)(k => Seq(str(hi(k)), str(lo(k))))),
        frame(f("deck_type"), obs("card_id"), obs("card_variant"), uses, wins)(
          counts(typeCardUses) { k =>
            val (id, variant) = cardKeys(lo(k))
            Seq(str(hi(k)), id, str(variant))
          }),
        frame(f("player_tag"), repType, obs("card_id"), obs("card_variant"),
            uses.copy(nullable = true), wins)(
          fanOut.iterator.map { case ((k, cardKey), c) =>
            val (id, variant) = cardKeys(cardKey)
            Seq(str(hi(k)), str(lo(k)), id, str(variant), c(0), c(1))
          }),
        frame(f("deck_type"), f("opp_deck_type"), uses, wins)(
          counts(matchupUses)(k => Seq(str(hi(k)), str(lo(k))))))
    }
  }

  private object RollupFold {
    final case class Card(id: Long, variant: Int, slot: Int)
    final case class Rep(matchHash: UTF8String, tag: Int, typ: Int, cards: Array[Card])

    def pack(hi: Int, lo: Int): Long = (hi.toLong << 32) | (lo & 0xffffffffL)
    def hi(key: Long): Int = (key >> 32).toInt
    def lo(key: Long): Int = key.toInt
  }
}
