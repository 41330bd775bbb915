package graft

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.DeckKernel
import graft.functions.{DomainFunctions => F, Hashing}
import graft.operators.{BattleOps, Classifier}
import graft.sources.CardMetadata
import graft.sources.CardMetadata.Card

/** [[DeckKernel]] ≡ the column formulation it replaced, field by field:
  * 8-card extraction and rejection (etl_snapshot_topn.py:77-108), the
  * canonical deck hash (:140-143) and the classifier cascade
  * (deck_type.py:38-152). The reference below is that formulation as it
  * stood, higher-order functions over literal metadata maps, kept here
  * only as the oracle. */
class DeckKernelSpec extends SparkSpecBase {

  // ---- the reference: the higher-order-function formulation -----------

  // `size` alone is the matchers' size
  private def arraySize(c: Column): Column = org.apache.spark.sql.functions.size(c)

  private def refDeckObs(cards: Column, nameById: Map[Long, String]): Column = {
    val nameMap =
      if (nameById.isEmpty) map()
      else map(nameById.toSeq.sortBy(_._1).flatMap {
        case (id, n) => Seq(lit(id), lit(n)) }: _*)
    val all = coalesce(cards, array())
    val first8 = slice(all, 1, 8)
    val obs = transform(first8, (c, i) => {
      val cid = c.getField("id").cast("long")
      struct(
        cid.as("card_id"),
        coalesce(nullif(trim(coalesce(c.getField("name"), lit(""))), lit("")),
          element_at(nameMap, cid), lit("")).as("card_name"),
        F.cardVariant(c.getField("evolutionLevel")).as("card_variant"),
        (i + 1).cast("int").as("slot"))
    })
    val valid = arraySize(all) >= 8 &&
      !exists(first8, c => c.getField("id").isNull) &&
      arraySize(array_distinct(transform(obs, o =>
        struct(o.getField("card_id"), o.getField("card_variant"))))) === 8
    when(valid, obs)
  }

  private def refDeckHashOf(obs: Column): Column =
    Hashing.deckHash(transform(obs, o => struct(
      o.getField("card_id").cast("string").as("_1"),
      o.getField("card_variant").as("_2"))))

  private def refClassifierNames(obs: Column): Column =
    filter(transform(obs, o => o.getField("card_name")), n => n =!= "")

  private def refClassifyDeck(cardNames: Column, meta: CardMetadata.Meta): Column = {
    val elixirMap =
      if (meta.elixirByName.isEmpty) map()
      else map(meta.elixirByName.toSeq.sortBy(_._1).flatMap {
        case (n, e) => Seq(lit(n), lit(e.toDouble)) }: _*)
    val elixirs = filter(
      transform(cardNames, n => element_at(elixirMap, n)),
      e => e.isNotNull)
    val nElixirs = arraySize(elixirs)
    val avgElixir = when(nElixirs === 0, lit(3.0))
      .otherwise(aggregate(elixirs, lit(0.0), (acc, e) => acc + e) / 8.0)
    val fourCycle = when(nElixirs === 0, lit(12.0))
      .otherwise(aggregate(slice(array_sort(elixirs), 1, 4), lit(0.0), (acc, e) => acc + e))
    def countFlag(names: Set[String]): Column =
      if (names.isEmpty) lit(0)
      else arraySize(filter(cardNames, n => n.isInCollection(names.toSeq.sorted)))
    when(cardNames.isNull || arraySize(cardNames) === 0, Classifier.Hybrid)
      .when(array_contains(cardNames, "X-Bow") || array_contains(cardNames, "Mortar"),
        Classifier.Siege)
      .when(countFlag(meta.baitNames) >= 3, Classifier.Bait)
      .when(fourCycle <= 9.0, Classifier.Cycle)
      .when(countFlag(meta.bridgeNames) >= 2, Classifier.BridgeSpam)
      .when(countFlag(meta.tankNames) >= 1 && avgElixir >= 3.5, Classifier.Beatdown)
      .otherwise(Classifier.Hybrid)
  }

  /** The reference deck: null when rejected, else (obs, hash, type). */
  private def refDeck(cards: Column, meta: CardMetadata.Meta): Column = {
    val obs = refDeckObs(cards, meta.nameById)
    when(obs.isNotNull, struct(obs.as("obs"), refDeckHashOf(obs).as("deck_hash"),
      refClassifyDeck(refClassifierNames(obs), meta).as("deck_type")))
  }

  // ---- fixtures ---------------------------------------------------------

  private val cardType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("evolutionLevel", IntegerType)))
  private val deckSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("cards", ArrayType(cardType))))

  private def card(id: Long, name: String, evo: Integer = 0): Row = Row(id, name, evo)

  /** Seeded metadata: ids 1..30, some without elixir, some flagged, two
    * siege names, one non-ASCII name; ids 31..40 are absent. */
  private def randomMeta(rnd: Random): CardMetadata.Meta =
    CardMetadata.Meta((1L to 30L).map { id =>
      val name = id match {
        case 1L => "X-Bow"
        case 2L => "Mortar"
        case 3L => "Électro Géant"
        case _ => s"Card$id"
      }
      Card(id, name, None, if (rnd.nextInt(6) == 0) None else Some(1 + rnd.nextInt(9)),
        isBigTank = rnd.nextInt(5) == 0, isBaitPiece = rnd.nextInt(4) == 0,
        isBridgeSpamPiece = rnd.nextInt(4) == 0)
    })

  private def randomCard(rnd: Random, meta: CardMetadata.Meta): Row =
    if (rnd.nextInt(60) == 0) null
    else {
      val id = 1L + rnd.nextInt(40)
      val metaName = meta.nameById.getOrElse(id, s"Unknown$id")
      val name = rnd.nextInt(10) match {
        case 0 => null
        case 1 => ""
        case 2 => "  "
        case 3 => s"  $metaName "
        case 4 => s"\t$metaName"
        case _ => metaName
      }
      val evo: Integer = rnd.nextInt(6) match {
        case 0 => null
        case 1 | 2 => 1
        case 3 => 2
        case 4 => 3
        case _ => 0
      }
      Row(if (rnd.nextInt(80) == 0) null else id, name, evo)
    }

  private def decks(rows: Seq[Seq[Row]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (cs, k) => Row(k, cs) }, 4), deckSchema)

  private def randomDecks(rnd: Random, meta: CardMetadata.Meta, n: Int): DataFrame =
    decks(Seq.fill(n) {
      // mostly 8, with short, long and null arrays mixed in
      rnd.nextInt(12) match {
        case 0 => null
        case 1 => Seq.fill(7)(randomCard(rnd, meta))
        case 2 => Seq.fill(9 + rnd.nextInt(3))(randomCard(rnd, meta))
        case _ => Seq.fill(8)(randomCard(rnd, meta))
      }
    })

  /** Every row's kernel struct and reference struct, by key. */
  private def bothSides(df: DataFrame, meta: CardMetadata.Meta): Seq[(Row, Row)] =
    df.select(col("k"), DeckKernel(col("cards"), meta.deck).as("kernel"),
        refDeck(col("cards"), meta).as("ref"))
      .collect().toSeq.sortBy(_.getInt(0))
      .map(r => (r.getAs[Row]("kernel"), r.getAs[Row]("ref")))

  private def withCodegen(mode: String)(body: => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val (wholeStage, factory) =
      if (mode == "codegen") ("true", "CODEGEN_ONLY") else ("false", "NO_CODEGEN")
    spark.conf.set(keys(0), wholeStage)
    spark.conf.set(keys(1), factory)
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- specs ------------------------------------------------------------

  for (mode <- Seq("codegen", "interpreted"))
    test(s"kernel ≡ reference field by field on seeded random decks ($mode)") {
      withCodegen(mode) {
        for (seed <- 1 to 3) {
          val rnd = new Random(seed)
          val meta = randomMeta(rnd)
          val pairs = bothSides(randomDecks(rnd, meta, 600), meta)
          pairs.count(_._2 != null) should be > 100
          pairs.count(_._2 == null) should be > 50
          pairs.foreach { case (k, r) =>
            if (r == null) k shouldBe null
            else {
              k.getAs[scala.collection.Seq[Row]]("obs") shouldBe r.getAs[scala.collection.Seq[Row]]("obs")
              k.getAs[String]("deck_hash") shouldBe r.getAs[String]("deck_hash")
              k.getAs[String]("deck_type") shouldBe r.getAs[String]("deck_type")
            }
          }
          // every archetype of the cascade is reached
          pairs.flatMap(p => Option(p._1)).map(_.getAs[String]("deck_type")).toSet shouldBe
            Set(Classifier.Siege, Classifier.Bait, Classifier.Cycle, Classifier.BridgeSpam,
              Classifier.Beatdown, Classifier.Hybrid)
        }
      }
    }

  private val meta8 = CardMetadata.Meta(
    Card(1, "X-Bow", None, Some(6), isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false) +:
      Card(9, "Géant", None, Some(5), isBigTank = true, isBaitPiece = false, isBridgeSpamPiece = false) +:
      (2L to 8L).map(i => Card(i, s"C$i", None, Some(4),
        isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false)))

  private def base: Seq[Row] = (2L to 9L).map(i => card(i, meta8.nameById(i)))

  test("edge decks: sizes, nulls, duplicates, padding, backfill, variants, defaults") {
    val cases: Seq[(String, Seq[Row])] = Seq(
      "7 cards" -> base.take(7),
      "10 cards" -> (base ++ Seq(card(1, "X-Bow"), card(31, "Extra"))),
      "null card in first 8" -> base.updated(3, null),
      "null card after 8" -> (base :+ null),
      "null id" -> base.updated(5, Row(null, "C7", 0)),
      "duplicate (id, variant)" -> base.updated(7, card(2, "C2")),
      "evo + normal of one id" -> base.updated(7, card(2, "C2", 1)),
      "hero + evo of one id" -> base.updated(6, card(2, "C2", 2)).updated(7, card(2, "C2", 1)),
      "space padded" -> base.updated(0, card(2, "  C2  ")),
      "tab padded" -> base.updated(0, card(2, "\tC2\t")).updated(1, card(3, " \tC3")),
      "empty name backfilled" -> base.updated(0, card(2, "")).updated(1, card(3, "   ")),
      "null name backfilled" -> base.updated(2, card(4, null)),
      "absent id, empty name" -> base.updated(0, card(40, "")),
      "absent id, named" -> base.updated(0, card(40, "Stranger")),
      "evolutionLevel null/1/2/3" -> base.updated(0, card(2, "C2", null))
        .updated(1, card(3, "C3", 1)).updated(2, card(4, "C4", 2)).updated(3, card(5, "C5", 3)),
      "no elixir metadata" -> (41L to 48L).map(i => card(i, s"U$i")),
      "all names empty, absent ids" -> (41L to 48L).map(i => card(i, "")),
      "non-ASCII names" -> base.updated(7, card(9, "")).updated(6, card(8, "Ünïcode ✓")),
      "siege by name" -> base.updated(0, card(1, "")))
    for (mode <- Seq("codegen", "interpreted")) withCodegen(mode) {
      val pairs = bothSides(decks(cases.map(_._2)), meta8)
      cases.map(_._1).zip(pairs).foreach { case (name, (k, r)) =>
        withClue(s"$name ($mode): ") {
          if (r == null) k shouldBe null
          else {
            k should not be null
            k.getAs[scala.collection.Seq[Row]]("obs") shouldBe r.getAs[scala.collection.Seq[Row]]("obs")
            k.getAs[String]("deck_hash") shouldBe r.getAs[String]("deck_hash")
            k.getAs[String]("deck_type") shouldBe r.getAs[String]("deck_type")
          }
        }
      }
      val rejected = cases.map(_._1).zip(pairs).collect { case (n, (null, _)) => n }.toSet
      rejected shouldBe Set("7 cards", "null card in first 8", "null id", "duplicate (id, variant)")
    }
  }

  test("kernel deck_hash equals Hashing.deckHash of the (id, variant) pairs") {
    val rnd = new Random(7)
    val meta = randomMeta(rnd)
    val out = randomDecks(rnd, meta, 300)
      .select(DeckKernel(col("cards"), meta.deck).as("d"))
      .filter(col("d").isNotNull)
      .select(col("d.deck_hash"), Hashing.deckHash(transform(col("d.obs"), o => struct(
        o.getField("card_id").as("_1"), o.getField("card_variant").as("_2")))))
      .collect()
    out.length should be > 100
    out.foreach(r => r.getString(0) shouldBe r.getString(1))
  }

  test("the public wrappers equal the reference: deckObs, deckHashOf, classifyDeck") {
    val rnd = new Random(11)
    val meta = randomMeta(rnd)
    val df = randomDecks(rnd, meta, 400)
    val obs = df.select(col("k"),
        BattleOps.deckObs(col("cards"), meta.nameById).as("o"),
        refDeckObs(col("cards"), meta.nameById).as("r"))
      .cache()
    try {
      obs.filter(!(col("o") <=> col("r"))).count() shouldBe 0L
      obs.filter(col("o").isNotNull)
        .filter(BattleOps.deckHashOf(col("o")) =!= refDeckHashOf(col("r"))
          || (Classifier.classifyDeck(BattleOps.classifierNames(col("o")), meta)
            =!= refClassifyDeck(refClassifierNames(col("r")), meta)))
        .count() shouldBe 0L
    } finally obs.unpersist()
    // classifyDeck over raw name arrays: nulls, empties, duplicates, null array
    val names = Seq.fill(300) {
      if (rnd.nextInt(20) == 0) null
      else Seq.fill(rnd.nextInt(10)) {
        rnd.nextInt(12) match {
          case 0 => null
          case 1 => ""
          case _ => meta.nameById.getOrElse(1L + rnd.nextInt(40), "Nope")
        }
      }
    }
    val nameDf = spark.createDataFrame(spark.sparkContext.parallelize(
      names.map(Row(_)), 2), StructType(Seq(StructField("n", ArrayType(StringType)))))
    nameDf.filter(Classifier.classifyDeck(col("n"), meta) =!= refClassifyDeck(col("n"), meta))
      .count() shouldBe 0L
    nameDf.select(Classifier.classifyDeck(col("n"), meta)).distinct().count() should be > 3L
  }

  test("plans carry the metadata by size, not by value") {
    val rnd = new Random(3)
    val meta = randomMeta(rnd)
    val plan = randomDecks(rnd, meta, 1)
      .select(DeckKernel(col("cards"), meta.deck)).queryExecution.analyzed.toString
    plan should include("card_metadata(30 cards)")
    plan should not include "Card17"
  }
}
