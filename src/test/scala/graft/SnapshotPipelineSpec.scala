package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.SnapshotPipeline
import graft.sources.{CardMetadata, Tables}
import graft.sources.CardMetadata.Card

/** End-to-end flagship ETL over synthetic battle logs, asserting the
  * reference's post-load invariants (validate_snapshot.py, SURVEY §5):
  * 8 cards per deck, 0 ≤ wins ≤ uses everywhere, non-empty meta, player
  * count, the topn ≤ meta ≤ 2·topn observation invariant — plus match
  * dedup, override application, and the directional matchup grain. */
class SnapshotPipelineSpec extends SparkSpecBase {

  private val meta = CardMetadata.Meta(
    Card(1, "X-Bow", None, Some(6), isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false) +:
      (2L to 16L).map(i => Card(i, s"C$i", None, Some(4),
        isBigTank = false, isBaitPiece = false, isBridgeSpamPiece = false)))

  private def part(tag: String, crowns: Int, cardIds: Seq[Long]): Row =
    Row(tag, crowns, cardIds.map(id =>
      Row(id, meta.nameById.getOrElse(id, ""), 0)))

  private val deckX: Seq[Long] = 1L to 8L   // contains X-Bow → Siege
  private val deckY: Seq[Long] = 9L to 16L  // → Hybrid
  private val deckZ: Seq[Long] = 2L to 9L   // → Hybrid

  private def battles: DataFrame = {
    val ranked = Row(72000006L, "Ranked1v1")
    val rows = Seq(
      // match1 from A's log and the SAME match from B's log (dup hash)
      Row("t1", "pathOfLegend", ranked, Seq(part("#A", 3, deckX)), Seq(part("#B", 1, deckY))),
      Row("t1", "pathOfLegend", ranked, Seq(part("#B", 1, deckY)), Seq(part("#A", 3, deckX))),
      // match2: draw between A and C
      Row("t2", "pathOfLegend", ranked, Seq(part("#A", 0, deckX)), Seq(part("#C", 0, deckZ))),
      // rejected: 2v2, wrong mode, 7-card deck
      Row("t3", "pathOfLegend", ranked,
        Seq(part("#A", 1, deckX), part("#D", 1, deckY)), Seq(part("#B", 0, deckZ))),
      Row("t4", "casual", Row(99L, "Casual"), Seq(part("#A", 1, deckX)), Seq(part("#B", 0, deckY))),
      Row("t5", "pathOfLegend", ranked, Seq(part("#B", 1, deckY.take(7))), Seq(part("#C", 0, deckZ)))
    )
    spark.createDataFrame(spark.sparkContext.parallelize(rows), Tables.battleSchema)
  }

  private def leaderboard: DataFrame = {
    import spark.implicits._
    Seq(("#A", "Alice", 1, 3300, 0), ("#B", "Bob", 2, 3200, 0),
      ("#C", "Cara", 3, 3100, 0)).toDF("tag", "name", "rank", "trophies", "eloRating")
  }

  private lazy val snap = SnapshotPipeline.build(spark, battles, leaderboard, meta, topN = 2)

  test("match dedup: duplicate battlelog entries collapse to one match") {
    // 2 valid matches × 2 sides = 4 observations
    snap.metaDeckTypes.agg(sum("uses")).head().getLong(0) shouldBe 4L
  }

  test("every deck has exactly 8 deck_cards rows (invariant 1)") {
    snap.deckCards.groupBy("deck_hash").count()
      .filter(col("count") =!= 8).count() shouldBe 0L
    snap.decks.count() shouldBe 3L
  }

  test("0 <= wins <= uses in every stats table (invariant 2)") {
    for (df <- Seq(snap.playerDecks, snap.metaDeckTypes, snap.metaTypeDeckIds,
        snap.metaTypeCards, snap.playerTypeCards, snap.metaTypeMatchups)) {
      df.filter(col("wins") < 0 || col("wins") > col("uses") || col("uses") < 0)
        .count() shouldBe 0L
    }
  }

  test("meta_deck_types non-empty with expected archetypes (invariant 3)") {
    val types = snap.metaDeckTypes.select("deck_type").collect().map(_.getString(0)).toSet
    types shouldBe Set("Siege", "Hybrid")
  }

  test("player count == topN (invariant 4)") {
    snap.players.count() shouldBe 2L
    snap.players.select("player_tag").collect().map(_.getString(0)).toSet shouldBe Set("#A", "#B")
  }

  test("topn_obs <= meta_obs <= 2*topn_obs (invariant 5)") {
    val topnObs = snap.playerDecks.agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
    val metaObs = snap.metaDeckTypes.agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
    topnObs shouldBe 3L // A×2 (match1, match2) + B×1; C excluded by topN
    assert(topnObs <= metaObs && metaObs <= 2 * topnObs)
  }

  test("directional matchup matrix: two rows per match, flipped win") {
    val m = snap.metaTypeMatchups.collect()
      .map(r => (r.getAs[String]("deck_type"), r.getAs[String]("opp_deck_type")) ->
        (r.getAs[Long]("uses"), r.getAs[Long]("wins"))).toMap
    m(("Siege", "Hybrid")) shouldBe ((2L, 1L)) // match1 won, match2 draw
    m(("Hybrid", "Siege")) shouldBe ((2L, 0L))
    m.values.map(_._1).sum shouldBe 4L
  }

  test("per-player facts: wins attributed to the winning side only") {
    val pd = snap.playerDecks.collect()
      .map(r => r.getAs[String]("player_tag") -> (r.getAs[Long]("uses"), r.getAs[Long]("wins"))).toMap
    pd("#A") shouldBe ((2L, 1L)) // won match1, drew match2
    pd("#B") shouldBe ((1L, 0L))
  }

  test("deck_type override replaces the classifier label") {
    val yHash = snap.decks.filter(col("deck_type") === "Hybrid")
      .join(snap.playerDecks.filter(col("player_tag") === "#B"), "deck_hash")
      .select("deck_hash").head().getString(0)
    val withOverride = SnapshotPipeline.build(spark, battles, leaderboard, meta,
      topN = 2, overrides = Map(yHash -> "Bait"))
    withOverride.decks.filter(col("deck_hash") === yHash)
      .select("deck_type").head().getString(0) shouldBe "Bait"
    withOverride.deckTypes.select("deck_type").collect().map(_.getString(0)).toSet should contain("Bait")
  }

  test("overrides from a scanned config TABLE match the literal-map path") {
    import spark.implicits._
    val yHash = snap.decks.filter(col("deck_type") === "Hybrid")
      .join(snap.playerDecks.filter(col("player_tag") === "#B"), "deck_hash")
      .select("deck_hash").head().getString(0)
    val fromMap = SnapshotPipeline.build(spark, battles, leaderboard, meta,
      topN = 2, overrides = Map(yHash -> "Bait"))
    // the table path: deck_type_overrides(deck_hash, deck_type) as the
    // reference re-reads from the warehouse each refresh (etl:150-159) —
    // plus a dirty duplicate row the groupBy-min must collapse
    val ovrTable = Seq((yHash, "Bait"), (yHash, "Bait"), ("no-such-hash", "Siege"))
      .toDF("deck_hash", "deck_type")
    val fromTable = SnapshotPipeline.buildWithOverridesTable(spark, battles,
      leaderboard, meta, topN = 2, overridesTable = ovrTable)
    fromTable.decks.filter(col("deck_hash") === yHash)
      .select("deck_type").head().getString(0) shouldBe "Bait"
    for ((name, df) <- fromTable.all) {
      val expected = fromMap.all(name)
      df.exceptAll(expected).count() shouldBe 0L
      expected.exceptAll(df).count() shouldBe 0L
    }
  }

  test("cards dim covers every observed card id with a non-empty name") {
    val ids = snap.cards.select("card_id").collect().map(_.getLong(0)).toSet
    ids shouldBe (1L to 16L).toSet
    snap.cards.filter(col("card_name") === "").count() shouldBe 0L
  }

  test("player_type_cards fan-out: 8 cards per (player, deck) row") {
    // uses sum = 8 × player_decks uses sum (each observation fans to 8 cards)
    val ptcUses = snap.playerTypeCards.agg(sum("uses")).head().getLong(0)
    ptcUses shouldBe 8L * 3L
  }

  test("incremental refresh: additiveMerge of per-batch rollups equals full recompute") {
    // batch boundary chosen so match dedup stays WITHIN a batch (both
    // copies of match1 land in batch A) — additiveMerge's disjointness
    // precondition; a production incremental pipeline dedups new battles
    // against the persisted match-hash set before aggregating
    val all = battles.collect().toSeq
    def df(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows), Tables.battleSchema)
    val batchA = df(all.take(2)) // match1 from both players' logs
    val batchB = df(all.drop(2)) // match2 + the rejected shapes
    val snapA = SnapshotPipeline.build(spark, batchA, leaderboard, meta, topN = 2)
    val snapB = SnapshotPipeline.build(spark, batchB, leaderboard, meta, topN = 2)
    val merged = graft.operators.Upsert.additiveMerge(
      snapA.metaDeckTypes, snapB.metaDeckTypes,
      keys = Seq("deck_type"), metrics = Seq("uses", "wins"))
    val full = snap.metaDeckTypes
    merged.exceptAll(full).count() shouldBe 0L
    full.exceptAll(merged).count() shouldBe 0L
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("graft_snap_").toString

  test("sides plan: one generator pass, no union, no higher-order function") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.Union
    import org.apache.spark.sql.execution.{SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val sides = SnapshotPipeline.sideObservations(battles, meta, Map.empty)
    sides.collect().length shouldBe 4
    def hofs(es: Seq[Expression]): Seq[Expression] = es.flatMap(_.collect {
      case e @ (_: ArrayTransform | _: ArrayFilter | _: ArrayAggregate | _: ArrayExists) => e
    })
    val helper = new AdaptiveSparkPlanHelper {}
    val executed: Seq[SparkPlan] = helper.collect(sides.queryExecution.executedPlan) { case p => p }
    executed.collect { case u: UnionExec => u } shouldBe empty
    hofs(executed.flatMap(_.expressions)) shouldBe empty
    val optimized = sides.queryExecution.optimizedPlan
    optimized.collect { case u: Union => u } shouldBe empty
    hofs(optimized.flatMap(_.expressions)) shouldBe empty
    // 3,735 analyzed expression nodes here in the higher-order form
    val nodes = sides.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    nodes.size should be < 1000
    // the tag check rides the generated rows' kept flag: no filter below
    // the generator normalizes a tag a second time
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
    val generators = executed.collect { case g: GenerateExec => g }
    generators should have size 1
    generators.flatMap(g => helper.collect(g.child) { case f: FilterExec => f })
      .flatMap(_.condition.collect { case e @ (_: Upper | _: StringTrim) => e }) shouldBe empty
    // the match dedup is a keep-any: one exchange on match_hash and one
    // sort within partitions, no aggregate buffering first(struct)
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    executed.collect { case a: SortAggregateExec => a } shouldBe empty
    executed.collect { case e: ShuffleExchangeExec => e } should have size 1
  }

  test("build + write runs no more Spark jobs than the serial write did") {
    val dir = tempDir()
    // 32 jobs at the serial-write parent commit and with the eleven
    // distributed rollups; 15 with the one rollup fold and one-task
    // writes; 2 (the fold's shuffle stage and its result) with the
    // driver-side writes and TopN ranking, measured by this spec, whose
    // leaderboard is a local frame
    jobsOf(SnapshotPipeline.build(spark, battles, leaderboard, meta, topN = 2).write(dir)) should
      be <= 2
  }

  /** Each table of `dir` as Spark reads it back: schema and rows. */
  private def readBack(dir: String): Map[String, DataFrame] =
    snap.all.keys.map(t => t -> spark.read.parquet(s"$dir/$t")).toMap

  test("the driver write reads back as Spark's writer does: rows and schema") {
    val driver = tempDir()
    val spark0 = tempDir()
    snap.write(driver)
    for ((t, df) <- snap.all) df.write.mode("overwrite").parquet(s"$spark0/$t")
    val expected = readBack(spark0)
    for ((t, got) <- readBack(driver)) withClue(t) {
      got.schema shouldBe expected(t).schema
      got.count() shouldBe snap.all(t).count()
      got.exceptAll(expected(t)).count() shouldBe 0L
      expected(t).exceptAll(got).count() shouldBe 0L
    }
    jobsOf(snap.write(driver)) shouldBe 0
  }

  test("overwriting stale files leaves one data file and no temp file") {
    val dir = tempDir()
    val stale = s"$dir/decks"
    spark.range(5).toDF("deck_hash").write.parquet(stale)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stale, "_temporary", "0"))
    for (f <- Seq("_SUCCESS", ".hidden", "_part-old.snappy.parquet"))
      java.nio.file.Files.write(java.nio.file.Paths.get(stale, f), Array[Byte](1))
    snap.write(dir)
    for (t <- snap.all.keys) withClue(t) {
      val names = new java.io.File(s"$dir/$t").list().toSeq
      val data = names.filterNot(n => n.startsWith("_") || n.startsWith("."))
      data should have size 1
      data.head should endWith(".parquet")
      // only the data file's checksum sidecar, as the local filesystem
      // keeps one beside every file it writes
      names.filter(n => n.startsWith("_") || n.startsWith("."))
        .filterNot(_ == s".${data.head}.crc") shouldBe empty
    }
    val decks = spark.read.parquet(stale)
    decks.exceptAll(snap.decks).count() shouldBe 0L
    snap.decks.exceptAll(decks).count() shouldBe 0L
  }

  test("a 0-row table reads back with its schema") {
    val empty = SnapshotPipeline.build(spark, battles.limit(0), leaderboard, meta, topN = 2)
    val dir = tempDir()
    empty.write(dir)
    for ((t, df) <- empty.all) withClue(t) {
      val got = spark.read.parquet(s"$dir/$t")
      got.schema.map(f => (f.name, f.dataType, f.nullable)) shouldBe
        df.schema.map(f => (f.name, f.dataType, true))
      got.count() shouldBe (if (t == "player") 2L else 0L)
    }
  }

  test("the Hybrid share reads the held meta_deck_types rows: no job") {
    // Siege 2 uses, Hybrid 2 uses
    val held = snap
    var share = -1.0
    jobsOf { share = SnapshotRunner.hybridShare(held) } shouldBe 0
    share shouldBe 0.5
  }

  test("validate reads every table with no schema-inference job") {
    val dir = tempDir()
    snap.write(dir)
    // 32 jobs with an inferred schema per read and a job per total; 14
    // under the frames' schemas with meta_deck_types' checks in one
    // aggregate, measured by this spec
    jobsOf(snap.validate(dir, topN = 2)) should be <= 14
  }

  test("a failing table write surfaces its own error; the other ten are written") {
    val dir = tempDir()
    val bad = snap.copy(metaTypeMatchups = spark.range(1).select(raise_error(lit("boom"))))
    def writers(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "snapshot-write").toSet
    }
    val e = intercept[Throwable](bad.write(dir))
    e should not be a[java.util.concurrent.ExecutionException]
    e.getMessage should include("boom")
    for ((name, df) <- bad.all - "meta_type_matchups")
      spark.read.parquet(s"$dir/$name").count() shouldBe df.count()
    writers() shouldBe empty
  }

  test("validate: a clean snapshot passes; each broken invariant fails alone") {
    import org.apache.commons.io.FileUtils
    val good = tempDir()
    snap.write(good)
    snap.validate(good, topN = 2) shouldBe empty
    def read(t: String): DataFrame = spark.read.parquet(s"$good/$t")
    val broken: Seq[(String, Seq[(String, DataFrame)], Int)] = Seq(
      ("deck_cards: every deck has exactly 8 rows",
        Seq("deck_cards" -> read("deck_cards").filter(col("slot") =!= 8)), 2),
      ("0 <= wins <= uses in all stats tables",
        Seq("meta_type_cards" -> read("meta_type_cards").withColumn("wins", col("uses") + 1)), 2),
      ("meta_deck_types non-empty",
        Seq("meta_deck_types" -> read("meta_deck_types").limit(0),
          "player_decks" -> read("player_decks").limit(0)), 2),
      ("player count <= topN", Nil, 1),
      ("topn_obs <= meta_obs <= 2*topn_obs",
        Seq("meta_deck_types" -> read("meta_deck_types").withColumn("uses", col("uses") * 3)
          .withColumn("wins", lit(0L))), 2),
      ("unknown-archetype ratio <= 0.30",
        Seq("meta_deck_types" -> read("meta_deck_types")
          .withColumn("deck_type", when(col("deck_type") === "Siege", "Unknown")
            .otherwise(col("deck_type")))), 2))
    for ((message, tables, topN) <- broken) withClue(message) {
      val dir = tempDir()
      FileUtils.copyDirectory(new java.io.File(good), new java.io.File(dir))
      for ((t, df) <- tables) df.write.mode("overwrite").parquet(s"$dir/$t")
      snap.validate(dir, topN) shouldBe Seq(message)
    }
  }
}
