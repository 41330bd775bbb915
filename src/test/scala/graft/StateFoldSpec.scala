package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.{CardStream, QuotaStream, StateFold}

/** The group-commit state-fold machinery ([[graft.streaming.StateFold]]):
  * flush cadence must not change WHAT is recorded (same table, markers
  * covering every folded batch), the driver-side card merge must be
  * bit-identical to the DataFrame merge law it mirrors, the
  * single-writer lease must fail a superseded writer fast, and the
  * lost-fold guard must fire exactly on committed-but-unapplied ids. */
class StateFoldSpec extends SparkSpecBase {
  import spark.implicits._

  test("driver-side card merge ≡ DataFrame mergeCards bit-for-bit") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    val a = CardStream.cardPartial(docs.filter(col("doc_id") % 2 === 0),
      SparkEntry.q130Weights, 64)
    val b = CardStream.cardPartial(docs.filter(col("doc_id") % 2 =!= 0),
      SparkEntry.q130Weights, 64)
    val local = CardStream.mergeCardsLocal(
      CardStream.collectCard(a), CardStream.collectCard(b), 64)
    val df = CardStream.collectCard(CardStream.mergeCards(64)(a, b))
    local shouldBe df
  }

  test("flush cadence is invisible: per-batch flushes ≡ one end flush, markers complete") {
    val batches = Seq(
      Seq((1L, "s1"), (2L, "s1"), (5L, "s2")).toDF("doc_id", "source"),
      Seq.empty[(Long, String)].toDF("doc_id", "source"), // folds nothing
      Seq((3L, "s1"), (6L, "s2"), (7L, "s2")).toDF("doc_id", "source"))
    def run(root: java.nio.file.Path, flushEvery: Int)
        : (Map[String, Long], Set[Long]) = {
      val state = root.resolve("state").toString
      val fold = QuotaStream.quotaFold(spark, state,
        root.resolve("out").toString, capPerSource = 2L, flushEvery)
      batches.zipWithIndex.foreach { case (b, i) => fold(b, i.toLong) }
      fold.flush()
      val counts = spark.read.parquet(state)
        .select("source", "admitted").as[(String, Long)].collect().toMap
      (counts, graft.operators.Upsert.appliedBatches(state))
    }
    val r1 = Files.createTempDirectory("graft_sf_every_")
    val r2 = Files.createTempDirectory("graft_sf_end_")
    try {
      val perBatch = run(r1, flushEvery = 1)
      val endOnly = run(r2, flushEvery = Int.MaxValue)
      perBatch shouldBe endOnly
      perBatch._1 shouldBe Map("s1" -> 2L, "s2" -> 2L)
      // the empty batch 1 is marker-annotated too (requireNoLostFolds
      // needs the applied set complete once a table exists)
      perBatch._2 shouldBe Set(0L, 1L, 2L)
    } finally {
      graft.operators.Maintenance.rmTree(r1.toFile)
      graft.operators.Maintenance.rmTree(r2.toFile)
    }
  }

  test("board and card folds: flush cadence is invisible too") {
    import graft.streaming.{CardStream, TopNStream}
    val batches = Seq(
      Seq((1L, "s1", 10L), (2L, "s1", 30L)).toDF("doc_id", "source", "n_chars"),
      Seq((3L, "s1", 20L), (4L, "s2", 5L)).toDF("doc_id", "source", "n_chars"))
    def boardRun(root: java.nio.file.Path, every: Int): Set[(String, Long, Long)] = {
      val state = root.resolve("board").toString
      val fold = TopNStream.boardFold(spark, state, n = 2, "n_chars", every)
      batches.zipWithIndex.foreach { case (b, i) => fold(b, i.toLong) }
      fold.flush()
      TopNStream.readBoard(spark, state)
        .as[(String, Long, Long)].collect().toSet
    }
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
    def cardRun(root: java.nio.file.Path, every: Int): Seq[org.apache.spark.sql.Row] = {
      val state = root.resolve("card").toString
      val fold = CardStream.cardFold(spark, state, SparkEntry.q130Weights,
        k = 64, flushEvery = every)
      fold(docs.filter(col("doc_id") % 2 === 0), 0L)
      fold(docs.filter(col("doc_id") % 2 =!= 0), 1L)
      fold.flush()
      CardStream.readCard(spark, state, k = 64).orderBy("source").collect().toSeq
    }
    val roots = Seq.fill(4)(Files.createTempDirectory("graft_sf_bc_"))
    try {
      boardRun(roots(0), 1) shouldBe boardRun(roots(1), Int.MaxValue)
      boardRun(roots(0), 1) shouldBe Set(("s1", 2L, 30L), ("s1", 3L, 20L),
        ("s2", 4L, 5L))
      cardRun(roots(2), 1) shouldBe cardRun(roots(3), Int.MaxValue)
    } finally roots.foreach(r => graft.operators.Maintenance.rmTree(r.toFile))
  }

  test("second writer takes the lease; the superseded fold's flush fails fast") {
    import graft.streaming.{EventStreams, GramianStream, ModelStream, TopNStream}
    // each group-commit fold: a factory over a state path, and a batch
    // that changes its state
    val folds: Seq[(String, String => StateFold, org.apache.spark.sql.DataFrame)] = Seq(
      ("quota", st => QuotaStream.quotaFold(spark, st, st + "_out",
        capPerSource = 2L), docs(1L)),
      ("top-N", st => TopNStream.boardFold(spark, st, n = 2, "n_chars"),
        docs(1L)),
      ("card", st => CardStream.cardFold(spark, st, SparkEntry.q130Weights,
        k = 8), docs(1L)),
      ("model", st => ModelStream.modelFold(spark, st, nBuckets = 64,
        col("text")), docs(1L)),
      ("gramian", st => GramianStream.gramianFold(spark, st, scale = 1e6,
        col("embedding")), vecs(1L)),
      ("cms", st => EventStreams.cmsFold(spark, st, col("doc_id"),
        depth = 3, width = 64), docs(1L)))
    folds.foreach { case (what, fold, batch) =>
      withClue(s"$what: ") {
        val root = Files.createTempDirectory("graft_sf_lease_")
        try {
          val state = root.resolve("state").toString
          val first = fold(state)
          first(batch, 0L)
          // a second factory against the SAME state path supersedes the
          // lease
          val second = fold(state)
          val e = intercept[IllegalArgumentException] { first.flush() }
          e.getMessage should include("leased to another session")
          e.getMessage should include(s"$what state at $state")
          // the live writer is unaffected: its table is exactly what a
          // lone writer of the same batch leaves
          second(batch, 0L)
          second.flush()
          val lone = root.resolve("lone").toString
          val ref = fold(lone)
          ref(batch, 0L)
          ref.flush()
          def rows(p: String) =
            spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
          rows(state) should not be empty
          rows(state) shouldBe rows(lone)
          graft.operators.Upsert.appliedBatches(state) shouldBe Set(0L)
        } finally graft.operators.Maintenance.rmTree(root.toFile)
      }
    }
  }

  /** Move `df` as ONE parquet file into `landing/name`, mtime `mod`
    * (the file source picks files up in mtime order). */
  private def land(landing: java.nio.file.Path,
      df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
    val stage = Files.createTempDirectory("graft_sf_stage_")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, landing.resolve(name))
    landing.resolve(name).toFile.setLastModified(mod)
    graft.operators.Maintenance.rmTree(stage.toFile)
  }

  /** Two landing files, one per trigger under `maxFilesPerTrigger = 1`. */
  private def landTwo(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame)(landing: java.nio.file.Path): Unit = {
    land(landing, a, "a.parquet", 1000000L)
    land(landing, b, "b.parquet", 2000000L)
  }

  private def docs(ids: Long*) = ids.map(i =>
      (i, s"s${i % 2}", i * 10L, s"alpha beta gamma doc$i delta"))
    .toDF("doc_id", "source", "n_chars", "text")

  private def vecs(ids: Long*) = ids.map(i => (i, Seq(1.0f, i.toFloat)))
    .toDF("vec_id", "embedding")

  /** Events in the legacy long-nanos `ts` encoding
    * ([[graft.streaming.EventStreams.eventSchema]]), 2023-11. */
  private def events(ids: Long*) = ids.map(i =>
      (i, 1700000000000000000L + i * 1000000000L, i % 3, "click", 1.0, "{}"))
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Each group-commit fold runner: its name, how to land its two input
    * files, and a run over (landing, state, checkpointDir). */
  private def foldRunners: Seq[(String, java.nio.file.Path => Unit,
      (String, String, Option[String]) => Unit)] = {
    import graft.streaming.{EventStreams, GramianStream, ModelStream, TopNStream}
    val landDocs = landTwo(docs(1L, 2L, 3L), docs(4L, 5L)) _
    Seq(
      ("top-N", landDocs, (l, s, c) => {
        TopNStream.runTopN(spark, l, s, n = 2, scoreCol = "n_chars",
          maxFilesPerTrigger = Some(1), checkpointDir = c)
        ()
      }),
      ("quota", landDocs, (l, s, c) => {
        QuotaStream.runQuotaAdmission(spark, l, s, s + "_out",
          capPerSource = 2L, maxFilesPerTrigger = Some(1), checkpointDir = c)
        ()
      }),
      ("card", landDocs, (l, s, c) =>
        CardStream.runCardStream(spark, l, s, SparkEntry.q130Weights, k = 8,
          maxFilesPerTrigger = Some(1), checkpointDir = c)),
      ("model", landDocs, (l, s, c) =>
        ModelStream.runModelStream(spark, l, s, nBuckets = 64,
          maxFilesPerTrigger = Some(1), checkpointDir = c)),
      ("gramian", landTwo(vecs(1L, 2L), vecs(3L)) _, (l, s, c) =>
        GramianStream.runGramianStream(spark, l, s,
          maxFilesPerTrigger = Some(1), checkpointDir = c)),
      ("cms", landTwo(events(1L, 2L, 3L), events(4L, 5L)) _, (l, s, c) =>
        EventStreams.streamingCmsCells(spark, l, s, col("user_id"),
          depth = 3, width = 64, maxFilesPerTrigger = Some(1),
          checkpointDir = c)))
  }

  /** `f(landing, state, checkpoint)`: paths in a fresh root whose
    * landing dir holds `landIn`'s files; the root is deleted after. */
  private def withLanding[A](landIn: java.nio.file.Path => Unit)(
      f: (String, String, String) => A): A = {
    val root = Files.createTempDirectory("graft_sf_run_")
    try {
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      landIn(landing)
      f(landing.toString, root.resolve("state").toString,
        root.resolve("ckpt").toString)
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("a runner refuses a durable continuation whose state lost a fold") {
    foldRunners.foreach { case (what, landIn, run) =>
      withClue(s"$what: ") {
        withLanding(landIn) { (landing, state, ckpt) =>
          run(landing, state, Some(ckpt))
          // simulate a crash-lost fold: strike batch 1 from the applied
          // markers while the checkpoint still shows it committed — the
          // next durable continuation must fail loudly, not serve state
          // missing that batch's fold
          // rewrite through Fs (Hadoop local FS is checksummed — a raw
          // nio write would leave a stale .crc sidecar)
          graft.operators.Fs.writeText(s"$state/_graft_applied_batches", "0\n")
          val e = intercept[IllegalArgumentException] {
            run(landing, state, Some(ckpt))
          }
          e.getMessage should include("missing the folds")
        }
      }
    }
  }

  test("each fold runner's two-file scratch run takes a pinned number " +
      "of Spark jobs") {
    val counts = foldRunners.map { case (what, landIn, run) =>
      what -> withLanding(landIn) { (landing, state, _) =>
        jobsOf(run(landing, state, None))
      }
    }
    // each batch's one fold job (plus its shuffle-map job under AQE
    // where the fold shuffles — the board's per-partition top-n does
    // not), the session-end flush, and the runner's own result read,
    // under the schema it was written with (no footer-inference job);
    // the landing schema is a driver-side footer read (no job). The
    // parent commit of these pins measured top-N 4, quota 9, model 6
    // and gramian 6 (the landing probe was a job), and before it top-N
    // 7 and quota 10.
    counts shouldBe Seq("top-N" -> 3, "quota" -> 8, "card" -> 5,
      "model" -> 5, "gramian" -> 5, "cms" -> 6)
  }

  test("a fold runner whose batch throws leaves no scratch checkpoint behind") {
    val scratch = {
      val probe = graft.streaming.EventStreams.scratchDir("graft_sf_probe_")
      graft.operators.Maintenance.rmTree(probe.toFile)
      probe.getParent.toFile
    }
    def ckpts = Option(scratch.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft_ckpt_")).toSet
    val before = ckpts
    // an unreadable landing file: the schema probe falls back to the
    // default landing schema, so the stream starts and its first batch
    // throws
    withLanding { landing =>
      Files.write(landing.resolve("a.parquet"), "not parquet".getBytes); ()
    } { (landing, state, _) =>
      an[Exception] should be thrownBy
        graft.streaming.TopNStream.runTopN(spark, landing, state, n = 2,
          scoreCol = "n_chars")
    }
    ckpts -- before shouldBe empty
  }

  test("requireNoLostFolds fires on committed-but-unapplied ids, passes otherwise") {
    val root = Files.createTempDirectory("graft_sf_lost_")
    try {
      val state = root.resolve("state").toString
      val ckpt = root.resolve("ckpt")
      Files.createDirectories(ckpt.resolve("commits"))
      Seq("0", "1").foreach(n =>
        Files.writeString(ckpt.resolve("commits").resolve(n), "{}"))
      // state absent + committed batches: the total-loss form (a
      // pre-prime session died before its evidence write, or the table
      // was removed out-of-band) — loud, never silent
      val e0 = intercept[IllegalArgumentException] {
        StateFold.requireNoLostFolds(state, ckpt.toString, "quota")
      }
      e0.getMessage should include("no quota state table")
      // fold + flush batch 0 only — batch 1's fold "died in memory"
      val fold = QuotaStream.quotaFold(spark, state,
        root.resolve("out").toString, capPerSource = 2L, flushEvery = 1)
      fold(Seq((1L, "s1")).toDF("doc_id", "source"), 0L)
      val e = intercept[IllegalArgumentException] {
        StateFold.requireNoLostFolds(state, ckpt.toString, "quota")
      }
      e.getMessage should include("committed batches 1")
      // after batch 1 is folded and flushed the continuation is clean
      fold(Seq((2L, "s1")).toDF("doc_id", "source"), 1L)
      StateFold.requireNoLostFolds(state, ckpt.toString, "quota")
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("first-flush crash window is closed: a durable session dying " +
      "before ANY flush fails the next continuation loudly") {
    val root = Files.createTempDirectory("graft_sf_prime_")
    try {
      val state = root.resolve("state").toString
      val ckpt = root.resolve("ckpt")
      Files.createDirectories(ckpt.resolve("commits"))
      // session 1 (durable cadence = finite flushEvery): construction
      // primes the zero-row evidence table BEFORE any batch
      val fold = QuotaStream.quotaFold(spark, state,
        root.resolve("out").toString, capPerSource = 2L,
        flushEvery = StateFold.DefaultFlushEvery)
      graft.operators.Fs.exists(state) shouldBe true
      spark.read.parquet(state).count() shouldBe 0L
      // batch 0 folds, the checkpoint commits it... and the session
      // dies before its first flush (no fold.flush())
      fold(Seq((1L, "s1")).toDF("doc_id", "source"), 0L)
      Files.writeString(ckpt.resolve("commits").resolve("0"), "{}")
      // session 2's start guard: the zero-row table's EMPTY applied set
      // exposes the committed-but-never-flushed batch 0
      val e = intercept[IllegalArgumentException] {
        StateFold.requireNoLostFolds(state, ckpt.toString, "quota")
      }
      e.getMessage should include("committed batches 0")
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("an empty-only durable first session still markers its batches — " +
      "the healthy continuation is not mistaken for a loss") {
    val root = Files.createTempDirectory("graft_sf_empty1_")
    try {
      val state = root.resolve("state").toString
      val ckpt = root.resolve("ckpt")
      Files.createDirectories(ckpt.resolve("commits"))
      Seq("0", "1").foreach(n =>
        Files.writeString(ckpt.resolve("commits").resolve(n), "{}"))
      // session 1: every batch folds nothing, clean end (flush). The
      // primed table means the flush is NOT skipped — both ids get
      // applied markers even though no data ever arrived.
      val fold = QuotaStream.quotaFold(spark, state,
        root.resolve("out").toString, capPerSource = 2L,
        flushEvery = StateFold.DefaultFlushEvery)
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "source")
      fold(empty, 0L); fold(empty, 1L); fold.flush()
      graft.operators.Upsert.appliedBatches(state) shouldBe Set(0L, 1L)
      // session 2's start guard passes: nothing was lost
      StateFold.requireNoLostFolds(state, ckpt.toString, "quota")
      // and the zero-row table carries no budget evidence — a fresh
      // fold under the same cap constructs cleanly
      QuotaStream.quotaFold(spark, state, root.resolve("out2").toString,
        capPerSource = 2L, flushEvery = StateFold.DefaultFlushEvery)
      // so does one over zero-row evidence primed with a markers-only
      // schema (no p_cap column)
      val narrow = root.resolve("narrow").toString
      StateFold.primeMarkerEvidence(spark, narrow, StructType(Seq(
        StructField("source", StringType), StructField("admitted", LongType))))
      QuotaStream.quotaFold(spark, narrow, root.resolve("out3").toString,
        capPerSource = 2L)
      ()
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("the durable flag primes marker evidence even with an infinite " +
      "flush cadence — priming and the restart guard key on one condition") {
    val root = Files.createTempDirectory("graft_sf_durflag_")
    try {
      // a durable fold with flushEvery = MaxValue (flush only at session
      // end) used to skip priming — keyed on the cadence, not the
      // durability — so a clean empty session left no table and the
      // restart's requireNoLostFolds read its committed ids as loss
      val q = root.resolve("q").toString
      QuotaStream.quotaFold(spark, q, root.resolve("qo").toString,
        capPerSource = 2L, flushEvery = Int.MaxValue, durable = true)
      graft.operators.Fs.exists(q) shouldBe true
      spark.read.parquet(q).count() shouldBe 0L
      val b = root.resolve("b").toString
      graft.streaming.TopNStream.boardFold(spark, b, n = 3,
        scoreCol = "score", flushEvery = Int.MaxValue, durable = true)
      graft.operators.Fs.exists(b) shouldBe true
      val c = root.resolve("c").toString
      CardStream.cardFold(spark, c, SparkEntry.q130Weights, k = 8,
        flushEvery = Int.MaxValue, durable = true)
      graft.operators.Fs.exists(c) shouldBe true
      // non-durable scratch folds still never prime (a restart replays
      // everything; the write would be pure fixed cost)
      val s = root.resolve("s").toString
      QuotaStream.quotaFold(spark, s, root.resolve("so").toString,
        capPerSource = 2L)
      graft.operators.Fs.exists(s) shouldBe false
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("quota fold past the collect cap: the executor-side fallback " +
      "writes the identical admitted set and state") {
    val batches = Seq(
      Seq((1L, "s1"), (2L, "s1"), (5L, "s2")).toDF("doc_id", "source"),
      Seq((3L, "s1"), (6L, "s2"), (7L, "s2")).toDF("doc_id", "source"))
    def run(root: java.nio.file.Path, cap: Int)
        : (Map[String, Long], Set[(String, Long, Long)]) = {
      val state = root.resolve("state").toString
      val out = root.resolve("out").toString
      val fold = QuotaStream.quotaFold(spark, state, out,
        capPerSource = 2L, collectCap = cap)
      batches.zipWithIndex.foreach { case (b, i) => fold(b, i.toLong) }
      fold.flush()
      val counts = spark.read.parquet(state)
        .select("source", "admitted").as[(String, Long)].collect().toMap
      val rows = spark.read.option("recursiveFileLookup", "true")
        .parquet(out).select("source", "doc_id", "rk")
        .as[(String, Long, Long)].collect().toSet
      (counts, rows)
    }
    val r1 = Files.createTempDirectory("graft_sf_cap_hi_")
    val r2 = Files.createTempDirectory("graft_sf_cap_lo_")
    try {
      val collected = run(r1, QuotaStream.AdmitCollectCap)
      val fallback = run(r2, 0) // every non-empty batch exceeds cap 0
      fallback shouldBe collected
      collected._1 shouldBe Map("s1" -> 2L, "s2" -> 2L)
    } finally {
      graft.operators.Maintenance.rmTree(r1.toFile)
      graft.operators.Maintenance.rmTree(r2.toFile)
    }
  }
}
