package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.AdmissionStream

/** Streaming admission ≡ the sequential batch admission loop: each
  * micro-batch admits against standing index + all earlier admissions. */
class AdmissionStreamSpec extends SparkSpecBase {
  import spark.implicits._

  test("onBatchAdmitted observer sees ONLY admitted rows, with every landing column, exactly once per batch id") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    val root = Files.createTempDirectory("graft_admit_hook_")
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val indexPath = root.resolve("index").toString
    def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
      val stage = Files.createTempDirectory("graft_admit_hstage_")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      landing.resolve(name).toFile.setLastModified(mod)
      ()
    }
    // land FULL document rows — the observer's contract is every landing
    // column, not the (doc_id, text) the admission loop itself consumes
    land(docs.filter(isNew && splitA), "a.parquet", 1000000L)
    land(docs.filter(isNew && !splitA), "b.parquet", 2000000L)
    try {
      Dedup.nearDupIndex(standing, col("doc_id"), col("text"),
          shingleN = 3, k = 8, rowsPerBand = 2)
        .write.mode("overwrite").parquet(s"$indexPath/seed")
      val seen = scala.collection.mutable.Map.empty[Long, (Set[Long], Seq[String])]
      val admitted = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, root.resolve("out").toString,
          shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
          maxFilesPerTrigger = Some(1),
          onBatchAdmitted = Some((df, id) => {
            seen(id) = (df.select("doc_id").as[Long].collect().toSet,
              df.columns.toSeq)
            ()
          }))
        .select("doc_id").as[Long].collect().toSet
      seen.keySet shouldBe Set(0L, 1L)
      // the per-batch views partition the admitted set exactly
      seen(0L)._1.union(seen(1L)._1) shouldBe admitted
      seen(0L)._1.intersect(seen(1L)._1) shouldBe empty
      // full landing schema rides through to the observer
      seen(0L)._2 should contain allOf ("doc_id", "source", "n_chars", "text")
    } finally {
      graft.operators.Maintenance.rmTree(root.toFile)
      spark.catalog.clearCache()
    }
  }

  test("tombstone-pressure fold: deletes past the ratio fire exactly one session-start fold, admissions unchanged; below it nothing folds") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    def setup(pointer: Boolean = false): java.nio.file.Path = {
      val root = Files.createTempDirectory("graft_admit_theta_")
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
        val stage = Files.createTempDirectory("graft_admit_tstage_")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, landing.resolve(name))
        landing.resolve(name).toFile.setLastModified(mod)
        ()
      }
      land(docs.filter(isNew && splitA).select(col("doc_id"), col("text")),
        "a.parquet", 1000000L)
      land(docs.filter(isNew && !splitA).select(col("doc_id"), col("text")),
        "b.parquet", 2000000L)
      val ix = root.resolve("index").toString
      def writeSeed(base: String): Unit =
        Dedup.nearDupIndex(standing, col("doc_id"), col("text"),
            shingleN = 3, k = 8, rowsPerBand = 2)
          .write.mode("overwrite").parquet(s"$base/seed")
      if (pointer) { graft.operators.Fs.publishGeneration(ix)(writeSeed); () }
      else writeSeed(ix)
      // a fifth of the standing corpus deleted (replayed — set semantics);
      // on a pointer root the delete resolves INTO the current generation
      val deleted = standing.filter(col("doc_id") % 5 === 2).select(col("doc_id"))
      Dedup.deleteFromNearDupIndex(deleted, ix)
      Dedup.deleteFromNearDupIndex(deleted, ix)
      root
    }
    def run(root: java.nio.file.Path, theta: Option[Double]): Set[Long] =
      AdmissionStream.runAdmission(spark, root.resolve("landing").toString,
          root.resolve("index").toString, root.resolve("out").toString,
          shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
          maxFilesPerTrigger = Some(1),
          compactWhenTombstoneRatio = theta)
        .select("doc_id").as[Long].collect().toSet
    val rootA = setup(); val rootB = setup(); val rootC = setup()
    try {
      val tombsOf = (root: java.nio.file.Path) =>
        graft.operators.Fs.exists(
          s"${root.resolve("index")}/${graft.operators.Fs.TombstonesSubdir}")
      // ~20% deleted: past θ=0.1 → the session-start fold fires ONCE —
      // the tombstone table is folded away and the seed tree flattened
      val folded = run(rootA, Some(0.1))
      tombsOf(rootA) shouldBe false
      new java.io.File(rootA.resolve("index").toString).list().toSeq
        .filter(_ == "seed") shouldBe empty
      // below θ=0.9: nothing folds, probes keep paying the mask
      val masked = run(rootB, Some(0.9))
      tombsOf(rootB) shouldBe true
      // no knob at all: the reference behavior
      val plain = run(rootC, None)
      tombsOf(rootC) shouldBe true
      // physical fold ≡ tombstone mask ≡ no knob — admissions identical
      folded shouldBe plain
      masked shouldBe plain
      // POINTER-COMMITTED root: tombstones live INSIDE the current
      // generation, so the pressure probe must resolve it (a root-level
      // probe silently never fired); the fired fold publishes gen-2 and
      // the session admits against it — identical set
      val rootD = setup(pointer = true)
      val rootE = setup(pointer = true)
      try {
        val ixD = rootD.resolve("index").toString
        val ixE = rootE.resolve("index").toString
        // past θ: the fold fires, publishes gen-2, and the session
        // admits against it — identical set
        run(rootD, Some(0.1)) shouldBe plain
        val cur = graft.operators.Fs.currentGeneration(ixD).get
        cur should endWith("gen-2")
        graft.operators.Fs.exists(
          s"$cur/${graft.operators.Fs.TombstonesSubdir}") shouldBe false
        // the batch fold-backs landed inside the current generation
        graft.operators.Fs.listNames(cur)
          .count(_.startsWith("batch-")) should be >= 1
        // BELOW θ on a (fresh) pointer root: the tombstones stand inside
        // gen-1 and the session must still MASK them — a root-level
        // tombstone read silently skipped the mask, so deleted standing
        // docs kept suppressing matching batch docs
        run(rootE, Some(0.9)) shouldBe plain
        graft.operators.Fs.exists(
          s"${graft.operators.Fs.currentGeneration(ixE).get}/" +
            graft.operators.Fs.TombstonesSubdir) shouldBe true
        // mid-stream in-place folds would mutate a published generation —
        // refused on pointer roots
        val ePtr = intercept[IllegalArgumentException] {
          AdmissionStream.runAdmission(spark,
            rootD.resolve("landing").toString, ixD,
            rootD.resolve("out2").toString, shingleN = 3, k = 8,
            rowsPerBand = 2, threshold = 0.4, maxFilesPerTrigger = Some(1),
            compactEvery = Some(1))
        }
        ePtr.getMessage should include("pointer-committed")
      } finally {
        graft.operators.Maintenance.rmTree(rootD.toFile)
        graft.operators.Maintenance.rmTree(rootE.toFile)
      }
    } finally {
      Seq(rootA, rootB, rootC).foreach(r =>
        graft.operators.Maintenance.rmTree(r.toFile))
      spark.catalog.clearCache()
    }
  }

  test("streaming admission equals sequential batch admission over the same file sequence") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    // the stream: two landing files in mod-time order, one per micro-batch
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    val batchA = docs.filter(isNew && splitA)
    val batchB = docs.filter(isNew && !splitA)

    val root = Files.createTempDirectory("graft_admit_spec_")
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val indexPath = root.resolve("index").toString
    val outPath = root.resolve("out").toString
    def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
      val stage = Files.createTempDirectory("graft_admit_stage_")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      landing.resolve(name).toFile.setLastModified(mod)
      ()
    }
    land(batchA, "a.parquet", 1000000L)
    land(batchB, "b.parquet", 2000000L)
    try {
      // seed: the standing corpus's materialized signature index
      Dedup.nearDupIndex(standing, col("doc_id"), col("text"),
          shingleN = 3, k = 8, rowsPerBand = 2)
        .write.mode("overwrite").parquet(s"$indexPath/seed")

      val streamed = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, outPath, shingleN = 3, k = 8, rowsPerBand = 2,
          threshold = 0.4, maxFilesPerTrigger = Some(1))
        .select("doc_id").as[Long].collect().toSet

      // batch truth: admit A against the seed, fold A's admissions into
      // the index, admit B against both
      val ix0 = Dedup.nearDupIndex(standing, col("doc_id"), col("text"), 3, 8, 2)
      val admitA = batchA.join(
        Dedup.admitNewDocsWithIndex(batchA.select(col("doc_id"), col("text")),
          ix0, col("doc_id"), col("text"), 3, 8, 2, 0.4),
        Seq("doc_id"), "left_semi")
      val ix1 = ix0.unionByName(
        Dedup.nearDupIndex(admitA, col("doc_id"), col("text"), 3, 8, 2))
      val admitB = Dedup.admitNewDocsWithIndex(
        batchB.select(col("doc_id"), col("text")),
        ix1, col("doc_id"), col("text"), 3, 8, 2, 0.4)
      val expected = (admitA.select("doc_id").as[Long].collect() ++
        admitB.select("doc_id").as[Long].collect()).toSet

      streamed shouldBe expected
      streamed.nonEmpty shouldBe true
      // every admitted batch extended the index (seed + 2 batches)
      new java.io.File(indexPath).listFiles().count(_.isDirectory) shouldBe 3

      // REPLAY idempotence (the exactly-once claim, exercised): a full
      // re-invocation against the same index/out dirs restarts batchIds
      // at 0, so every batch re-probes an index that ALREADY holds its
      // own prior signatures — the probe's self-exclusion of
      // batch-<id> is what keeps each doc from band-matching itself
      // (Jaccard 1.0) and being silently dropped on the overwrite.
      val replayed = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, outPath, shingleN = 3, k = 8, rowsPerBand = 2,
          threshold = 0.4, maxFilesPerTrigger = Some(1))
        .select("doc_id").as[Long].collect().toSet
      replayed shouldBe expected
      // the replay overwrote its subdirs rather than appending new ones
      new java.io.File(indexPath).listFiles().count(_.isDirectory) shouldBe 3
    } finally {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
      spark.catalog.clearCache()
    }
  }

  test("durable checkpoint continues across sessions: fresh batch ids, standing batches survive, union equals sequential") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    val batchA = docs.filter(isNew && splitA)
    val batchB = docs.filter(isNew && !splitA)
    val root = Files.createTempDirectory("graft_admit_durable_")
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val indexPath = root.resolve("index").toString
    val outPath = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
      val stage = Files.createTempDirectory("graft_admit_dstage_")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      landing.resolve(name).toFile.setLastModified(mod)
      ()
    }
    try {
      Dedup.nearDupIndex(standing, col("doc_id"), col("text"),
          shingleN = 3, k = 8, rowsPerBand = 2)
        .write.mode("overwrite").parquet(s"$indexPath/seed")
      // session 1: only file a has landed
      land(batchA, "a.parquet", 1000000L)
      AdmissionStream.runAdmission(spark, landing.toString, indexPath,
        outPath, shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
        maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
      // session 2: file b lands; the SAME durable checkpoint skips a
      // and assigns b the NEXT id — no clobber, no sweep casualty
      land(batchB, "b.parquet", 2000000L)
      val all = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, outPath, shingleN = 3, k = 8, rowsPerBand = 2,
          threshold = 0.4, maxFilesPerTrigger = Some(1),
          checkpointDir = Some(ckpt))
        .select("doc_id").as[Long].collect().toSet
      new java.io.File(outPath).listFiles().map(_.getName)
        .filter(_.startsWith("batch-")).toSet shouldBe Set("batch-0", "batch-1")
      // union equals the sequential batch truth (the first test's oracle)
      val ix0 = Dedup.nearDupIndex(standing, col("doc_id"), col("text"), 3, 8, 2)
      val admitA = batchA.join(
        Dedup.admitNewDocsWithIndex(batchA.select(col("doc_id"), col("text")),
          ix0, col("doc_id"), col("text"), 3, 8, 2, 0.4),
        Seq("doc_id"), "left_semi")
      val ix1 = ix0.unionByName(
        Dedup.nearDupIndex(admitA, col("doc_id"), col("text"), 3, 8, 2))
      val admitB = Dedup.admitNewDocsWithIndex(
        batchB.select(col("doc_id"), col("text")),
        ix1, col("doc_id"), col("text"), 3, 8, 2, 0.4)
      val expected = (admitA.select("doc_id").as[Long].collect() ++
        admitB.select("doc_id").as[Long].collect()).toSet
      all shouldBe expected
      all.nonEmpty shouldBe true
    } finally {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
      spark.catalog.clearCache()
    }
  }

  test("index compaction mid-stream leaves admissions identical and the tree bounded") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    def stage(compactEvery: Option[Int]): (Set[Long], Int, Int) = {
      val root = Files.createTempDirectory("graft_admit_compact_")
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      val indexPath = root.resolve("index").toString
      try {
        def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
          val stage = Files.createTempDirectory("graft_admit_cstage_")
          df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
          val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
          Files.move(part.toPath, landing.resolve(name))
          landing.resolve(name).toFile.setLastModified(mod)
          ()
        }
        land(docs.filter(isNew && splitA), "a.parquet", 1000000L)
        land(docs.filter(isNew && !splitA), "b.parquet", 2000000L)
        Dedup.nearDupIndex(standing, col("doc_id"), col("text"),
            shingleN = 3, k = 8, rowsPerBand = 2)
          .write.mode("overwrite").parquet(s"$indexPath/seed")
        val admitted = AdmissionStream.runAdmission(spark, landing.toString,
            indexPath, root.resolve("out").toString, shingleN = 3, k = 8,
            rowsPerBand = 2, threshold = 0.4, maxFilesPerTrigger = Some(1),
            compactEvery = compactEvery)
          .select("doc_id").as[Long].collect().toSet
        val top = new java.io.File(indexPath).listFiles()
        (admitted, top.count(_.isDirectory),
          top.count(f => f.isFile && f.getName.endsWith(".parquet")))
      } finally {
        def rm(f: java.io.File): Unit = if (f.exists()) {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(root.toFile)
        spark.catalog.clearCache()
      }
    }
    val (plain, plainDirs, _) = stage(None)
    val (compacted, compactedDirs, flatFiles) = stage(Some(1))
    compacted shouldBe plain // folding the tree must not change one admission
    plainDirs shouldBe 3 // seed + batch-0 + batch-1, unbounded growth
    // batch 1 found one standing batch dir ≥ 1 → folded seed+batch-0 flat;
    // only its own subdir remains nested
    compactedDirs shouldBe 1
    flatFiles should be >= 1
  }

  test("a shorter re-run sweeps the prior run's higher-id batch subdirs from index and out trees") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val standing = docs.filter(!isNew).select(col("doc_id"), col("text"))
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    val root = Files.createTempDirectory("graft_admit_shorter_")
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val indexPath = root.resolve("index").toString
    val outPath = root.resolve("out").toString
    try {
      def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
        val stage = Files.createTempDirectory("graft_admit_sstage_")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, landing.resolve(name))
        landing.resolve(name).toFile.setLastModified(mod)
        ()
      }
      land(docs.filter(isNew && splitA), "a.parquet", 1000000L)
      land(docs.filter(isNew && !splitA), "b.parquet", 2000000L)
      Dedup.nearDupIndex(standing, col("doc_id"), col("text"),
          shingleN = 3, k = 8, rowsPerBand = 2)
        .write.mode("overwrite").parquet(s"$indexPath/seed")
      AdmissionStream.runAdmission(spark, landing.toString, indexPath, outPath,
        shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4,
        maxFilesPerTrigger = Some(1))
      // the re-run sees ONLY file a — one batch. Without the sweep, the
      // first run's batch-1 subdirs would stand in both trees: the final
      // read would include file b's admissions the shorter run never saw,
      // and batch 0's decision would have probed a LATER admission set.
      Files.delete(landing.resolve("b.parquet"))
      val rerun = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, outPath, shingleN = 3, k = 8, rowsPerBand = 2,
          threshold = 0.4, maxFilesPerTrigger = Some(1))
        .select("doc_id").as[Long].collect().toSet
      val expectA = Dedup.admitNewDocs(
          docs.filter(isNew && splitA).select(col("doc_id"), col("text")),
          standing, col("doc_id"), col("text"), 3, 8, 2, 0.4)
        .select("doc_id").as[Long].collect().toSet
      rerun shouldBe expectA
      // stale batch-1 subdirs are gone from both trees
      new java.io.File(indexPath).listFiles().map(_.getName).toSet shouldBe
        Set("seed", "batch-0")
      new java.io.File(outPath).listFiles().map(_.getName)
        .filter(_.startsWith("batch-")).toSet shouldBe Set("batch-0")
      // a ZERO-batch run (stream opened before any file lands — a
      // supported production flow) must NOT sweep: the standing
      // admitted corpus and its index fold-backs survive untouched
      val emptyLanding = root.resolve("landing_empty")
      Files.createDirectory(emptyLanding)
      AdmissionStream.runAdmission(spark, emptyLanding.toString, indexPath,
        outPath, shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4)
      new java.io.File(indexPath).listFiles().map(_.getName).toSet shouldBe
        Set("seed", "batch-0")
      new java.io.File(outPath).listFiles().map(_.getName)
        .filter(_.startsWith("batch-")).toSet shouldBe Set("batch-0")
    } finally {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
      spark.catalog.clearCache()
    }
  }

  test("empty landing dir opens the stream under the fallback schema and admits nothing") {
    val root = Files.createTempDirectory("graft_admit_empty_")
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val indexPath = root.resolve("index").toString
    try {
      // seed index must still exist (the probe reads it per batch; with
      // zero batches it is never read, but the contract stands)
      Dedup.nearDupIndex(
          Seq((1L, "seed doc text only")).toDF("doc_id", "text"),
          col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 2)
        .write.mode("overwrite").parquet(s"$indexPath/seed")
      val admitted = AdmissionStream.runAdmission(spark, landing.toString,
        indexPath, root.resolve("out").toString,
        shingleN = 3, k = 8, rowsPerBand = 2, threshold = 0.4)
      admitted.columns.toSeq shouldBe Seq("doc_id", "text")
      admitted.count() shouldBe 0L
    } finally {
      def rm(f: java.io.File): Unit = if (f.exists()) {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(root.toFile)
      spark.catalog.clearCache()
    }
  }

  test("runConcurrentWrites propagates the caller's job group onto both " +
      "writers and awaits the sibling before rethrowing a failure") {
    val root = Files.createTempDirectory("graft_admit_ccw_")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g != null) groups.add(g)
        ()
      }
    }
    sc.addSparkListener(listener)
    try {
      // job group / description are THREAD-locals: without the copy,
      // jobs submitted from the write futures would carry no group and
      // q.stop()'s cancelJobGroup could never interrupt them
      sc.setJobGroup("graft-ccw-spec", "concurrent write spec", true)
      val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      AdmissionStream.runConcurrentWrites(spark, Seq(
        () => df.write.mode("overwrite")
          .parquet(root.resolve("w1").toString),
        () => df.write.mode("overwrite")
          .parquet(root.resolve("w2").toString)))
      sc.clearJobGroup()
      spark.read.parquet(root.resolve("w1").toString).count() shouldBe 2L
      spark.read.parquet(root.resolve("w2").toString).count() shouldBe 2L
      // async listener bus: poll until the group shows up
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!groups.contains("graft-ccw-spec") &&
          System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      groups.iterator().asScala.count(_ == "graft-ccw-spec") should be >= 2
      // a failing writer rethrows — AFTER the sibling completed, so no
      // in-flight write outlives the batch
      val boom = intercept[RuntimeException] {
        AdmissionStream.runConcurrentWrites(spark, Seq(
          () => throw new RuntimeException("writer down"),
          () => df.write.mode("overwrite")
            .parquet(root.resolve("w3").toString)))
      }
      boom.getMessage should include("writer down")
      spark.read.parquet(root.resolve("w3").toString).count() shouldBe 2L
    } finally {
      sc.removeSparkListener(listener)
      graft.operators.Maintenance.rmTree(root.toFile)
    }
  }

  /** Spark jobs of a two-file admission run (one file per trigger) with
    * a board observer against a seeded index — with a fifth of the seed
    * tombstoned and the pressure knob set below the ratio when
    * `tombstoned`. */
  private def boardRunJobs(tombstoned: Boolean): Int = {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= lit("cccc")
    val splitA = pmod(col("doc_id"), lit(2)) === 0
    val root = Files.createTempDirectory("graft_admit_pin_")
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val indexPath = root.resolve("index").toString
    def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
      val stage = root.resolve(s"stage-$name")
      df.coalesce(1).write.parquet(stage.toString)
      val part = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      landing.resolve(name).toFile.setLastModified(mod)
      ()
    }
    land(docs.filter(isNew && splitA), "a.parquet", 1000000L)
    land(docs.filter(isNew && !splitA), "b.parquet", 2000000L)
    try {
      Dedup.nearDupIndex(docs.filter(!isNew), col("doc_id"), col("text"),
          shingleN = 3, k = 8, rowsPerBand = 2)
        .write.parquet(s"$indexPath/seed")
      if (tombstoned)
        Dedup.deleteFromNearDupIndex(docs.filter(!isNew && col("doc_id") % 5 === 2)
          .select(col("doc_id")), indexPath)
      val board = graft.streaming.TopNStream.boardFold(spark,
        root.resolve("board").toString, 5, "n_chars")
      jobsOf {
        AdmissionStream.runAdmission(spark, landing.toString, indexPath,
          root.resolve("out").toString, shingleN = 3, k = 8, rowsPerBand = 2,
          threshold = 0.4, maxFilesPerTrigger = Some(1),
          compactWhenTombstoneRatio = if (tombstoned) Some(0.9) else None,
          onBatchAdmitted = Some(board))
        ()
      }
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("a two-file admission run with a board observer against a " +
      "non-empty index takes a pinned number of Spark jobs") {
    val jobs = boardRunJobs(tombstoned = false)
    // the session prologue is the index view's one collect (the index
    // and landing schemas come from footers, the parameter check and
    // the pressure counts read the held rows), then five per trigger:
    // the batch collect (the spread shuffle and the take), the two
    // writes and the board's one job — the probe against the view runs
    // none; the out tree is read under the schema it was written in.
    // The parent commit measured 17: the index schema inference, the
    // two-job parameter aggregate and the landing-schema probe in the
    // prologue, and one index collect per trigger plus one more for a
    // band-sharing candidate no band-sharing row matched.
    jobs shouldBe 11
  }

  test("the same run with a tombstone table standing and the pressure " +
      "knob below its ratio takes a pinned number of Spark jobs") {
    // one more than the run above: the prologue takes the tombstone
    // ids for the view's mask and the pressure count (the table's schema
    // comes from a footer, no job). Earlier commits measured 13, with a
    // schema-inference job for the tombstone table, and 25: they pinned
    // the distinct ids (a shuffle and the pin), counted them (two jobs
    // under AQE) and broadcast the pinned mask once per index collect.
    boardRunJobs(tombstoned = true) shouldBe 12
  }
}
