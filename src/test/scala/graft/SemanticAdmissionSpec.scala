package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}
import graft.streaming.SemanticAdmission

class SemanticAdmissionSpec extends SparkSpecBase {
  import spark.implicits._

  test("streaming semantic admission ≡ sequential batch admission; replay idempotent") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isNew = substring(md5(col("vec_id").cast("string")), 1, 4) >= "cccc"
    val root = Files.createTempDirectory("graft_semadmit_spec_")
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 4, ix)

    val landing = root.resolve("landing")
    Files.createDirectory(landing)
    def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
      val stage = root.resolve(s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      landing.resolve(name).toFile.setLastModified(mod)
      ()
    }
    val b1 = e.filter(isNew && col("vec_id") % 2 === 0).select("vec_id", "embedding")
    val b2 = e.filter(isNew && col("vec_id") % 2 =!= 0).select("vec_id", "embedding")
    land(b1, "a.parquet", 1000000L)
    land(b2, "b.parquet", 2000000L)

    val streamed = SemanticAdmission.runAdmission(spark, landing.toString, ix,
        root.resolve("out").toString, threshold = 0.35,
        maxFilesPerTrigger = Some(1))
      .select(col("vec_id")).as[Long].collect().toSeq.sorted

    // sequential batch replay: round 1 vs the seed, round 2 vs seed ∪
    // round-1 admissions — the invariant the fold-back maintains
    val centroids = Similarity.hashCentroids(e.filter(!isNew), 4)
    val seed = Similarity.assignCells(e.filter(!isNew), centroids)
    val adm1 = Dedup.admitNewVecs(b1, seed, centroids, 0.35)
      .as[Long].collect().toSeq
    val adm1Vecs = b1.filter(col("vec_id").isin(adm1: _*))
    val standing2 = seed.unionByName(Similarity.assignCells(adm1Vecs, centroids))
    val adm2 = Dedup.admitNewVecs(b2, standing2, centroids, 0.35)
      .as[Long].collect().toSeq
    streamed shouldBe (adm1 ++ adm2).sorted

    // a batch was actually gated (otherwise the fixture proves nothing)
    val newCount = e.filter(isNew).count()
    streamed.size.toLong should be < newCount

    // full re-run against the same dirs: fresh checkpoint restarts batch
    // ids at 0, the probe excludes each batch's own prior subdir, and
    // every batch-<id> write overwrites itself — admissions identical
    val again = SemanticAdmission.runAdmission(spark, landing.toString, ix,
        root.resolve("out").toString, threshold = 0.35,
        maxFilesPerTrigger = Some(1))
      .select(col("vec_id")).as[Long].collect().toSeq.sorted
    again shouldBe streamed
  }

  test("tombstone-pressure fold at session start: past θ one compactStream fold fires, admissions unchanged; below θ the tombstone table stands") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isNew = substring(md5(col("vec_id").cast("string")), 1, 4) >= "cccc"
    def setup(pointer: Boolean = false): java.nio.file.Path = {
      val root = Files.createTempDirectory("graft_semadmit_theta_")
      val ix = root.resolve("ix").toString
      if (pointer)
        graft.operators.Fs.publishGeneration(ix) { gen =>
          Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 4, gen)
        }
      else Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 4, ix)
      // a quarter of the standing corpus tombstoned (replayed); on a
      // pointer root the delete resolves INTO the current generation
      val dead = e.filter(!isNew && col("vec_id") % 4 === 0).select(col("vec_id"))
      Similarity.deleteFromAnnIndex(dead, ix)
      Similarity.deleteFromAnnIndex(dead, ix)
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      def land(df: org.apache.spark.sql.DataFrame, name: String, mod: Long): Unit = {
        val stage = root.resolve(s"stage_$name")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
        Files.move(part.toPath, landing.resolve(name))
        landing.resolve(name).toFile.setLastModified(mod)
        ()
      }
      land(e.filter(isNew && col("vec_id") % 2 === 0).select("vec_id", "embedding"),
        "a.parquet", 1000000L)
      land(e.filter(isNew && col("vec_id") % 2 =!= 0).select("vec_id", "embedding"),
        "b.parquet", 2000000L)
      root
    }
    def run(root: java.nio.file.Path, theta: Option[Double]): Seq[Long] =
      SemanticAdmission.runAdmission(spark, root.resolve("landing").toString,
          root.resolve("ix").toString, root.resolve("out").toString,
          threshold = 0.35, maxFilesPerTrigger = Some(1),
          compactWhenTombstoneRatio = theta)
        .select(col("vec_id")).as[Long].collect().toSeq.sorted
    val rootA = setup(); val rootB = setup(); val rootC = setup()
    try {
      val tombsOf = (root: java.nio.file.Path) =>
        graft.operators.Fs.exists(
          s"${root.resolve("ix")}/${graft.operators.Fs.TombstonesSubdir}")
      val folded = run(rootA, Some(0.1)) // 25% deleted > θ → fold fires
      tombsOf(rootA) shouldBe false
      val masked = run(rootB, Some(0.9)) // below θ → mask keeps paying
      tombsOf(rootB) shouldBe true
      val plain = run(rootC, None)
      tombsOf(rootC) shouldBe true
      folded shouldBe plain
      masked shouldBe plain
      // POINTER-COMMITTED root: tombstones live INSIDE the current
      // generation — the pressure probe must resolve it (a root-level
      // probe silently never fired); the fired fold publishes gen-2 and
      // the session admits against it, fold-backs landing in its stream/
      val rootD = setup(pointer = true)
      try {
        val ixD = rootD.resolve("ix").toString
        run(rootD, Some(0.1)) shouldBe plain
        val cur = graft.operators.Fs.currentGeneration(ixD).get
        cur should endWith("gen-2")
        graft.operators.Fs.exists(
          s"$cur/${graft.operators.Fs.TombstonesSubdir}") shouldBe false
        graft.operators.Fs.listNames(s"$cur/stream")
          .count(_.startsWith("batch-")) should be >= 1
      } finally graft.operators.Maintenance.rmTree(rootD.toFile)
    } finally {
      Seq(rootA, rootB, rootC).foreach(r =>
        graft.operators.Maintenance.rmTree(r.toFile))
      spark.catalog.clearCache()
    }
  }

  test("compactStream between sessions: fold clears the tree, admissions unchanged") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isNew = substring(md5(col("vec_id").cast("string")), 1, 4) >= "cccc"
    val b1 = e.filter(isNew && col("vec_id") % 2 === 0).select("vec_id", "embedding")
    val b2 = e.filter(isNew && col("vec_id") % 2 =!= 0).select("vec_id", "embedding")
    def stage(root: java.nio.file.Path, name: String,
        df: org.apache.spark.sql.DataFrame, mod: Long): String = {
      val landing = root.resolve(s"landing_$name")
      Files.createDirectory(landing)
      val tmp = root.resolve(s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(s"$name.parquet"))
      landing.resolve(s"$name.parquet").toFile.setLastModified(mod)
      landing.toString
    }
    // control: ONE session over both files
    val rootA = Files.createTempDirectory("graft_semcompact_a_")
    val ixA = rootA.resolve("ix").toString
    Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 4, ixA)
    val landA = rootA.resolve("landing")
    Files.createDirectory(landA)
    def landInto(dir: java.nio.file.Path, name: String,
        df: org.apache.spark.sql.DataFrame, mod: Long): Unit = {
      val tmp = rootA.resolve(s"st_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, dir.resolve(name))
      dir.resolve(name).toFile.setLastModified(mod)
      ()
    }
    landInto(landA, "a.parquet", b1, 1000000L)
    landInto(landA, "b.parquet", b2, 2000000L)
    val control = SemanticAdmission.runAdmission(spark, landA.toString, ixA,
        rootA.resolve("out").toString, threshold = 0.35,
        maxFilesPerTrigger = Some(1))
      .select(col("vec_id")).as[Long].collect().toSeq.sorted

    // compacted: session 1 (file 1) → fold → session 2 (file 2); the
    // fold is what makes session 2's batch-id restart at 0 SAFE (its
    // batch-0 write cannot clobber session 1's, which now lives in
    // assignments)
    val rootB = Files.createTempDirectory("graft_semcompact_b_")
    val ixB = rootB.resolve("ix").toString
    Similarity.writeIvfFlatIndex(e.filter(!isNew), nLists = 4, ixB)
    val l1 = stage(rootB, "s1", b1, 1000000L)
    val adm1 = SemanticAdmission.runAdmission(spark, l1, ixB,
        rootB.resolve("out1").toString, threshold = 0.35)
      .select(col("vec_id")).as[Long].collect().toSeq
    SemanticAdmission.compactStream(spark, ixB)
    new java.io.File(s"$ixB/stream").exists() shouldBe false
    val l2 = stage(rootB, "s2", b2, 2000000L)
    val adm2 = SemanticAdmission.runAdmission(spark, l2, ixB,
        rootB.resolve("out2").toString, threshold = 0.35)
      .select(col("vec_id")).as[Long].collect().toSeq
    (adm1 ++ adm2).sorted shouldBe control
  }

  test("empty landing dir admits nothing and does not throw") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = Files.createTempDirectory("graft_semadmit_empty_")
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(e.limit(50), nLists = 2, ix)
    val landing = root.resolve("landing")
    Files.createDirectory(landing)
    val out = SemanticAdmission.runAdmission(spark, landing.toString, ix,
      root.resolve("out").toString, threshold = 0.5)
    out.count() shouldBe 0L
  }

  test("a two-file admission session with a tombstone table standing and " +
      "the pressure knob below its ratio takes a pinned number of Spark jobs") {
    withTombstonedAnnIndex("graft_semadmit_tpin_") { (root, ix, landing) =>
      // the prologue's tombstone distinct pin and count, and its
      // assignment count for the pressure decision come on top of the
      // session's own jobs; the assignments are read once, and they, the
      // tombstones, the centroids and the landing take their schemas
      // from footers (no job). Earlier commits measured 29, with a
      // tombstone schema-inference job, and 33: an inference job for
      // each of the two assignment reads, the centroid read and the
      // landing probe.
      jobsOf {
        SemanticAdmission.runAdmission(spark, landing, ix,
          root.resolve("out").toString, threshold = 0.35,
          maxFilesPerTrigger = Some(1), compactWhenTombstoneRatio = Some(0.9))
        ()
      } shouldBe 28
    }
  }
}
