package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.AnnIngest

/** Streaming ANN ingest ≡ the batch append path: micro-batched vectors
  * assigned under frozen centroids land the same index state, probed
  * identically. */
class AnnIngestSpec extends SparkSpecBase {
  import spark.implicits._

  private def vecDF(vs: Seq[(Long, Seq[Float])]) =
    vs.toDF("vec_id", "embedding")

  test("streaming ingest equals batch append; sink commits exactly the batch rows") {
    val rnd = new Random(3)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = vecDF(cluster(1f, 30, 0L) ++ cluster(-1f, 30, 100L))
    val newVecs = cluster(1f, 8, 300L) ++ cluster(-1f, 8, 400L)
    val queries = vecDF(Seq((0L, Seq.fill(8)(1.002f)), (100L, Seq.fill(8)(-1.002f))))

    // streaming path: standing index + two mod-time-ordered landing files
    val root = Files.createTempDirectory("graft_annin_spec_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(standing, nLists = 4, ix)
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    def land(vs: Seq[(Long, Seq[Float])], name: String, mod: Long): Unit = {
      val stage = root.resolve(s"stage_$name")
      vecDF(vs).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      landing.resolve(name).toFile.setLastModified(mod)
      ()
    }
    val (a, b) = newVecs.partition(_._1 % 2 == 0)
    land(a, "a.parquet", 1000000L)
    land(b, "b.parquet", 2000000L)
    AnnIngest.runIngest(spark, landing.toString, ix, maxFilesPerTrigger = Some(1))

    // batch path: same standing index, same batch, plain append
    val ix2 = root.resolve("ix2").toString
    Similarity.writeIvfFlatIndex(standing, nLists = 4, ix2)
    Similarity.appendToIvfFlatIndex(vecDF(newVecs), ix2)

    val streamed = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    val batch = Similarity.ivfFlatProbe(queries, ix2, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    streamed shouldBe batch

    // the sink committed exactly the batch's rows (no duplicates, no
    // loss), readable through its _spark_metadata log
    spark.read.parquet(s"$ix/assignments_stream").count() shouldBe
      newVecs.size.toLong
    spark.catalog.clearCache()
  }

  test("ingest into a POINTER root lands inside the current generation — probes see it") {
    // the sink used to land at the ROOT of a pointer-committed artifact,
    // where neither ivfFlatProbe (reads <generation>/assignments_stream)
    // nor compactIvfFlatIndex's fold ever looked — silently invisible data
    val rnd = new Random(11)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = vecDF(cluster(1f, 20, 0L) ++ cluster(-1f, 20, 100L))
    val newVecs = cluster(1f, 6, 300L) ++ cluster(-1f, 6, 400L)
    val queries = vecDF(Seq((0L, Seq.fill(8)(1.002f)), (100L, Seq.fill(8)(-1.002f))))
    val root = Files.createTempDirectory("graft_annin_ptr_")
    root.toFile.deleteOnExit()
    try {
      val ix = root.resolve("ix").toString
      val gen1 = graft.operators.Fs.publishGeneration(ix)(p =>
        Similarity.writeIvfFlatIndex(standing, nLists = 4, p))
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      val stage = root.resolve("stage")
      vecDF(newVecs).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve("a.parquet"))
      AnnIngest.runIngest(spark, landing.toString, ix)
      // the streamed table landed INSIDE gen-1, not at the root
      graft.operators.Fs.exists(s"$gen1/assignments_stream") shouldBe true
      graft.operators.Fs.exists(s"$ix/assignments_stream") shouldBe false
      // probe through the ROOT ≡ the plain-dir ingest of the same data
      val ix2 = root.resolve("ix2").toString
      Similarity.writeIvfFlatIndex(standing, nLists = 4, ix2)
      Similarity.appendToIvfFlatIndex(vecDF(newVecs), ix2)
      Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
        .orderBy("query_id", "rnk").collect().toSeq shouldBe
        Similarity.ivfFlatProbe(queries, ix2, 5, nProbe = 2)
          .orderBy("query_id", "rnk").collect().toSeq
      // and the ingested vectors actually surface (not just the standing)
      Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
        .select("neighbor_id").as[Long].collect().toSet
        .exists(_ >= 300L) shouldBe true
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("trained-quantizer artifact: lloydTrain centroids → writeIvfFlatIndex → probe ≡ direct ivfFlatTopK") {
    val rnd = new Random(11)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.05f)))
    val corpus = vecDF(cluster(1f, 25, 0L) ++ cluster(-1f, 25, 100L) ++
      cluster(0.2f, 25, 200L))
    val queries = corpus.filter(col("vec_id").isin(0L, 100L, 200L))

    val centroids = Similarity.collectTrainedCentroids(
      Similarity.lloydTrain(corpus, nCells = 3, rounds = 2))
    centroids.size shouldBe 3
    centroids.foreach(_.size shouldBe 8)

    val root = Files.createTempDirectory("graft_trained_ix_spec_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(corpus, centroids, ix)

    val probed = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    val direct = Similarity.ivfFlatTopK(queries, corpus, 5, centroids, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    probed shouldBe direct
    probed.nonEmpty shouldBe true

    // the artifact's stored quantizer is the trained one, bit for bit
    Similarity.collectTrainedCentroids(
      Similarity.lloydTrain(corpus, nCells = 3, rounds = 2)) shouldBe centroids
    spark.catalog.clearCache()
  }

  test("lloydTrainSubspaces ≡ per-subspace lloydTrain over the sliced corpus") {
    val rnd = new Random(31)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.2f)))
    val corpus = vecDF(cluster(1f, 20, 0L) ++ cluster(-1f, 20, 100L))
    val m = 2
    val joint = Similarity.lloydTrainSubspaces(corpus, m = m, codewords = 3,
        rounds = 2)
      .select("j", "code", "pos", "centroid_q", "n")
      .as[(Int, Int, Int, Long, Long)].collect().toSet
    // the joint job restricted to subspace j must equal lloydTrain run
    // over THAT slice as its own corpus (hash seeds pick the same
    // vec_ids either way — the pick is id-ordered, not value-ordered)
    val perSubspace = (0 until m).flatMap { j =>
      val sliced = corpus.select(col("vec_id"),
        slice(col("embedding"), j * 4 + 1, 4).as("embedding"))
      Similarity.lloydTrain(sliced, nCells = 3, rounds = 2)
        .select("cell", "pos", "centroid_q", "n")
        .as[(Int, Int, Long, Long)].collect()
        .map { case (c, p, q, n) => (j, c, p, q, n) }
    }.toSet
    joint shouldBe perSubspace
    spark.catalog.clearCache()
  }

  test("trained PQ codebooks cut quantization distortion vs the hash pick they seed from") {
    val rnd = new Random(37)
    // clustered corpus where the md5-ordered hash pick is a poor
    // codebook (clusters are tight, the pick is arbitrary) — training
    // has something real to recover
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i,
        (0 until 8).map(d => base * (1 + d % 3) + rnd.nextFloat() * 0.05f)))
    val raw = cluster(1f, 40, 0L) ++ cluster(-1f, 40, 100L) ++
      cluster(0.3f, 40, 200L)
    val corpus = vecDF(raw.map { case (id, v) => (id, v.map(_.toFloat)) })

    val hashBooks = Similarity.pqCodebooks(corpus, m = 2, codewords = 4)
    val trainedBooks = Similarity.collectTrainedCodebooks(
      Similarity.lloydTrainSubspaces(corpus, m = 2, codewords = 4, rounds = 2))
    trainedBooks.size shouldBe 2
    trainedBooks.foreach(_.size shouldBe 4)
    trainedBooks.foreach(_.foreach(_.size shouldBe 4))

    // total PQ distortion Σ_vec Σ_j min_c ‖slice_j − book_j(c)‖² — the
    // objective Lloyd's update provably does not increase from its seed
    // (which IS the hash pick), up to the 1e-6 fixed-point rounding.
    // Recall at toy scale is too noisy to order the two reliably;
    // distortion is the measurable guarantee.
    def distortion(books: Seq[Seq[Seq[Double]]]): Double =
      raw.map { case (_, v) =>
        val dv = v.map(_.toFloat.toDouble)
        books.zipWithIndex.map { case (book, j) =>
          val s = dv.slice(j * 4, j * 4 + 4)
          book.map(cw => s.zip(cw).map { case (a, b) =>
            (a - b) * (a - b) }.sum).min
        }.sum
      }.sum
    val dHash = distortion(hashBooks)
    val dTrained = distortion(trainedBooks)
    withClue(s"trained distortion $dTrained vs hash $dHash: ") {
      dTrained should be <= dHash * (1.0 + 1e-6)
      // and on a clustered corpus the win is real, not epsilon
      dTrained should be < dHash * 0.9
    }
    spark.catalog.clearCache()
  }

  test("compressed artifact probes clear a recall floor on the shared fixture") {
    // the q142 driver surface's spec-side floor: the IVF-PQ artifact
    // probe (hash and trained-coarse variants) must retrieve a
    // non-degenerate share of the exact top-10 — compression plus
    // 2-of-8-cell probing trades recall for cost, but a collapse to
    // ~zero recall means a broken encode/probe path, which a
    // hash-match against an equally-broken oracle would NOT catch
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(q, e, 10).localCheckpoint(true)
    val root = Files.createTempDirectory("graft_q142_floor_")
    root.toFile.deleteOnExit()
    val ixHash = root.resolve("hash").toString
    Similarity.writeIvfPqIndex(e, nLists = 8, m = 8, codewords = 16, ixHash)
    val ixTrained = root.resolve("trained").toString
    Similarity.writeIvfPqIndex(e,
      Similarity.collectTrainedCentroids(
        Similarity.lloydTrain(e, nCells = 8, rounds = 2)),
      Similarity.pqCodebooks(e, m = 8, codewords = 16), ixTrained)
    val rHash = Similarity.recallAtK(exact,
      Similarity.ivfPqProbe(q, ixHash, 10, nProbe = 2))
    val rTrained = Similarity.recallAtK(exact,
      Similarity.ivfPqProbe(q, ixTrained, 10, nProbe = 2))
    withClue(s"hash recall $rHash, trained recall $rTrained: ") {
      rHash should be >= 0.05
      rTrained should be >= 0.05
    }
    spark.catalog.clearCache()
  }

  test("collectTrainedCentroids raises on a non-contiguous cell range") {
    val trained = Seq((0, 1, 100L), (2, 1, 300L)).toDF("cell", "pos", "centroid_q")
    val ex = intercept[IllegalArgumentException] {
      Similarity.collectTrainedCentroids(trained)
    }
    ex.getMessage should include("contiguous")
  }

  test("a scratch re-session over a standing streamed table fails fast; a durable checkpoint continues") {
    val rnd = new Random(17)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = vecDF(cluster(1f, 20, 0L))
    val root = Files.createTempDirectory("graft_annin_sess_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(standing, nLists = 2, ix)
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    val ckpt = root.resolve("ckpt").toString
    def land(vs: Seq[(Long, Seq[Float])], name: String): Unit = {
      val stage = root.resolve(s"stage_$name")
      vecDF(vs).coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve(name))
      ()
    }
    land(cluster(1f, 5, 100L), "a.parquet")
    AnnIngest.runIngest(spark, landing.toString, ix,
      checkpointDir = Some(ckpt))
    spark.read.parquet(s"$ix/assignments_stream").count() shouldBe 5L
    // session 2 under the SAME durable checkpoint: only the new file
    // ingests, ids continue — no silent skip, no double-commit
    land(cluster(1f, 3, 200L), "b.parquet")
    AnnIngest.runIngest(spark, landing.toString, ix,
      checkpointDir = Some(ckpt))
    spark.read.parquet(s"$ix/assignments_stream").count() shouldBe 8L
    // a scratch-checkpoint session over the standing streamed table
    // would collide with the sink log and silently skip — fail fast
    val ex = intercept[IllegalArgumentException] {
      AnnIngest.runIngest(spark, landing.toString, ix)
    }
    ex.getMessage should include("checkpointDir")
    spark.catalog.clearCache()
  }

  test("compactIvfFlatIndex folds the stream table, probe unchanged, idempotent") {
    val rnd = new Random(5)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = vecDF(cluster(1f, 30, 0L) ++ cluster(-1f, 30, 100L))
    val newVecs = vecDF(cluster(1f, 8, 300L) ++ cluster(-1f, 8, 400L))
    val queries = vecDF(Seq((0L, Seq.fill(8)(1.002f)), (100L, Seq.fill(8)(-1.002f))))
    val root = Files.createTempDirectory("graft_anncompact_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(standing, nLists = 4, ix)
    // streamed table via the batch append API writing into the stream dir
    // shape (runIngest's sink layout) — a plain parquet write suffices for
    // the fold semantics under test
    Similarity.assignCells(newVecs, Similarity.readCentroids(spark, ix))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$ix/assignments_stream")
    val before = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    Similarity.compactIvfFlatIndex(spark, ix)
    new java.io.File(s"$ix/assignments_stream").exists() shouldBe false
    val after = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    after shouldBe before
    // one row per vector survived the fold
    spark.read.parquet(s"$ix/assignments").count() shouldBe 76L
    // idempotent: a second run (nothing streamed) is a no-op
    Similarity.compactIvfFlatIndex(spark, ix)
    Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq shouldBe before
    spark.catalog.clearCache()
  }

  test("deleteFromAnnIndex: masked probe ≡ rebuilt-without-rows; compaction folds physically; replays idempotent") {
    val rnd = new Random(23)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = cluster(1f, 30, 0L) ++ cluster(-1f, 30, 100L)
    val queries = vecDF(Seq((500L, Seq.fill(8)(1.002f)), (600L, Seq.fill(8)(-1.002f))))
    val root = Files.createTempDirectory("graft_anndelete_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(vecDF(standing), nLists = 4, ix)
    val before = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    before.nonEmpty shouldBe true

    // delete three vectors that WERE in the before top-k, twice (replay)
    val deleted = before.map(_.getLong(1)).distinct.take(3)
    val delDf = deleted.toDF("vec_id")
    Similarity.deleteFromAnnIndex(delDf, ix)
    Similarity.deleteFromAnnIndex(delDf, ix)

    // ground truth: the SAME frozen quantizer over the corpus minus the
    // deleted rows (a fresh hash-centroid build would change the
    // quantizer — deletion must not)
    val ix2 = root.resolve("ix2").toString
    Similarity.writeIvfFlatIndex(
      vecDF(standing.filterNot(v => deleted.contains(v._1))),
      Similarity.readCentroids(spark, ix), ix2)
    val truth = Similarity.ivfFlatProbe(queries, ix2, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq

    val masked = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    masked shouldBe truth
    masked.map(_.getLong(1)).toSet.intersect(deleted.toSet) shouldBe empty

    // compaction folds the tombstones in physically: table drops the
    // rows, the tombstone dir is gone, the probe is unchanged
    Similarity.compactIvfFlatIndex(spark, ix)
    new java.io.File(s"$ix/_tombstones").exists() shouldBe false
    spark.read.parquet(s"$ix/assignments").count() shouldBe
      (standing.size - deleted.size).toLong
    Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq shouldBe truth
    // idempotent: nothing left to fold
    Similarity.compactIvfFlatIndex(spark, ix)
    Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq shouldBe truth
    spark.catalog.clearCache()
  }

  test("deleteFromAnnIndex on a PQ artifact: masked probe drops the ids; compactIvfPqIndex folds them") {
    val rnd = new Random(29)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.05f)))
    val corpus = vecDF(cluster(1f, 30, 0L) ++ cluster(-1f, 30, 100L))
    val queries = vecDF(Seq((500L, Seq.fill(8)(1.002f))))
    val root = Files.createTempDirectory("graft_pqdelete_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfPqIndex(corpus, nLists = 4, m = 4, codewords = 8, ix)
    val before = Similarity.ivfPqProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    before.nonEmpty shouldBe true
    val deleted = before.map(_.getLong(1)).distinct.take(2)
    Similarity.deleteFromAnnIndex(deleted.toDF("vec_id"), ix)
    val masked = Similarity.ivfPqProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    masked.map(_.getLong(1)).toSet.intersect(deleted.toSet) shouldBe empty
    Similarity.compactIvfPqIndex(spark, ix)
    new java.io.File(s"$ix/_tombstones").exists() shouldBe false
    spark.read.parquet(s"$ix/codes").count() shouldBe 58L
    Similarity.ivfPqProbe(queries, ix, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq shouldBe masked
    spark.catalog.clearCache()
  }

  test("compaction refuses to delete every remaining vector") {
    val corpus = vecDF((0L until 10L).map(i => (i, Seq.fill(8)(1f))))
    val root = Files.createTempDirectory("graft_anndelall_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(corpus, nLists = 2, ix)
    Similarity.deleteFromAnnIndex(
      (0L until 10L).toDF("vec_id"), ix)
    val ex = intercept[IllegalArgumentException] {
      Similarity.compactIvfFlatIndex(spark, ix)
    }
    ex.getMessage should include("every remaining vector")
    spark.catalog.clearCache()
  }

  test("tombstone-pressure fold at ingest session start: past θ the fold fires (clearing the streamed sink log, so a scratch re-session passes); below θ nothing folds") {
    val rnd = new Random(7)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = vecDF(cluster(1f, 30, 0L) ++ cluster(-1f, 30, 100L))
    val queries = vecDF(Seq((900L, Seq.fill(8)(1.002f))))
    // a plain root, and a POINTER-COMMITTED one: there the tombstones,
    // the streamed table and its sink log live inside the current
    // generation, and the fired fold publishes the next one
    for (pointer <- Seq(false, true)) {
      val root = Files.createTempDirectory("graft_annin_theta_")
      root.toFile.deleteOnExit()
      val ix = root.resolve("ix").toString
      if (pointer)
        graft.operators.Fs.publishGeneration(ix)(gen =>
          Similarity.writeIvfFlatIndex(standing, nLists = 4, gen))
      else Similarity.writeIvfFlatIndex(standing, nLists = 4, ix)
      // a prior session's streamed rows + a 25% takedown load
      val landing0 = root.resolve("landing0"); Files.createDirectory(landing0)
      def land(dir: java.nio.file.Path, vs: Seq[(Long, Seq[Float])],
          name: String): Unit = {
        val stage = root.resolve(s"stage_$name")
        vecDF(vs).coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.toFile.listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
        Files.move(part.toPath, dir.resolve(name))
        ()
      }
      land(landing0, cluster(1f, 6, 300L), "s0.parquet")
      AnnIngest.runIngest(spark, landing0.toString, ix)
      Similarity.deleteFromAnnIndex(
        standing.filter(col("vec_id") % 4 === 0).select(col("vec_id")), ix)
      val masked = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
        .orderBy("query_id", "rnk").collect().toSeq
      // below θ: no fold — the streamed sink log still stands, so a
      // scratch re-session is refused (the silent-skip guard)
      val landing1 = root.resolve("landing1"); Files.createDirectory(landing1)
      land(landing1, cluster(-1f, 4, 500L), "s1.parquet")
      an[IllegalArgumentException] should be thrownBy
        AnnIngest.runIngest(spark, landing1.toString, ix,
          compactWhenTombstoneRatio = Some(0.9))
      // past θ: the session-start fold fires — tombstones folded
      // physically, streamed table folded into assignments, sink log
      // cleared — and the same scratch re-session now proceeds
      AnnIngest.runIngest(spark, landing1.toString, ix,
        compactWhenTombstoneRatio = Some(0.1))
      if (pointer)
        graft.operators.Fs.currentGeneration(ix).get should endWith("gen-2")
      graft.operators.Fs.exists(
        s"${graft.operators.Fs.concrete(ix)}/" +
          graft.operators.Fs.TombstonesSubdir) shouldBe false
      // probe: the masked standing set, plus both sessions' streamed rows
      val after = Similarity.ivfFlatProbe(queries, ix, 5, nProbe = 2)
        .orderBy("query_id", "rnk").collect().toSeq
      after.map(_.getLong(1)).toSet should not be empty
      // the pre-fold masked answers are reproducible from the folded index
      // for the standing ids (the new streamed vectors may displace tail
      // ranks, so compare via the delete semantics: no deleted id appears)
      after.map(_.getLong(1)).foreach(id => (id % 4 == 0 && id < 200) shouldBe false)
      masked.map(_.getLong(1)).foreach(id => (id % 4 == 0 && id < 200) shouldBe false)
      graft.operators.Maintenance.rmTree(root.toFile)
    }
  }

  test("ingest requires a centroid artifact and tolerates an empty landing dir") {
    val root = Files.createTempDirectory("graft_annin_spec2_")
    root.toFile.deleteOnExit()
    // no artifact → loud failure, not silent wrong assignment
    intercept[Exception] {
      AnnIngest.runIngest(spark, root.resolve("nothing").toString,
        root.resolve("noix").toString)
    }
    // empty landing dir (stream opened before first file lands) → clean
    // no-op under the schema fallback
    val ix = root.resolve("ix").toString
    val standing = vecDF((0L until 20L).map(i => (i, Seq.fill(8)(1f))))
    Similarity.writeIvfFlatIndex(standing, nLists = 2, ix)
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    AnnIngest.runIngest(spark, landing.toString, ix)
    val streamedDir = new java.io.File(s"$ix/assignments_stream")
    // zero batches: either no dir at all or an empty (metadata-only) table
    if (streamedDir.exists())
      scala.util.Try(spark.read.parquet(streamedDir.getPath).count())
        .getOrElse(0L) shouldBe 0L
    spark.catalog.clearCache()
  }

  test("probe query side: bounded LocalRelation fast path ≡ distributed fallback") {
    // the r21 boundedQuerySide fusion (one bounded take replaces the
    // query-side checkpoint + probed-cells collect) must be
    // result-identical to the past-cap shape it replaces — force the
    // fallback with querySideCap = 0, and cross the cap by one row
    // (queries × nProbe rows fit exactly; one fewer takes the fallback),
    // for the flat and the PQ probe alike
    val rnd = new Random(7)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val standing = vecDF(cluster(1f, 25, 0L) ++ cluster(-1f, 25, 100L))
    val queries = vecDF(Seq((0L, Seq.fill(8)(1.002f)), (100L, Seq.fill(8)(-1.002f))))
    val root = Files.createTempDirectory("graft_qside_spec_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(standing, nLists = 4, ix)
    val cents = Similarity.readCentroids(spark, ix)
    val fast = Similarity.ivfFlatProbeResolved(queries, ix, 5, 2, cents, None)
      .orderBy("query_id", "rnk").collect().toSeq
    val sideRows = 2 * 2 // queries × nProbe
    for (cap <- Seq(0, sideRows - 1, sideRows))
      Similarity.ivfFlatProbeResolved(queries, ix, 5, 2, cents, None,
          querySideCap = cap)
        .orderBy("query_id", "rnk").collect().toSeq shouldBe fast
    fast.nonEmpty shouldBe true
    val pqIx = root.resolve("pq").toString
    Similarity.writeIvfPqIndex(standing, nLists = 4, m = 4, codewords = 8, pqIx)
    val pqFast = Similarity.ivfPqProbe(queries, pqIx, 5, nProbe = 2)
      .orderBy("query_id", "rnk").collect().toSeq
    for (cap <- Seq(sideRows - 1, sideRows))
      Similarity.ivfPqProbe(queries, pqIx, 5, nProbe = 2, querySideCap = cap)
        .orderBy("query_id", "rnk").collect().toSeq shouldBe pqFast
    pqFast.nonEmpty shouldBe true
    spark.catalog.clearCache()
  }

  test("a two-file ingest session with a tombstone table standing and the " +
      "pressure knob below its ratio takes a pinned number of Spark jobs") {
    withTombstonedAnnIndex("graft_annin_tpin_") { (_, ix, landing) =>
      // three of these are the pressure decision: the one tagged
      // aggregate (three jobs under AQE) — the tombstone and assignment
      // tables' schemas come from a footer each; the centroid read is one
      // collect (its schema comes from a footer, the rows are sorted on
      // the driver), and the landing schema is a footer read too. Earlier
      // commits measured 7, with an assignment schema-inference job, 8,
      // with a tombstone one too, and 10: the centroid and landing
      // schemas were inferred by a job each.
      jobsOf {
        AnnIngest.runIngest(spark, landing, ix, maxFilesPerTrigger = Some(1),
          compactWhenTombstoneRatio = Some(0.9))
      } shouldBe 6
    }
  }
}
