package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.ProbeStream

/** Streaming ANN probe ≡ the batch probe: per-query independence means
  * micro-batching the query stream changes nothing but arrival time. */
class ProbeStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def vecDF(vs: Seq[(Long, Seq[Float])]) =
    vs.toDF("vec_id", "embedding")

  test("streamed probes equal the batch probe; results land per batch; durable-checkpoint replay adds nothing") {
    val rnd = new Random(11)
    def cluster(base: Float, n: Int, off: Long) =
      (0 until n).map(i => (off + i, Seq.fill(8)(base + rnd.nextFloat() * 0.01f)))
    val corpus = vecDF(cluster(1f, 30, 0L) ++ cluster(-1f, 30, 100L))
    val queries = (0 until 6).map(i =>
      (1000L + i, Seq.fill(8)(if (i % 2 == 0) 1.003f else -1.003f)))

    val root = Files.createTempDirectory("graft_probe_spec_")
    root.toFile.deleteOnExit()
    val ix = root.resolve("ix").toString
    Similarity.writeIvfFlatIndex(corpus, nLists = 4, ix)
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
    val (a, b) = queries.partition(_._1 % 2 == 0)
    land(a, "a.parquet", 1000000L)
    land(b, "b.parquet", 2000000L)

    val out = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    ProbeStream.runProbes(spark, landing.toString, ix, out, k = 5,
      nProbe = 2, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))

    // one directory per micro-batch
    val batchDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted
    batchDirs shouldBe Array("batch=0", "batch=1")

    val streamed = spark.read.parquet(out)
      .select("query_id", "neighbor_id", "rnk")
      .orderBy("query_id", "rnk").collect().toSeq
    val batch = Similarity.ivfFlatProbe(vecDF(queries), ix, 5, nProbe = 2)
      .select("query_id", "neighbor_id", "rnk")
      .orderBy("query_id", "rnk").collect().toSeq
    streamed shouldBe batch

    // replay against the same durable checkpoint: no new batches, no
    // duplicated or mutated results
    ProbeStream.runProbes(spark, landing.toString, ix, out, k = 5,
      nProbe = 2, maxFilesPerTrigger = Some(1), checkpointDir = Some(ckpt))
    val replayed = spark.read.parquet(out)
      .select("query_id", "neighbor_id", "rnk")
      .orderBy("query_id", "rnk").collect().toSeq
    replayed shouldBe streamed
  }

  test("runProbes refuses a directory that is not an index artifact") {
    val root = Files.createTempDirectory("graft_probe_noix_")
    root.toFile.deleteOnExit()
    val landing = root.resolve("landing"); Files.createDirectory(landing)
    an[Exception] should be thrownBy ProbeStream.runProbes(spark,
      landing.toString, root.resolve("nope").toString,
      root.resolve("out").toString, k = 5)
  }

  test("a two-file probe session with a tombstone table standing takes a " +
      "pinned number of Spark jobs") {
    withTombstonedAnnIndex("graft_probe_tpin_") { (root, ix, landing) =>
      // one of these is the session's tombstone mask pin (its schema
      // comes from a footer); the centroid read is one collect (its
      // schema comes from a footer, the rows are sorted on the driver),
      // and so is the landing schema. Earlier commits measured 17, with
      // a tombstone schema-inference job, and 19: the centroid and
      // landing schemas were inferred by a job each.
      jobsOf {
        ProbeStream.runProbes(spark, landing, ix, root.resolve("out").toString,
          k = 5, nProbe = 2, maxFilesPerTrigger = Some(1))
      } shouldBe 16
    }
  }
}
