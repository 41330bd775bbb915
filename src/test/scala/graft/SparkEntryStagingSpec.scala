package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** SparkEntry's fixture staging ([[SparkEntry.Staged]]): the staged
  * queries keep their warm Spark job counts, every per-run scratch root
  * is removed when its query returns and when its body throws, a staged
  * landing orders its micro-batch files by mtime, and a run's landing
  * files are hard links to the staged ones. */
class SparkEntryStagingSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"
  import SparkEntry.Staged

  /** Warm job count per staged query at sf0.001: the second call, after
    * the first has built every standing artifact and landing. Measured
    * before the queries moved onto [[SparkEntry.Staged]]; the staging
    * must not move them. */
  private val warmJobs = Seq(
    "q116_streaming_admission" -> 21,
    "q122_streaming_ann_ingest" -> 18,
    "q125_streaming_heavy_hitters" -> 13,
    "q135_streaming_dataset_card" -> 13,
    "q145_streaming_ann_probe" -> 19,
    "q150_streaming_dsir_model" -> 11,
    "q154_streaming_pca_moments" -> 10)

  /** The scratch dir every root is created in. */
  private lazy val scratchParent: Path = {
    val probe = streaming.EventStreams.scratchDir("graft_spec_probe_")
    Files.delete(probe)
    probe.getParent
  }

  /** Per-run roots with this prefix now in the scratch dir: the prefix
    * followed by digits only (a staged landing's root has `stage_`
    * between them). */
  private def runRoots(prefix: String): Set[String] = {
    val entries = Files.list(scratchParent)
    try entries.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit))
      .toSet
    finally entries.close()
  }

  /** The query's per-run root prefix, e.g. `graft_q116_`. */
  private def rootPrefix(query: String): String =
    "graft_" + query.takeWhile(_ != '_') + "_"

  warmJobs.foreach { case (query, jobs) =>
    test(s"$query: $jobs jobs warm, and no per-run root left after it returns") {
      val fn = SparkEntry.queries(query)
      fn(spark, dir)
      val before = runRoots(rootPrefix(query))
      jobsOf { fn(spark, dir); () } shouldBe jobs
      runRoots(rootPrefix(query)) -- before shouldBe empty
    }
  }

  test("q104 leaves no rollup root behind, and its result outlives the root") {
    val before = runRoots("graft_rollup_")
    val res = SparkEntry.queries("q104_incremental_rollup")(spark, dir)
    runRoots("graft_rollup_") -- before shouldBe empty
    res.count() should be > 0L
  }

  test("a run body that throws still removes its root") {
    var root: Path = null
    val e = intercept[IllegalStateException] {
      Staged.run("graft_spec_throw_") { r =>
        root = r
        Files.createDirectories(r.resolve("a").resolve("b"))
        Files.write(r.resolve("a").resolve("b").resolve("f"), Array[Byte](1, 2))
        throw new IllegalStateException("body failed")
      }
    }
    e.getMessage shouldBe "body failed"
    root should not be null
    Files.exists(root) shouldBe false
  }

  /** The staged landing a query links from (built by the query's first
    * call when no earlier test built it). */
  private def stagedLanding(prefix: String, query: String): Path = {
    def staged = Staged.memoized[Path](s"${prefix}_landing").get(dir)
    staged.getOrElse { SparkEntry.queries(query)(spark, dir); staged.get }
  }

  private val landings = Seq(
    "q116" -> "q116_streaming_admission", "q122" -> "q122_streaming_ann_ingest",
    "q145" -> "q145_streaming_ann_probe", "q150" -> "q150_streaming_dsir_model",
    "q154" -> "q154_streaming_pca_moments")

  test("a staged landing's a.parquet is older than its b.parquet") {
    landings.foreach { case (prefix, query) =>
      val landing = stagedLanding(prefix, query)
      def mtime(name: String) = Files.getLastModifiedTime(landing.resolve(name)).toMillis
      withClue(prefix) { mtime("a.parquet") should be < mtime("b.parquet") }
    }
  }

  test("a run's landing files are hard links to the staged files") {
    landings.foreach { case (prefix, query) =>
      val staged = stagedLanding(prefix, query)
      Staged.run("graft_spec_link_") { root =>
        val landing = root.resolve("landing")
        Staged.linkTree(staged, landing)
        Seq("a.parquet", "b.parquet").foreach { name =>
          withClue(s"$prefix/$name") {
            Files.getAttribute(landing.resolve(name), "unix:ino") shouldBe
              Files.getAttribute(staged.resolve(name), "unix:ino")
          }
        }
        spark.range(1).toDF()
      }
    }
  }
}
