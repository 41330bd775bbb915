package graft

import java.nio.file.Files

/** `graft.Bench`'s measurement modes, run on the suite's session over
  * sf0.001: `jobs` reports the job count [[SparkSpecBase.jobsOf]] counts
  * for the same warm call, and `plan` writes the formatted plan. */
class BenchModesSpec extends SparkSpecBase {
  private val dir = "/root/testdata/sf0.001"
  private val q01 = "q01_top_deck_types"

  test("jobs mode reports the job count of the same warm call") {
    val reported = Bench.jobs(spark, dir, q01, reps = 1)
    reported should have size 1
    reported.head should be > 0
    jobsOf { SparkEntry.queries(q01)(spark, dir).count(); () } shouldBe reported.head
  }

  test("plan mode writes <query>_<suffix>.txt holding the formatted plan") {
    val out = Files.createTempDirectory("graft_bench_plan_")
    try {
      Bench.plan(spark, dir, out.toString, "spec", Seq(q01))
      val file = out.resolve(s"${q01}_spec.txt")
      Files.exists(file) shouldBe true
      val text = new String(Files.readAllBytes(file), "UTF-8")
      text should startWith(s"== $q01 (spec, sf=$dir) ==")
      // formatted mode: the operator tree, then one numbered block per node
      text should include("== Physical Plan ==")
      text should include("(1) Scan parquet")
    } finally operators.Maintenance.rmTree(out.toFile)
  }
}
