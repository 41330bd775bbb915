package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round plan evidence (plans/rNN/<query>_{before,after}.txt).
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Building a composed
  * query's frame EXECUTES its pipeline (the eager streaming harnesses),
  * so the dumped plan is the final returned frame's — for those queries
  * the committed BenchProbe decompositions are the per-job evidence and
  * the file says so in its header.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = GraftSession.build(GraftSession.cpus())
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        (s"== $name ($suffix, sf=$sfDir) ==\n" + plan + "\n").getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
