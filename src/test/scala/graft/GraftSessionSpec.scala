package graft

class GraftSessionSpec extends SparkSpecBase {

  test("the suite's session carries every shared session setting") {
    val conf = spark.sparkContext.getConf
    Seq(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[4]"),
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "graft.NioCheckpointFileManager",
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
      "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "8192"
    ).foreach { case (k, v) => (k, conf.getOption(k)) shouldBe ((k, Some(v))) }
    spark.conf.get("spark.sql.warehouse.dir") should include("graft_wh_")
  }

  test("SPARK_GRAFT_CPUS parses to an Int, defaults to nproc, rejects junk") {
    GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "6")) shouldBe 6
    GraftSession.cpus(Map.empty) shouldBe
      Runtime.getRuntime.availableProcessors
    an[NumberFormatException] should be thrownBy
      GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "local[*]"))
  }
}
