package graft

/** Prints the bench's calibration probes (Calib.json) and exits — a
  * cheap channel-health check before committing to a full gated bench
  * run on this shared host. */
object CalibMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cpus())
    spark.sparkContext.setLogLevel("WARN")
    // one untouched-by-cache warmup scan, then the recorded probes
    Calib.scanAll(spark, sfDir)
    println("CALIB " + Calib.json(spark, sfDir))
    spark.stop()
  }
}
