package graft

import org.apache.spark.sql.SparkSession

/** The session policy every entry point and the test suite share. A
  * session setting changes here and nowhere else. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or this host's processor count when unset.
    * `.toInt` fails fast on a non-numeric value: mains interpolate it
    * unquoted into their artifact JSON ("cpus":N), so a `local[*]`-style
    * value would otherwise silently emit invalid JSON. */
  def cpus(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `local[cpus]` (or `SPARK_MASTER`, a deployment
    * setting) with `cpus` shuffle partitions. */
  def build(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      // nanos-timestamp parquet (events) read as raw long at session
      // build, not as a loader side effect — see Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // checkpoints bypass the Hadoop local-FS metadata-write path, which
      // forks per write when libhadoop is absent — see
      // NioCheckpointFileManager
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.NioCheckpointFileManager")
      // batch-write commits: direct task commit (algorithm 2) and no
      // _SUCCESS markers — per-batch output dirs are re-read by path,
      // markers are filtered as debris everywhere (see Maintenance)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // compiled-plan (Janino) cache, default 100 entries: one driver
      // running the 166-query suite holds far more generated classes, so
      // every pass re-compiled nearly every plan (~10-50 ms per class).
      // Static conf, so it must be set here; results are unaffected.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
}
