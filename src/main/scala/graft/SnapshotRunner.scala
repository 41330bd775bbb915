package graft

import graft.operators.SnapshotPipeline
import graft.sources.{CardMetadata, Tables}

/** The reference's `make refresh` + `make validate` as one Spark job
  * (reference Makefile:42-52): ingest battle-log JSON + leaderboard JSON +
  * card metadata, build the star-schema snapshot, overwrite the warehouse
  * directory, then run the post-load invariant checks
  * (`Snapshot.validate`: validate_snapshot.py, SURVEY §5) and exit
  * nonzero on violation.
  *
  * Usage:
  *   runMain graft.SnapshotRunner <battlesJsonPath> <leaderboardJsonPath>
  *     <cardMetadataJsonPath> <outDir> [topN]
  *
  * Extraction (the HTTP fetch) stays outside the engine by design — any
  * fetcher that dumps the API's JSON works; at scale the dump lands on
  * object storage and this job reads it with the explicit schemas in
  * [[graft.sources.Tables]] (no inference pass).
  */
object SnapshotRunner {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: SnapshotRunner <battlesJson> <leaderboardJson> <cardMetaJson> <outDir> [topN]")
    val Array(battlesPath, leaderboardPath, metaPath, outDir) = args.take(4)
    val topN = if (args.length > 4) args(4).toInt else 1000

    val spark = GraftSession.build(GraftSession.cpus())
    val (tables, failures) = try {
      spark.sparkContext.setLogLevel("WARN")
      val battles = Tables.readBattlesJson(spark, battlesPath)
      val leaderboard = spark.read
        .schema(Tables.leaderboardSchema).json(leaderboardPath)
      val meta = CardMetadata.load(spark, metaPath)

      val snap = SnapshotPipeline.build(spark, battles, leaderboard, meta, topN)
      snap.write(outDir)

      // a Hybrid-heavy meta (our fallback label) is reported but not fatal
      val hybrid = hybridShare(snap)
      if (hybrid > 0.30)
        System.err.println(f"[validate] warn: Hybrid fallback ratio $hybrid%.2f")
      (snap.all.size, snap.validate(outDir, topN))
    } finally spark.stop()

    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[validate] FAILED: $f"))
      sys.exit(1)
    }
    println(s"[snapshot] wrote $tables tables to $outDir; all invariants hold")
  }

  /** The share of meta_deck_types uses labelled Hybrid (the classifier's
    * fallback), 0 with no uses. Read from the table's held rows, so it
    * runs no job after [[SnapshotPipeline.build]]. */
  def hybridShare(snap: SnapshotPipeline.Snapshot): Double = {
    val rows = snap.metaDeckTypes.select("deck_type", "uses").collect()
    def uses(keep: String => Boolean): Long =
      rows.iterator.filter(r => keep(r.getString(0))).map(_.getLong(1)).sum
    val total = uses(_ => true)
    if (total == 0L) 0.0
    else uses(t => t != null && t.toLowerCase(java.util.Locale.ROOT) == "hybrid").toDouble / total
  }
}
