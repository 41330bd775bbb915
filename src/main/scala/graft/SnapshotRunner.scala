package graft

import org.apache.spark.sql.functions._

import graft.operators.SnapshotPipeline
import graft.sources.{CardMetadata, Tables}

/** The reference's `make refresh` + `make validate` as one Spark job
  * (reference Makefile:42-52): ingest battle-log JSON + leaderboard JSON +
  * card metadata, build the star-schema snapshot, overwrite the warehouse
  * directory, then run the post-load invariant checks
  * (validate_snapshot.py, SURVEY §5) and exit nonzero on violation.
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
    spark.sparkContext.setLogLevel("WARN")

    val battles = Tables.readBattlesJson(spark, battlesPath)
    val leaderboard = spark.read
      .schema(Tables.leaderboardSchema).json(leaderboardPath)
    val meta = CardMetadata.load(spark, metaPath)

    val snap = SnapshotPipeline.build(spark, battles, leaderboard, meta, topN)
    snap.write(outDir)

    // ---- post-load validation (validate_snapshot.py:49-206) ------------
    val written = snap.all.keys.map(n =>
      n -> spark.read.parquet(s"$outDir/$n")).toMap
    var failures = List.empty[String]
    def check(name: String)(ok: => Boolean): Unit =
      if (!ok) failures ::= name

    check("deck_cards: every deck has exactly 8 rows") {
      written("deck_cards").groupBy("deck_hash").count()
        .filter(col("count") =!= 8).isEmpty
    }
    check("0 <= wins <= uses in all stats tables") {
      Seq("player_decks", "meta_deck_types", "meta_type_deck_ids",
        "meta_type_cards", "player_type_cards", "meta_type_matchups")
        .forall(t => written(t)
          .filter(col("wins") < 0 || col("uses") < 0 || col("wins") > col("uses"))
          .isEmpty)
    }
    check("meta_deck_types non-empty") {
      written("meta_deck_types").limit(1).count() == 1
    }
    check("player count <= topN") {
      written("player").count() <= topN
    }
    check("topn_obs <= meta_obs <= 2*topn_obs") {
      val topnObs = written("player_decks")
        .agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      val metaObs = written("meta_deck_types")
        .agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      topnObs <= metaObs && metaObs <= 2 * topnObs
    }
    check("unknown-archetype ratio <= 0.30") {
      // the reference gates on 'Unknown' only (validate_snapshot.py:116-145);
      // a Hybrid-heavy meta (our fallback label) is reported but not fatal
      val m = written("meta_deck_types")
      val total = m.agg(coalesce(sum("uses"), lit(0L))).head().getLong(0)
      def ratioOf(label: String): Double =
        if (total == 0L) 0.0
        else m.filter(lower(col("deck_type")) === label)
          .agg(coalesce(sum("uses"), lit(0L))).head().getLong(0).toDouble / total
      val hybrid = ratioOf("hybrid")
      if (hybrid > 0.30)
        System.err.println(f"[validate] warn: Hybrid fallback ratio $hybrid%.2f")
      ratioOf("unknown") <= 0.30
    }

    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[validate] FAILED: $f"))
      spark.stop()
      sys.exit(1)
    }
    println(s"[snapshot] wrote ${snap.all.size} tables to $outDir; all invariants hold")
    spark.stop()
  }
}
