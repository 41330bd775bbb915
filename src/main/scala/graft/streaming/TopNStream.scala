package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Fs

/** Streaming top-N per key WITH REPLACEMENT — the reference's TopN
  * snapshot (`/root/reference/scripts/etl_snapshot_topn.py`'s head-N
  * slice) made continuous: the standing state is each source's current
  * top `n` documents by (score desc, doc_id asc), and every micro-batch
  * may displace standing entries that a better-scored arrival beats.
  * Contrast [[QuotaStream]]: a quota is first-come-first-served and
  * never evicts; a leaderboard keeps the BEST seen so far.
  *
  * State is AT MOST n×|sources| rows — bounded by the domain vocabulary
  * and the board size, never the corpus. Each batch folds as
  * top-N(state ∪ batch) per source and REPLACES the state through
  * [[graft.operators.Upsert.mergeParquet]]'s staged swap. Replay needs no special case
  * beyond the applied-marker skip: top-N is idempotent under re-merge
  * (top-N(top-N(S ∪ B) ∪ B) = top-N(S ∪ B) — the merge property of any
  * total order), so a replayed batch folded against the already-folded
  * state would reproduce it bit-for-bit anyway; the marker just makes
  * the skip free.
  *
  * At 100 TB: the per-batch work is one window over (state ∪ batch) —
  * state is board-sized, the batch is batch-sized, and nothing rescans
  * the corpus; the final board is the state table itself, read back in
  * one board-sized scan.
  */
object TopNStream {

  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The SESSION-scoped board fold — [[runTopN]]'s loop body, exposed as
    * a factory so it also plugs into [[AdmissionStream.runAdmission]]'s
    * `onBatchAdmitted` observer seam (the dedup → leaderboard
    * composition: only near-dup-admitted rows compete for the board,
    * q162). A [[StateFold]] (see there for the group-commit protocol and
    * durability contract) whose state is the board itself: at most
    * n×|sources| (doc_id, source, score) rows held driver-side. Per batch
    * ONE job — the top-N window over local board ∪ arrivals, collected
    * back; an empty batch reproduces the board and changes nothing.
    * Idempotent even WITHOUT the applied marker, by top-N's merge
    * property; the marker makes the skip free. */
  def boardFold(spark: SparkSession, statePath: String, n: Int,
      scoreCol: String, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold = {
    // canonical (source, score desc, doc_id) order, so fold-result
    // comparisons and flushed files are deterministic
    def canonical(rows: Array[Row]): Vector[(Long, String, Long)] =
      rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy { case (id, src, sc) => (src, -sc, id) }.toVector
    def boardDf(board: Vector[(Long, String, Long)]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(board.map {
        case (id, src, sc) => Row(id, src, sc) }: _*), boardSchema)
    StateFold(spark, statePath, "top-N", boardSchema.add("p_n", IntegerType),
        flushEvery, durable) { state =>
      // board-size fail-fast: a board built at one n is a DIFFERENT
      // leaderboard at another — the standing state must not silently
      // shrink or pad
      state.foreach { st =>
        val ns = st.select(col("p_n")).distinct()
          .collect().map(_.getInt(0)).toSet
        require(ns.isEmpty || ns == Set(n),
          s"top-N state at $statePath was built with n=${ns.mkString(",")}; " +
            s"refusing to fold with n=$n — start a new state table for " +
            "a new board size")
      }
      canonical(state.map(_.select(col("doc_id"), col("source"), col("score"))
        .collect()).getOrElse(Array.empty))
    } ((board, batch, _) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id").asc)
      val next = canonical(boardDf(board)
        .unionByName(batch.select(col("doc_id"), col("source"),
          col(scoreCol).cast("long").as("score")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= n)
        .select(col("doc_id"), col("source"), col("score"))
        .collect())
      Some(next).filter(_ != board)
    }, _.map { case (id, src, sc) => Row(id, src, sc, n) })
  }

  private val boardSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("score", LongType)))

  /** Read the standing board at `statePath` (empty frame when none). */
  def readBoard(spark: SparkSession, statePath: String): DataFrame =
    if (Fs.exists(statePath))
      spark.read.parquet(statePath)
        .select(col("source"), col("doc_id"), col("score"))
    else
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("source", StringType),
          StructField("doc_id", LongType), StructField("score", LongType))))

  /** Run a bounded landing stream to completion, maintaining each
    * source's top-`n` board by (`score` desc, doc_id asc). `scoreCol`
    * names the landing column used as the score (must be castable to
    * long — exact-integer ordering, no float ties). Returns the final
    * board (`source`, `doc_id`, `score`). */
  def runTopN(spark: SparkSession, landingDir: String, statePath: String,
      n: Int, scoreCol: String,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(n > 0, "n must be positive")
    StateFold.runFold(statePath, "top-N", checkpointDir,
      StateFold.landing(spark, landingDir, StateFold.landingSchema(spark,
        landingDir, schemaFallback, defaultLandingSchema), maxFilesPerTrigger))(
      boardFold(spark, statePath, n, scoreCol, _, _))
    readBoard(spark, statePath)
  }
}
