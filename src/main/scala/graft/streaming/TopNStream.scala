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
  * At 100 TB: the per-batch work is one map-only pass over the batch and
  * a driver-side merge with the board-sized state — nothing shuffles and
  * nothing rescans the corpus; the final board is the state table
  * itself, read back in one board-sized scan.
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
    * ONE job, the one that reads the batch: each partition reduces its
    * rows to their per-source top-n (no exchange, at most n×|sources|
    * rows per partition come back), and the driver merges those into
    * the board by (source, score desc, doc_id) — top-N(S ∪ B) =
    * top-N(S ∪ ⋃ top-N(Bᵢ)) by the merge property above, so the board is
    * the one the old window over board ∪ batch computed. An empty batch
    * reproduces the board and changes nothing. Idempotent even WITHOUT
    * the applied marker, by the same property; the marker makes the skip
    * free. */
  def boardFold(spark: SparkSession, statePath: String, n: Int,
      scoreCol: String, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold = {
    // canonical (source, score desc, doc_id) order, so fold-result
    // comparisons and flushed files are deterministic
    def canonical(entries: Iterable[Entry]): Vector[(Long, String, Long)] =
      entries.map { case (id, src, sc) => (id.longValue, src, sc.longValue) }
        .toVector.sortBy { case (id, src, sc) => (src, -sc, id) }
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
        .collect().toSeq.map(entry)).getOrElse(Nil))
    } ((board, batch, _) => {
      val partial = spark.sparkContext.runJob(
        batch.select(col("doc_id"), col("source"),
          col(scoreCol).cast("long").as("score")).rdd,
        (it: Iterator[Row]) => topN(it.map(entry).toSeq, n).toArray)
      val next = canonical(topN(board.map { case (id, src, sc) =>
        (Long.box(id), src, Long.box(sc)) } ++ partial.flatMap(_.toSeq), n))
      Some(next).filter(_ != board)
    }, _.map { case (id, src, sc) => Row(id, src, sc, n) })
  }

  /** A board entry (doc_id, source, score), nulls as the landing gave
    * them. */
  private type Entry = (java.lang.Long, String, java.lang.Long)

  private def entry(r: Row): Entry =
    (r.getAs[java.lang.Long](0), r.getString(1), r.getAs[java.lang.Long](2))

  /** The board's order within a source: score desc NULLS LAST, then
    * doc_id asc NULLS FIRST — Spark's defaults for the window the board
    * is defined by. */
  private val byRank: Ordering[Entry] =
    Ordering.Tuple4(Ordering.Boolean, Ordering.Long.reverse,
      Ordering.Boolean, Ordering.Long).on { case (id, _, sc) =>
      (sc == null, if (sc == null) 0L else sc.longValue,
        id != null, if (id == null) 0L else id.longValue)
    }

  /** Each source's first `n` entries by [[byRank]]. */
  private def topN(entries: Seq[Entry], n: Int): Seq[Entry] =
    entries.groupBy(_._2).values.flatMap(_.sorted(byRank).take(n)).toSeq

  private val boardSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("score", LongType)))

  /** Read the standing board at `statePath` (empty frame when none),
    * under the schema it was written with — no footer-inference job. */
  def readBoard(spark: SparkSession, statePath: String): DataFrame =
    if (Fs.exists(statePath))
      spark.read.schema(boardSchema).parquet(statePath)
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
