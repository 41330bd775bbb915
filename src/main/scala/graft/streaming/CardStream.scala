package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{TextFunctions => TF}
import graft.operators.{QualityModel, Sketch, Upsert}

/** STREAMING DATASET CARD — the q132 release summary maintained
  * INCREMENTALLY: every leg of the card is additive or mergeable (doc/
  * char/token counts and the model-score/kept aggregates are plain sums;
  * the vocabulary-richness leg is a KMV sketch, whose merge law makes
  * per-batch sketches fold into the whole-corpus sketch bit-exactly), so
  * a document firehose can keep the card current by folding one
  * source-count-sized partial per micro-batch into a standing parquet
  * state table — never recomputing over the corpus. At 100 TB this is
  * the difference between a card that is hours stale after a full-corpus
  * job and one that is one micro-batch stale for the cost of scanning
  * the batch.
  *
  * State = one row per source: the five counters plus the k-min hash
  * array. Exactly-once via [[Upsert.mergeParquet]]'s batchId-keyed
  * staged swap (the [[EventStreams.incrementalRollup]] discipline), and
  * the same cross-session guard as `streamingCmsCells`: a standing card
  * with applied-batch markers requires the durable checkpoint that
  * produced it — a scratch checkpoint would restart ids at 0 and
  * silently skip data.
  *
  * The final card read derives `est_distinct_tokens` from the stored
  * mins with [[Sketch.kmvEstimate]] — identical integers to the batch
  * card's direct estimate, which is exactly how the driver oracle
  * checks it (q135's oracle IS q132's SQL: streaming ≡ batch).
  */
object CardStream {

  /** Landing schema (the documents shape the card consumes — four
    * columns, so the stream scans prune to them at the source). */
  val landingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text", StringType)))

  private val stateCols =
    Seq("docs", "chars", "tokens", "model_score_micros", "kept_docs")

  /** One micro-batch's card partial: per-source counters + the batch's
    * KMV token sketch — exactly q132's three legs computed over the
    * batch alone. Source-count-sized output.
    *
    * ONE scan, ONE aggregation: every leg's per-row term (counters, the
    * model score, and the row's own k-min-distinct hash array) comes out
    * of a single fused projection, and the per-source fold merges the
    * row sketches with [[Sketch.kmvMerge]] — whose merge law makes the
    * result bit-identical to the k smallest distinct hashes over the
    * source's full token stream (any union-wide top-k hash is in its
    * own row's top-k). The previous shape scanned the batch THREE times
    * (counters, exploded-token sketch, model gate) and joined twice —
    * at firehose cadence that tripled the batch's text reads and
    * tokenization per micro-batch. */
  private[graft] def cardPartial(batch: DataFrame, weights: Seq[Long],
      k: Int): DataFrame =
    batch
      .select(col("source"), col("n_chars"),
        // ONE tokenization per row: the token COUNT is taken off the
        // same lowered array the sketch and the model score consume —
        // lower() never creates or removes whitespace, so the count is
        // bit-identical to tokenCount(text) (pinned by the q132 oracle)
        TF.tokens(lower(col("text"))).as("__toks"))
      .withColumn("__tc", size(col("__toks")))
      .select(col("source"), col("n_chars"), col("__tc"), col("__toks"),
        TF.tokenShingles(col("__toks"), 2).as("__bi"))
      .select(col("source"), col("n_chars"), col("__tc"),
        // the model score over the SAME tokenization (QualityModel's
        // expression tree verbatim — integers bit-identical to score())
        QualityModel.scoreMicrosExpr(col("__toks"), col("__bi"), weights)
          .as("__score"),
        // the row's KMV: k smallest distinct token hashes, ascending —
        // the same semilattice element the per-source merge folds.
        // Tokens dedup BEFORE hashing: repeated tokens collapse in the
        // distinct either way, so hashing each instance paid |tokens|
        // md5s for an |distinct tokens| result (the md5 is the whole
        // data-linear cost of this leg); the post-hash distinct stays
        // for the collision case
        slice(array_sort(array_distinct(filter(
          transform(array_distinct(col("__toks")), w => Sketch.hash60(w)),
          h => h.isNotNull))), 1, k).as("__mins"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_chars")).cast("long").as("chars"),
        sum(col("__tc")).cast("long").as("tokens"),
        sum(col("__score")).as("model_score_micros"),
        sum(when(col("__score") >= 0L, 1L).otherwise(0L)).as("kept_docs"),
        Sketch.kmvMerge(k)(col("__mins")).as("mins"))
      .select(col("source") +: (stateCols.map(col) ++ Seq(
        col("mins"),
        // the sketch size rides the state as an embedded parameter (the
        // nearDupIndex versioned-artifact discipline): merging or
        // reading k-A state as k-B silently corrupts the estimate, so
        // both fail fast instead
        lit(k).as("p_k"))): _*)

  /** Fold a batch partial into the standing card state: counters sum
    * (full outer on source — a batch can introduce a new source), mins
    * merge as the k smallest DISTINCT of the union — the
    * KmvMergeAggregator law as a plain array expression, so the merged
    * sketch is bit-identical to the direct whole-stream sketch. */
  private[graft] def mergeCards(k: Int)(cur: DataFrame,
      upd: DataFrame): DataFrame = {
    val c = cur.select(col("source") +:
      (stateCols.map(n => col(n).as(s"c_$n")) :+ col("mins").as("c_mins")): _*)
    val u = upd.select(col("source") +:
      (stateCols.map(n => col(n).as(s"u_$n")) :+ col("mins").as("u_mins")): _*)
    val empty = "CAST(array() AS array<bigint>)"
    c.join(u, Seq("source"), "full_outer")
      .select(col("source") +: (stateCols.map(n =>
        (coalesce(col(s"c_$n"), lit(0L)) + coalesce(col(s"u_$n"), lit(0L)))
          .as(n)) ++ Seq(
        expr(s"slice(array_sort(array_distinct(concat(" +
            s"coalesce(c_mins, $empty), coalesce(u_mins, $empty)))), 1, $k)")
          .as("mins"),
        lit(k).as("p_k"))): _*)
  }

  /** Fail fast when the standing card state `t` (at `targetPath`) was
    * built under a different sketch size than `k` — the
    * embedded-parameter check (one bounded distinct over an RLE'd
    * constant column). */
  private def validateCardK(t: DataFrame, targetPath: String, k: Int): Unit =
    if (t.columns.contains("p_k"))
      t.select(col("p_k")).filter(col("p_k").isNotNull)
        .distinct().collect()
        .foreach { r =>
          val pk = r.getInt(0)
          require(pk == k,
            s"card state at $targetPath carries k=$pk sketches but was " +
              s"asked for k=$k — merging or estimating across sketch " +
              "sizes silently corrupts the vocabulary estimate; match " +
              "the build-time k or start a fresh targetPath")
        }

  /** The SESSION-scoped card fold — [[runCardStream]]'s loop body,
    * exposed as a factory so compositions share it (the admission loop's
    * `onBatchAdmitted` observer: the card over only the ADMITTED docs,
    * q143). A [[StateFold]] (see there for the group-commit protocol and
    * durability contract) whose state is the card held driver-side
    * (|sources| rows of five counters plus a k-long mins array). Per
    * batch ONE job — the partial's scan+agg, collected back — merged by
    * [[mergeCards]]'s law on longs ([[mergeCardsLocal]]), bit-identical
    * by [[StateFoldSpec]]'s local≡DF pin. */
  def cardFold(spark: SparkSession, targetPath: String, weights: Seq[Long],
      k: Int, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold =
    StateFold(spark, targetPath, "card", cardSchema, flushEvery, durable) {
      state =>
        state.foreach(validateCardK(_, targetPath, k))
        state.map(collectCard).getOrElse(Map.empty[String, CardRow])
    } ((card, batch, _) => {
      val partial = collectCard(cardPartial(batch, weights, k))
      if (partial.isEmpty) None else Some(mergeCardsLocal(card, partial, k))
    }, _.toSeq.sortBy(_._1).map { case (src, r) =>
      Row(src, r.docs, r.chars, r.tokens, r.modelScoreMicros, r.keptDocs,
        r.mins, k) })

  /** The card state's one-row-per-source payload, held driver-side by
    * [[cardFold]]: the five counters plus the KMV mins (ascending, ≤ k
    * distinct hashes). */
  private[graft] final case class CardRow(docs: Long, chars: Long,
      tokens: Long, modelScoreMicros: Long, keptDocs: Long,
      mins: Vector[Long])

  /** Collect a card table/partial (the [[cardPartial]] shape) into the
    * driver-side map — |sources|-bounded by construction. */
  private[graft] def collectCard(df: DataFrame): Map[String, CardRow] =
    df.select(col("source") +: (stateCols.map(col) :+ col("mins")): _*)
      .collect()
      .map { r =>
        r.getString(0) -> CardRow(r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          if (r.isNullAt(6)) Vector.empty
          else r.getSeq[Long](6).toVector)
      }.toMap

  /** [[mergeCards]]'s law applied driver-side: counters sum per source
    * (full outer — a batch can introduce a new source), mins merge as
    * the k smallest DISTINCT of the union, ascending. Exact long
    * arithmetic on both sides, so local ≡ DF bit-for-bit
    * (CardStreamSpec pins it). */
  private[graft] def mergeCardsLocal(cur: Map[String, CardRow],
      upd: Map[String, CardRow], k: Int): Map[String, CardRow] =
    (cur.keySet ++ upd.keySet).iterator.map { src =>
      val merged = (cur.get(src), upd.get(src)) match {
        case (Some(a), Some(b)) => CardRow(
          a.docs + b.docs, a.chars + b.chars, a.tokens + b.tokens,
          a.modelScoreMicros + b.modelScoreMicros, a.keptDocs + b.keptDocs,
          (a.mins ++ b.mins).distinct.sorted.take(k))
        case (Some(a), None) => a
        case (None, b) => b.get
      }
      src -> merged
    }.toMap

  /** The card state table's schema (sorted by source when flushed;
    * `p_k` embedded). */
  private val cardSchema = StructType(Seq(
    StructField("source", StringType)) ++
    stateCols.map(StructField(_, LongType)) ++ Seq(
    StructField("mins", ArrayType(LongType, containsNull = false)),
    StructField("p_k", IntegerType)))

  /** Run a bounded document stream to completion, folding each
    * micro-batch's card partial into the standing state at
    * `targetPath`. `weights` is the quality model (q130's shape);
    * `k` the KMV size. */
  def runCardStream(spark: SparkSession, landingDir: String,
      targetPath: String, weights: Seq[Long], k: Int = 64,
      maxFilesPerTrigger: Option[Int] = None,
      checkpointDir: Option[String] = None): Unit = {
    StateFold.runFold(targetPath, "card", checkpointDir,
      StateFold.landing(spark, landingDir, landingSchema, maxFilesPerTrigger))(
      cardFold(spark, targetPath, weights, k, _, _))
    ()
  }

  /** The card read off the standing state — q132's output shape, with
    * the vocabulary estimate derived from the stored sketch (the k must
    * match the state's embedded `p_k`; a mismatch fails fast). */
  def readCard(spark: SparkSession, targetPath: String,
      k: Int = 64): DataFrame = {
    Upsert.recoverStagedSwap(targetPath)
    val t = spark.read.parquet(targetPath)
    validateCardK(t, targetPath, k)
    t.select(col("source"), col("docs"), col("chars"), col("tokens"),
        Sketch.kmvEstimate("mins", k).as("est_distinct_tokens"),
        col("model_score_micros"), col("kept_docs"))
  }
}
