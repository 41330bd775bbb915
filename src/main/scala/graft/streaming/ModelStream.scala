package graft.streaming

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.operators.Selection

/** STREAMING DSIR MODEL MAINTENANCE — the n-gram model artifact
  * ([[Selection.writeNgramModel]]) kept CURRENT under a document
  * firehose, the way [[CardStream]] maintains the dataset card and
  * [[EventStreams]] the CMS state: each micro-batch's hashed-n-gram
  * bucket counts ([[Selection.gramCells]] — ≤ 2·nBuckets cells however
  * large the batch) fold additively into the standing model table. The
  * counts are sums over disjoint document sets, so per-batch partials
  * merge EXACTLY: after any prefix of batches the artifact equals
  * [[Selection.writeNgramModel]] fitted over those batches' union in
  * one pass — the raw-corpus model a DSIR selection pass
  * ([[Selection.dsirWithModels]]) reloads is never stale by more than
  * one micro-batch, and the corpus is never rescanned.
  *
  * Scale shape: per batch, one batch-sized scan map-side combined to
  * ≤ 2·nBuckets cells before the shuffle, then a merge against a
  * ≤ 2·nBuckets-row standing table — the model state is bounded by the
  * hash width whatever the corpus, which is what makes continuous
  * maintenance viable when the stream is a firehose. Exactly-once is
  * the applied-batch marker: a replayed micro-batch (crash recovery
  * re-runs the last uncommitted batch) is skipped outright instead of
  * double-counting the additive fold. WRITES are GROUP-COMMITTED under
  * the [[StateFold]] discipline (driver-held bounded cells, one staged
  * swap per flush window + session end, single-writer lease, lost-fold
  * guard on durable continuations).
  */
object ModelStream {

  /** The flushed state-table schema. */
  private val stateSchema: StructType = StructType(Seq(
    StructField("s", IntegerType), StructField("b", LongType),
    StructField("c", LongType), StructField("p_nbuckets", IntegerType)))

  /** Landing schema fallback for an empty landing dir (stream opened
    * before the first file lands — footer probing needs a file). */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** The SESSION-scoped model fold — [[runModelStream]]'s loop body. A
    * [[StateFold]] (see there for the group-commit protocol and
    * durability contract) whose state is the standing cells held
    * driver-side (≤ 2·nBuckets rows — hash-width-bounded by
    * construction); each batch contributes ONE gramCells job, collected
    * and summed in memory.
    *
    * The parameter fail-fast refuses standing state fitted under a
    * different hash width than `nBuckets` (one bounded distinct over an
    * RLE'd constant column) or carrying no width at all: folding across
    * hash widths silently mis-counts every gram. */
  private[graft] def modelFold(spark: SparkSession, targetPath: String,
      nBuckets: Int, text: Column, flushEvery: Int = Int.MaxValue,
      durable: Boolean = false): StateFold =
    StateFold(spark, targetPath, "model", stateSchema, flushEvery, durable) {
      state =>
        state.foreach { t =>
          require(t.columns.contains("p_nbuckets"),
            s"model state at $targetPath carries no p_nbuckets — not a " +
              "writeNgramModel/ModelStream artifact; start a fresh targetPath")
          t.select(col("p_nbuckets")).filter(col("p_nbuckets").isNotNull)
            .distinct().collect()
            .foreach { r =>
              val pb = r.getInt(0)
              require(pb == nBuckets,
                s"model state at $targetPath was fitted at $pb buckets but " +
                  s"the stream was asked for $nBuckets — folding across hash " +
                  "widths silently mis-counts every gram; match the " +
                  "build-time width or start a fresh targetPath")
            }
        }
        state.map(_.select(col("s"), col("b"), col("c")).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap)
          .getOrElse(Map.empty[(Int, Long), Long])
    } ((cells, batch, _) => {
      val delta = Selection.gramCells(batch, text, nBuckets)
        .collect() // ≤ 2·nBuckets rows, the documented bounded collect
      if (delta.isEmpty) None
      else Some(delta.foldLeft(cells) { (m, r) =>
        val k = (r.getInt(0), r.getLong(1))
        m.updated(k, m.getOrElse(k, 0L) + r.getLong(2))
      })
    }, _.toSeq.sortBy(_._1).map { case ((s, b), c) => Row(s, b, c, nBuckets) })

  /** Run a bounded document stream to completion, folding each
    * micro-batch's hashed-n-gram counts into the model artifact at
    * `targetPath` (created on the first batch; readable by
    * [[Selection.readNgramModel]] / [[Selection.dsirWithModels]] at any
    * point between batches). `textCol` names the landing column holding
    * the document text.
    *
    * Cross-session contract = [[CardStream]]'s: a DURABLE
    * `checkpointDir` continues batch ids across invocations (committed
    * landing files are never re-folded); the scratch default is the
    * single-generation bounded replay, refused against standing state
    * whose applied-batch markers a restarted id sequence would collide
    * with. */
  def runModelStream(spark: SparkSession, landingDir: String,
      targetPath: String, nBuckets: Int, textCol: String = "text",
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): Unit = {
    StateFold.runFold(targetPath, "model", checkpointDir,
      StateFold.landing(spark, landingDir, StateFold.landingSchema(spark,
        landingDir, schemaFallback, defaultLandingSchema), maxFilesPerTrigger))(
      modelFold(spark, targetPath, nBuckets, col(textCol), _, _))
    ()
  }
}
