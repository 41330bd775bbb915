package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-domain QUOTA admission over a bounded landing stream — the
  * continuous-ingest form of
  * [[graft.operators.Sampling.exactNPerStratum]]'s cap: every source
  * (domain) may contribute at most `capPerSource` admitted documents
  * ACROSS the whole stream, first-come-first-served. The mix recipe a
  * tokens-per-domain budget specifies, enforced while the corpus is
  * still arriving instead of by a full re-selection pass.
  *
  * State is ONE ROW PER SOURCE (`source`, `admitted`) — bounded by the
  * domain vocabulary, never the corpus — folded additively per batch
  * through [[graft.operators.Upsert.mergeParquet]]'s applied-batch markers. A replayed
  * batch is recognized BEFORE recomputation: its admitted subdir is
  * already exactly the rows the original attempt wrote (the per-batch
  * admission is a deterministic function of the batch and the
  * pre-batch state), and the state fold is a marker no-op — so crash
  * replay can neither double-count a source nor admit a different set.
  * Within a batch the admitted rows are the per-source doc_id-ascending
  * head of the REMAINING quota; `rk` carries each row's position in its
  * source's overall admitted sequence (prior count + in-batch rank).
  *
  * At 100 TB: the per-batch work is one window over the batch
  * (partitioned by source) plus a join against the |sources|-row state
  * table — broadcast-sized by construction; rejected rows are dropped,
  * not deferred (the quota is a budget, not a queue), so no state ever
  * grows with the corpus.
  *
  * Reference scope: the head-N cap of
  * `/root/reference/scripts/etl_snapshot_topn.py` (TOP_N slice),
  * generalized per-domain and made continuous.
  */
object QuotaStream {

  /** Hard row cap on the quota fold's per-batch driver-side collect of
    * the admitted set (the [[graft.operators.Dedup.InBatchPairCap]]
    * discipline): at or under, the collected probe is the full set and
    * the write + count fold are pure driver work; over, the fold falls
    * back to the executor-side write-then-aggregate shape. ~128k
    * (source, id, rk) rows ≈ a few MB — bounded transfer whatever
    * capPerSource·|sources| is configured to. */
  private[graft] val AdmitCollectCap = 131072

  /** Landing schema fallback when the dir holds no parquet file yet:
    * the documents shape this stream consumes. */
  val defaultLandingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType)))

  /** The SESSION-scoped quota fold — [[runQuotaAdmission]]'s loop body,
    * exposed as a factory so it also plugs straight into
    * [[AdmissionStream.runAdmission]]'s `onBatchAdmitted` observer seam
    * (the dedup → quota composition of a continuous ingest: only
    * near-dup-admitted rows reach the quota, q160). A [[StateFold]] (see
    * there for the group-commit protocol and durability contract) whose
    * state is the |sources|-row counts map held driver-side. The applied
    * markers gate the WHOLE fold, so a replayed batch neither recomputes
    * against post-fold counts (which would admit a smaller, wrong set —
    * the original attempt's subdir stands) nor double-counts. Per batch
    * the ONLY full-plan job is the admission window's COLLECT
    * (quota-bounded — see the fold body); the subdir write replays the
    * collected rows through a trivial local plan and the per-source
    * delta folds driver-side. */
  def quotaFold(spark: SparkSession, statePath: String, outPath: String,
      capPerSource: Long,
      flushEvery: Int = Int.MaxValue,
      durable: Boolean = false,
      collectCap: Int = AdmitCollectCap): StateFold = {
    val countsSchema = StructType(Seq(StructField("source", StringType),
      StructField("admitted", LongType)))
    def countsDf(counts: Map[String, Long]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(counts.toSeq.sortBy(_._1)
        .map { case (src, n) => Row(src, n) }: _*), countsSchema)
    def plus(counts: Map[String, Long], src: String, n: Long) =
      counts.updated(src, counts.getOrElse(src, 0L) + n)
    StateFold(spark, statePath, "quota", countsSchema.add("p_cap", LongType),
        flushEvery, durable) { state =>
      // budget fail-fast: counts accumulated under one budget are not
      // comparable under another — a cap change needs a fresh state table
      state.foreach { st =>
        // a table WITHOUT the p_cap column: construction-time evidence
        // written with a markers-only schema — tolerated when zero-row
        // (no budget evidence; crashing here would be unrecoverable,
        // priming never rewrites an existing table). A ROW-carrying table
        // without p_cap is a pre-parameter legacy state under an unknown
        // budget and still fails fast.
        val caps =
          if (!st.columns.contains("p_cap")) {
            require(st.isEmpty,
              s"quota state at $statePath carries rows but no p_cap " +
                "column (a pre-parameter legacy table under an unknown " +
                "budget) — rebuild the state under an explicit cap")
            Set.empty[Long]
          } else st.select(col("p_cap")).filter(col("p_cap").isNotNull)
            .distinct().collect().map(_.getLong(0)).toSet
        require(caps.isEmpty || caps == Set(capPerSource),
          s"quota state at $statePath was built with capPerSource=" +
            s"${caps.mkString(",")}; refusing to fold with " +
            s"$capPerSource — start a new state table for a new budget")
      }
      state.map(_.select(col("source"), col("admitted")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty[String, Long])
    } ((counts, batch, batchId) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id").asc)
      val admitted = batch.select(col("doc_id"), col("source"))
        .withColumn("__rn", row_number().over(w).cast("long"))
        .join(broadcast(countsDf(counts)
          .withColumnRenamed("admitted", "__got")), Seq("source"), "left")
        .filter(col("__rn") <=
          lit(capPerSource) - coalesce(col("__got"), lit(0L)))
        .withColumn("rk", col("__rn") + coalesce(col("__got"), lit(0L)))
        .select(col("source"), col("doc_id"), col("rk"))
      val subdir = s"$outPath/batch-$batchId"
      // ONE evaluation of the admission window, COLLECTED when the
      // transfer is provably small: the post-filter set is quota-bounded
      // (≤ remaining budget ≤ capPerSource·|sources| rows however large
      // the batch), but that bound is a factor capPerSource LARGER than
      // the sources-sized state — a big cap over many sources is a
      // legitimate configuration, so the collect is guarded by a hard row
      // cap, through the one-job bounded take (Dedup.takeBounded: at or
      // under the cap the probe IS the full set). Under the cap, both
      // downstream uses are driver-side: the per-source delta is a local
      // fold, and the batchId-keyed subdir (a replayed batch overwrites
      // itself with the identical set — exactly-once) writes the
      // collected rows, sorted canonically so the file is deterministic
      // across replays, through one trivial local plan instead of
      // re-running the window plan and reading the file back. Past the
      // cap, the executor-side shape: write the admitted frame (one
      // canonical sorted file), read the per-source delta back as a
      // sources-bounded aggregate — two extra jobs, paid only when the
      // admitted set is genuinely too big to move through the driver.
      val head = graft.operators.Dedup.takeBounded(admitted, collectCap)
      val delta: Seq[(String, Long)] =
        if (head.length <= collectCap) {
          val rows = head
            .sortBy(r => (String.valueOf(r.getString(0)), r.getLong(1)))
          spark.createDataFrame(java.util.Arrays.asList(rows: _*),
              admitted.schema).coalesce(1)
            .write.mode("overwrite").parquet(subdir)
          rows.groupBy(_.getString(0)).map { case (src, rs) =>
            src -> rs.length.toLong }.toSeq
        } else {
          admitted.coalesce(1)
            .sortWithinPartitions(col("source"), col("doc_id"))
            .write.mode("overwrite").parquet(subdir)
          spark.read.parquet(subdir)
            .groupBy(col("source")).agg(count(lit(1)).as("n"))
            .collect() // |sources|-bounded
            .map(r => r.getString(0) -> r.getLong(1)).toSeq
        }
      if (delta.isEmpty) None
      else Some(delta.foldLeft(counts) { case (m, (src, n)) => plus(m, src, n) })
    }, _.toSeq.sortBy(_._1).map { case (src, n) => Row(src, n, capPerSource) })
  }

  /** Run a bounded landing stream to completion, admitting per-source
    * heads until each source's running count reaches `capPerSource`.
    * Returns the admitted rows (`source`, `doc_id`, `rk`) across all
    * batches of THIS run (stale higher-id batch subdirs from a prior,
    * longer run are swept, mirroring [[AdmissionStream.runAdmission]]). */
  def runQuotaAdmission(spark: SparkSession, landingDir: String,
      statePath: String, outPath: String, capPerSource: Long,
      maxFilesPerTrigger: Option[Int] = None,
      schemaFallback: Option[StructType] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    require(capPerSource > 0, "capPerSource must be positive")
    lazy val landingSchema = StateFold.landingSchema(spark, landingDir,
      schemaFallback, defaultLandingSchema)
    val lastBatchId = StateFold.runFold(statePath, "quota",
      checkpointDir, StateFold.landing(spark, landingDir, landingSchema,
        maxFilesPerTrigger))(
      quotaFold(spark, statePath, outPath, capPerSource, _, _))
    AdmissionStream.pruneStaleBatches(spark, outPath, lastBatchId)
    // the admitted rows as the fold wrote them: landing source and
    // doc_id, long rank
    AdmissionStream.readBatchTree(spark, outPath, StructType(
      Seq("source", "doc_id").flatMap(n => landingSchema.find(_.name == n)) :+
        StructField("rk", LongType)))
  }
}
