package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Families:
  *  - exact: [[bruteForceTopK]] — the broadcast query set scored against
  *    the whole corpus; the baseline and the recall oracle. [[sq8TopK]]
  *    runs it over an SQ8-reconstructed corpus.
  *  - LSH: [[srpTopK]] — sign-random-projection buckets with 1-bit-flip
  *    multi-probe; each query scores only its probed buckets.
  *  - IVF: [[ivfTopK]] (KMeans quantizer) and [[ivfFlatTopK]] (fixed,
  *    oracle-checkable centroids); the materialized artifact is
  *    [[writeIvfFlatIndex]] → [[ivfFlatProbe]], with append, delete and
  *    [[compactIvfFlatIndex]].
  *  - PQ: [[pqEncode]] → [[pqTopK]] (ADC scoring) and [[ivfPqTopK]] (IVF
  *    cells × PQ codes); the artifact is [[writeIvfPqIndex]] →
  *    [[ivfPqProbe]], with [[compactIvfPqIndex]].
  *  - quantizer training: [[hashCentroids]], [[lloydRefine]],
  *    [[lloydTrain]] / [[lloydTrainSubspaces]], [[pqCodebooks]].
  *  - evaluation: [[recallReport]], [[recallAtK]].
  *
  * Every search path is a composition of the same low-level pieces: one
  * nearest-entry distance list ([[distances]]: [[withCell]]'s argmin and
  * probe side alike, and the PQ codes), one probe-and-score join
  * ([[scorePairs]]), one cosine expression ([[cosine]]), one top-k
  * ranking ([[rankTopK]]) and, for the artifacts, the one fold commit
  * of the index layout ([[Fs.commitFold]]).
  */
object Similarity {

  /** Exact top-k neighbors per query vector. `queries` and `corpus` both
    * expose (idCol, vecCol); self-matches are excluded.
    *
    * Shape: norms are precomputed once per side (not per pair); scoring is
    * the codegen'd [[graft.expressions.VecDot]]; ranking is the bounded
    * [[TopK]] aggregator, so the per-query reduction partial-aggregates
    * map-side — only k candidates per partition ever shuffle, instead of
    * the whole scored cross product landing on |queries| window partitions.
    * cosine = dot/(|q|·|c|) in the exact same IEEE op order as the per-pair
    * formulation, so results stay oracle-comparable. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    rankTopK(scorePairs(
      exactSide(corpusVecs(corpus), "neighbor_id", "c_vec", "c_norm"),
      exactSide(queries, "query_id", "q_vec", "q_norm"), None, exactCosine), k)

  /** The corpus (vec_id, embedding) rows a scoring pass runs over: the
    * N·Q pass inherits the corpus scan's partitioning, so it is guarded
    * against a single-split input (see Parallelism). */
  private def corpusVecs(corpus: DataFrame): DataFrame =
    Parallelism.ensureMinPartitions(
      corpus.select(col("vec_id"), col("embedding")), col("vec_id"))

  /** One side of an exact-cosine pair: (vec_id, embedding) renamed to
    * (`id`, `vec`) plus its L2 norm as `norm` — norms are computed once
    * per row, never per scored pair. */
  private def exactSide(df: DataFrame, id: String, vec: String,
      norm: String): DataFrame =
    df.select(col("vec_id").as(id), col("embedding").as(vec),
      V.l2Norm(col("embedding")).as(norm))

  /** `dot`/(q_norm·`norm`), 0 when the denominator is 0 — the one IEEE
    * op order of every cosine here, exact and ADC alike, and of the
    * oracles that replay them. */
  private def cosine(dot: Column, norm: Column): Column = {
    val denom = col("q_norm") * norm
    when(denom === 0.0, 0.0).otherwise(dot / denom)
  }

  /** Exact cosine of a (q_vec, q_norm) × (c_vec, c_norm) pair row. */
  private def exactCosine: Column =
    cosine(V.dot(col("q_vec"), col("c_vec")), col("c_norm"))

  /** The probe-and-score join every search path shares: corpus rows `c`
    * (neighbor_id, …) against the broadcast query side `q` (query_id, …)
    * on the probed `key` — every pair when there is none — self-matches
    * dropped, scored by `score` as `cosine`. Only (query_id, neighbor_id,
    * cosine) triples leave it; the corpus side never shuffles vectors. */
  private def scorePairs(c: DataFrame, q: DataFrame, key: Option[String],
      score: Column): DataFrame =
    key.fold(c.crossJoin(broadcast(q)))(k => c.join(broadcast(q), Seq(k)))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), score.as("cosine"))

  /** (query_id, neighbor_id, cosine) → top-k per query with dense 1-based
    * rnk, via the bounded aggregator. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(TopK.topK(k)(col("neighbor_id"), col("cosine")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        col("t.score").as("cosine"), (col("pos") + 1).cast("int").as("rnk"))

  /** Approximate top-k via SRP-LSH with 1-bit multi-probe. Returns the
    * same shape as [[bruteForceTopK]]; recall measured in tests. */
  def srpTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nBits: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = V.randomPlanes(nBits, dim, seed)
    val c = corpusVecs(corpus)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"),
        V.srpBucketTable(col("embedding"), planes).as("bucket"))
    // query probes: own bucket + every 1-bit flip (nBits+1 probes)
    val probes = array((0 to nBits).map { i =>
      if (i == 0) col("q_bucket")
      else col("q_bucket").bitwiseXOR(1L << (i - 1))
    }: _*)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec"),
      V.srpBucketTable(col("embedding"), planes).as("q_bucket"))
      .withColumn("bucket", explode(probes))
      .drop("q_bucket")
    rankTopK(
      scorePairs(c, q, Some("bucket"), V.cosine(col("q_vec"), col("c_vec")))
        // a vector probed via multiple flipped buckets can pair twice
        .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** Approximate top-k via IVF (inverted-file) search: a seeded KMeans
    * coarse quantizer partitions the corpus into `nLists` cells once (the
    * index build — at 100 TB this happens at ingest and the cell id is a
    * partition column); each query probes its `nProbe` nearest cells and
    * scores only those, cutting cost to ~nProbe/nLists of brute force.
    * Cell assignment uses Euclidean distance (KMeans' objective); final
    * scoring is exact cosine on the probed subset. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nLists: Int = 16, nProbe: Int = 2, seed: Long = 42L,
      trainBound: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val c0 = corpusVecs(corpus)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"),
        array_to_vector(col("embedding")).as("feat"))
    // A coarse quantizer only needs roughly-balanced cells, not converged
    // centroids — recall comes from nProbe, not KMeans quality. 5 rounds
    // (vs the default 20) cuts the index-build 4× with no measured recall
    // loss (VectorAndSimilaritySpec pins the floor). `trainBound` shrinks
    // the TRAINING set further via a deterministic hash-sample of ids
    // (e.g. "4000" ≈ 25% — every KMeans round then scans a quarter of the
    // corpus); cell ASSIGNMENT always covers every vector. Callers must
    // leave it None for corpora small enough that the sample could
    // undercut nLists points.
    val train = trainBound match {
      case Some(bound) => Sampling.deterministicSample(c0, col("neighbor_id"), bound)
      case None => c0
    }
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("feat").setPredictionCol("list_id").fit(train)
    val c = model.transform(c0).select(col("neighbor_id"), col("c_vec"),
      col("list_id"), V.l2Norm(col("c_vec")).as("c_norm"))
    // query-side probe list: distance to every centroid over ONE
    // centroid-table literal (an unrolled struct per cell re-grows with
    // nLists × dim — the family's codegen cliff), keep the nProbe
    // nearest cells
    val ctrTable = typedlit(model.clusterCenters.map(_.toArray.toSeq).toSeq)
    val cells = transform(ctrTable, (c, i) =>
      struct(V.l2Sq(col("q_vec"), c).as("d"), i.as("idx")))
    val q = exactSide(queries, "query_id", "q_vec", "q_norm")
      .withColumn("list_id", nearest(nProbe)(cells))
    rankTopK(scorePairs(c, q, Some("list_id"), exactCosine), k)
  }

  /** The probe side: the ids of the `nProbe` nearest entries of a
    * (d, idx) distance list, one row each — array_sort's struct order
    * (distance, then the lower index) is the argmin's tie rule. */
  private def nearest(nProbe: Int)(dists: Column): Column =
    explode(slice(array_sort(dists), 1, nProbe).getField("idx"))

  /** The argmin side: the index of the nearest entry of a (d, idx)
    * distance list, same tie rule as [[nearest]]. */
  private def argmin(dists: Column): Column =
    array_min(dists).getField("idx")

  /** Hash-chosen centroids for [[ivfFlatTopK]]: the `n` corpus vectors
    * with the smallest md5(id) — a deterministic, training-free centroid
    * pick (stable across runs/engines, unlike KMeans means which depend
    * on float accumulation order). Driver-side collect of n vectors: the
    * index "build" ships with the plan. */
  def hashCentroids(corpus: DataFrame, n: Int): Seq[Seq[Double]] =
    corpus.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(n)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** Per-centroid (distance, idx) structs for argmin cell assignment,
    * unrolled: one literal struct branch per centroid. Distances use
    * `ip(v,v) - 2·ip(v,c) + ip(c,c)` so every term is a native dot
    * product (engine-portable: the identical expression over
    * `list_inner_product` reproduces it bit-for-bit); argmin ties break
    * to the lower cell index. Only [[assignCellsUnrolled]], the spec
    * reference for [[withCell]], builds it. */
  private def cellStructs(vec: Column, centroids: Seq[Seq[Double]]): Column =
    array(centroids.zipWithIndex.map { case (ctr, i) =>
      val c = array(ctr.map(lit): _*)
      struct((V.dot(vec, vec) - lit(2.0) * V.dot(vec, c) + V.dot(c, c)).as("d"),
        lit(i).as("idx"))
    }: _*)

  /** VecDot's exact summation loop (sequential left fold in double
    * precision), run driver-side — the self-dot tables below must be
    * bit-identical to what a constant-folded VecDot(c, c) over literals
    * produces, and IEEE addition is order-sensitive. */
  private def leftFoldDot(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.min(a.size, b.size)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** THE nearest-entry distance list: one (d, idx) struct per entry of
    * the `entries` array column, d = `(vv − 2.0·(v·c)) + c·c` with `vv`
    * the pre-projected v·v and c·c read from the driver-computed
    * `selfDots` table ([[leftFoldDot]]) at `offset` + idx — the struct
    * order (distance, then the lower idx) is the tie rule of [[argmin]]
    * and [[nearest]]. [[withCell]] runs it over the centroids and
    * [[pqEncode]] over each subspace's codewords. */
  private def distances(vv: Column, v: Column, entries: Column,
      selfDots: Column, offset: Int): Column =
    transform(entries, (c, i) =>
      struct(((vv - lit(2.0) * V.dot(v, c))
        + element_at(selfDots, lit(offset + 1) + i)).as("d"), i.as("idx")))

  /** THE nearest-centroid step: attach `cell` = `pick` of the
    * [[distances]] list of the `vec` column against the centroids —
    * [[argmin]] for the corpus-side assignment, [[nearest]] for a
    * query's probe cells.
    *
    * The centroids ride the plan as ONE array-of-arrays literal plus a
    * driver-computed self-dot table ([[leftFoldDot]], the exact fold),
    * and the candidate loop is a `transform` over it — an O(1)-node plan
    * at any nCells. [[cellStructs]]' unrolled form puts nCells struct
    * branches × dim-literal arrays into the generated source, and Janino
    * compile cost grows superlinearly with that: at 64 centroids × 64
    * dims an assignment STAGE spent seconds compiling a multi-megabyte
    * method (the argmin itself is milliseconds). The distance is the
    * IDENTICAL IEEE tree (`(v·v − 2.0·(v·c)) + c·c`; HOF dot ≡ native
    * VecDot is spec-pinned), so cells are bit-equal to the unrolled form
    * — asserted by spec, and by every oracle downstream of a caller. The
    * per-centroid dot rides the lambda as the native VecDot (a tight
    * array loop — HOF-composed aggregate/zip_with lambdas cost ~5× per
    * element); v·v is loop-invariant, so it is hoisted into its own
    * projection instead of recomputed nCells× per row. */
  private def withCell(df: DataFrame, vec: String,
      centroids: Seq[Seq[Double]])(pick: Column => Column): DataFrame = {
    val v = col(vec)
    df.withColumn("__vv", V.dot(v, v))
      .withColumn("cell", pick(distances(col("__vv"), v, typedlit(centroids),
        typedlit(centroids.map(c => leftFoldDot(c, c))), 0)))
      .drop("__vv")
  }

  /** One QUANTIZED Lloyd refinement round over fixed seed centroids: each
    * vector joins its nearest centroid (same argmin as [[ivfFlatTopK]]),
    * then every cell's new centroid is the element-wise mean of its
    * members — computed over `floor(x·scale)` integer components, so the
    * sum is order-independent and the mean is ONE IEEE division per
    * dimension: `(Σ floor(xᵢ·scale) / n) / scale`. That makes the refined
    * centroids bit-reproducible in any engine (plain-double means depend
    * on float accumulation order — the reason [[ivfTopK]]'s KMeans model
    * can't be oracle-checked). Cells that attract no vectors keep their
    * seed centroid. Driver-side collect: (cells × dims) longs — index
    * build, same class as [[hashCentroids]]. */
  def lloydRefine(corpus: DataFrame, centroids: Seq[Seq[Double]],
      scale: Double = 1e6): Seq[Seq[Double]] = {
    val dim = centroids.head.size
    val sums = withCell(corpus.select(col("embedding").cast("array<double>").as("v")),
        "v", centroids)(argmin)
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("x") * lit(scale)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    centroids.zipWithIndex.map { case (seed, cell) =>
      if (!sums.contains((cell, 0))) seed
      else (0 until dim).map { j =>
        val (s, n) = sums((cell, j))
        s.toDouble / n.toDouble / scale
      }
    }
  }

  /** Fully-DISTRIBUTED quantized centroid aggregation — the shape centroid
    * training takes when the corpus is too large to sample driver-side
    * ([[hashCentroids]] and [[lloydRefine]] collect (cells × dims) values;
    * this never collects anything): posexplode each vector into
    * (group, pos, component) with components quantized to `scale`
    * fixed-point BEFORE the sum, so the aggregation is exact integer
    * arithmetic — associative, order-independent, identical across
    * partitionings and engines (a plain double sum's low bits depend on
    * reduction order, which breaks both run-to-run determinism and any
    * oracle). Partial aggregation combines map-side: the explode is
    * dim-fold but narrow, and the shuffle carries at most
    * groups × dim × partitions pre-aggregated rows, never the corpus.
    *
    * Returns (label, pos, centroid_q) with 1-based `pos` and
    * `centroid_q = floor(Σ floor(vᵢ·scale) / n)` — the fixed-point mean;
    * divide by `scale` for the float centroid. */
  def quantizedCentroids(df: DataFrame, label: Column, vec: Column,
      scale: Int = 10000): DataFrame =
    df.filter(label.isNotNull && vec.isNotNull)
      .select(label.as("label"), posexplode(vec).as(Seq("pos0", "v")))
      .select(col("label"), (col("pos0") + 1).as("pos"),
        floor(col("v").cast("double") * scale).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"),
        floor(col("sum_q").cast("double") / col("n").cast("double"))
          .cast("long").as("centroid_q"))

  /** [[lloydTrain]]'s corpus projection, exposed so PlanPruningSpec can
    * pin that the trainer's per-round scans read only (vec_id,
    * embedding) — the training loop itself is eager (localCheckpoint
    * per round), which hides its scans from a plan assertion. */
  private[graft] def lloydVecs(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))

  /** Fully-DISTRIBUTED iterated Lloyd training — the 100 TB form of
    * [[lloydRefine]]: centroids live in a FRAME broadcast per round
    * (nothing is ever collected after the bounded seed pick), assignment
    * is a broadcast join + per-vector struct-argmin whose partial min
    * collapses map-side (one corpus-row shuffle per round), and the new
    * means are [[quantizedCentroids]]' integer aggregation — exact,
    * order-independent, engine-portable. Rounds chain through
    * `localCheckpoint` (the components-loop idiom). Next-round centroid
    * components are `floor(Σ floor(x·scale) / n) / scale` — integer
    * floor-of-double-division (the q56 idiom, portable for negative
    * sums where integral `div` truncates) then ONE IEEE division — so
    * the whole trainer replays as chained SQL CTEs (q129's oracle).
    * Cells that attract no vectors keep their previous centroid, as in
    * [[lloydRefine]]. Returns the FINAL round's quantized means:
    * (cell, pos, centroid_q, n) with 1-based pos — feed
    * `centroid_q / scale` to [[ivfFlatTopK]] as trained centroids. */
  def lloydTrain(corpus: DataFrame, nCells: Int, rounds: Int = 2,
      scale: Double = 1e6): DataFrame =
    // m = 1: one subspace spanning the whole vector, so the `j` join
    // pairs every vector with all nCells centroids
    lloydTrainSubspaces(corpus, m = 1, codewords = nCells, rounds, scale)
      .select(col("code").as("cell"), col("pos"), col("centroid_q"), col("n"))

  /** Per-subspace PQ codebook TRAINING — [[lloydTrain]]'s distributed
    * quantized Lloyd iteration run over all `m` subspaces in ONE job:
    * each vector explodes into its m dim/m-slices keyed by subspace id,
    * seeds are the [[pqCodebooks]] hash pick (the same `codewords`
    * md5-smallest vectors, sliced — so training STARTS from the
    * deterministic untrained books and refines them), assignment is a
    * broadcast join on `j` + struct-argmin, and the new codeword means
    * are the exact fixed-point integer aggregation. Training m books
    * as m separate [[lloydTrain]] calls would pay m corpus scans per
    * round; here every round is one corpus-slice shuffle of m× narrow
    * rows, and the broadcast side is m × codewords sub-vectors. Same
    * determinism contract as the trainer (order-independent integer
    * sums, floor-of-double division, seed kept for empty cells), so the
    * whole per-subspace replay is plain SQL CTEs (q141's oracle).
    * Returns the final round's (j, code, pos, centroid_q, n) with
    * 1-based pos within the subspace. */
  def lloydTrainSubspaces(corpus: DataFrame, m: Int, codewords: Int,
      rounds: Int = 2, scale: Double = 1e6): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = hashCentroids(corpus, codewords)
    // an empty corpus has no seeds: no cell is trained, the result is empty
    val dim = base.headOption.fold(0)(_.size)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    var ctr = (for {
      j <- 0 until m
      (v, c) <- base.zipWithIndex
    } yield (j, c, v.slice(j * sub, (j + 1) * sub)))
      .toDF("j", "code", "cv")
    // slice every vector once, up front; the per-round passes then scan
    // the persisted (vec_id, j, sv) rows
    val vecs = lloydVecs(corpus)
      .select(col("vec_id"), explode(array((0 until m).map(j =>
        struct(lit(j).as("j"),
          slice(col("v"), j * sub + 1, sub).as("sv"))): _*)).as("e"))
      .select(col("vec_id"), col("e.j").as("j"), col("e.sv").as("sv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var sums: DataFrame = null
    for (r <- 1 to rounds) {
      // v·v is loop-invariant per slice — projected ONCE per row before
      // the codeword fan-out (inline it would re-run the dot codewords×
      // per slice per round)
      val withC = vecs.withColumn("__vv", V.dot(col("sv"), col("sv")))
        .join(broadcast(ctr.withColumn("cc", V.dot(col("cv"), col("cv")))),
          Seq("j"))
      val d = (col("__vv") - lit(2.0) * V.dot(col("sv"), col("cv"))) +
        col("cc")
      val asg = withC
        .select(col("vec_id"), col("j"), col("sv"),
          struct(d.as("d"), col("code").as("c")).as("dc"))
        .groupBy(col("vec_id"), col("j"))
        .agg(min(col("dc")).as("mn"), first(col("sv")).as("sv"))
        .select(col("j"), col("mn.c").as("code"), col("sv"))
      sums = asg
        .select(col("j"), col("code"), posexplode(col("sv")).as(Seq("pos0", "x")))
        .groupBy(col("j"), col("code"), col("pos0"))
        .agg(sum(floor(col("x") * scale).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .localCheckpoint()
      if (r < rounds) {
        val next = sums
          .select(col("j"), col("code"), col("pos0"),
            (floor(col("s").cast("double") / col("n").cast("double"))
              .cast("long").cast("double") / scale).as("cx"))
          .groupBy(col("j"), col("code"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos0"), col("cx")))),
            s => s.getField("cx")).as("new_cv"))
        ctr = ctr.select(col("j"), col("code"), col("cv").as("seed_cv"))
          .join(next, Seq("j", "code"), "left")
          .select(col("j"), col("code"),
            coalesce(col("new_cv"), col("seed_cv")).as("cv"))
          .localCheckpoint()
      }
    }
    vecs.unpersist()
    sums.select(col("j"), col("code"), (col("pos0") + 1).as("pos"),
      floor(col("s").cast("double") / col("n").cast("double"))
        .cast("long").as("centroid_q"),
      col("n"))
  }

  /** Materialize [[lloydTrainSubspaces]]' output as the
    * Seq[Seq[Seq[Double]]] codebook table [[writeIvfPqIndex]] consumes
    * (`centroid_q / scale` per component). Bounded collect:
    * m × codewords × (dim/m) values — the index-build class. Same
    * contiguity contract as [[collectTrainedCentroids]], per subspace:
    * a final-round empty codeword cell has no mean to freeze, and
    * silently renumbering codes would desynchronize artifact and
    * oracle; retrain with fewer codewords instead. */
  def collectTrainedCodebooks(trained: DataFrame,
      scale: Double = 1e6): Seq[Seq[Seq[Double]]] = {
    val rows = trained
      .select(col("j"), col("code"), col("pos"), col("centroid_q"))
      .collect()
    val byJ = rows.groupBy(_.getInt(0))
    val js = byJ.keys.toSeq.sorted
    require(js == (0 until js.size),
      s"trained codebooks cover subspaces ${js.mkString(",")} — a " +
        "contiguous 0..m-1 range is required")
    js.map { j =>
      val byCode = byJ(j).groupBy(_.getInt(1))
      val codes = byCode.keys.toSeq.sorted
      require(codes == (0 until codes.size),
        s"subspace $j trained codes ${codes.mkString(",")} — a " +
          "contiguous 0..n-1 range is required (an empty final codeword " +
          "cell has no mean to freeze); retrain with fewer codewords")
      codes.map { c =>
        byCode(c).sortBy(_.getInt(2))
          .map(r => r.getLong(3).toDouble / scale).toSeq
      }
    }
  }

  /** IVF with FIXED centroids (no training): every vector is assigned to
    * its nearest centroid by squared L2; queries probe their `nProbe`
    * nearest cells. The deterministic, oracle-checkable counterpart of
    * [[ivfTopK]]'s KMeans quantizer — same probe/score shape, zero
    * training passes (see [[withCell]] for the portable distance). */
  def ivfFlatTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nProbe: Int = 2): DataFrame = {
    val c = assignCells(corpusVecs(corpus), centroids)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"),
        col("c_norm"), col("cell"))
    val q = withCell(exactSide(queries, "query_id", "q_vec", "q_norm"),
      "q_vec", centroids)(nearest(nProbe))
    rankTopK(scorePairs(c, q, Some("cell"), exactCosine)
      .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** Scalar quantization (SQ8) — the third compression point on the ANN
    * ladder (exact → SQ8 → PQ): each dimension maps to a uint8 code by
    * its OWN corpus [min, max] range, 4× smaller than float32 at far
    * lower distortion than PQ's m-byte codes. Two passes, the index
    * shape: (1) per-dimension min/max from ONE exploded aggregate
    * (map-side combined, stats frame = dim-count rows, broadcast back);
    * (2) the encode is a scan-fused projection — no shuffle of the
    * corpus.
    *
    * The quantizer is the FIXED IEEE tree
    * `least(floor((x − min)·255 / (max − min)), 255)` (the clamp guards
    * the x = max edge), degenerate dims (max == min) code to 0 — both
    * deterministic and engine-replayable, so codes hash-check. Returns
    * (vec_id, pos, code) with 0-based pos; callers roll up their own
    * checksums. */
  def sq8Encode(corpus: DataFrame, id: Column, vec: Column): DataFrame = {
    val (exploded, stats) = sq8Exploded(corpus, id, vec)
    exploded.join(broadcast(stats), Seq("pos"))
      .select(col("vec_id"), col("pos"), sq8Code.as("code"))
  }

  /** SQ8 retrieval — the search half of [[sq8Encode]]: the corpus is
    * RECONSTRUCTED from its codes (midpoint decode
    * `lo + (code + 0.5)·(hi − lo)/256`, degenerate dims decode to `lo`)
    * and ranked by exact cosine against the full-precision queries —
    * asymmetric distance computation, the compressed-corpus /
    * exact-query trade every SQ index runs. Same output shape as
    * [[bruteForceTopK]]; recall vs the exact ladder is a spec floor, the
    * driver artifact pins ranks (scores are engine-local floats, ranks
    * are stable — the q20 convention). Reconstruction is one
    * doc-partitioned reassembly groupBy; scoring reuses the broadcast
    * crossJoin scorer. */
  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val (exploded, stats) = sq8Exploded(corpus, col("vec_id"), col("embedding"))
    val recon = exploded.join(broadcast(stats), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        (col("lo") + (sq8Code.cast("double") + lit(0.5))
          * (col("hi") - col("lo")) / lit(256.0)).as("r"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("r")))).as("__s"))
      .select(col("vec_id"),
        transform(col("__s"), s => s.getField("r")).as("embedding"))
    bruteForceTopK(queries, recon, k)
  }

  /** The SQ8 quantizer expression over the joined (x, lo, hi) frame —
    * fixed IEEE tree, clamp at 255, degenerate dims to 0 (scaladoc of
    * [[sq8Encode]]). */
  private def sq8Code: Column =
    when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(floor((col("x") - col("lo")) * lit(255.0)
        / (col("hi") - col("lo"))).cast("long"), lit(255L)))

  private def sq8Exploded(corpus: DataFrame, id: Column,
      vec: Column): (DataFrame, DataFrame) = {
    val exploded = corpus
      .select(id.as("vec_id"), posexplode(vec.cast("array<double>")))
      .select(col("vec_id"), col("pos"), col("col").as("x"))
    val stats = exploded.groupBy(col("pos"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    (exploded, stats)
  }

  /** Product-quantization codebooks: the full-vector [[hashCentroids]]
    * pick (the `codewords` corpus vectors with smallest md5(id)) sliced
    * into `m` subspaces — codebooks(j) is subspace j's codeword list.
    * Deterministic and derivable in plain SQL, so the whole PQ path
    * stays oracle-checkable (the reason KMeans-trained codebooks are not
    * the default — see [[ivfTopK]] vs [[ivfFlatTopK]]). */
  def pqCodebooks(corpus: DataFrame, m: Int,
      codewords: Int): Seq[Seq[Seq[Double]]] = {
    val base = hashCentroids(corpus, codewords)
    val dim = base.head.size
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map(j => base.map(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** The flattened j-major codeword table (index j·codewords + c) and its
    * self-dot table ([[leftFoldDot]]) as TWO typed-literal array columns.
    * m×codewords separate literal expression trees would be fine at 16×8,
    * but at production codebook sizes (256 codewords × 16 subspaces =
    * 4096 literal vectors) that plan shape is the known Janino
    * whole-stage-codegen failure mode (compile blows the method-size
    * limit and falls back to interpreted). One array literal is a SINGLE
    * constant in the generated code regardless of codeword count, so
    * every PQ plan stays O(m) nodes. */
  private def cwTables(codebooks: Seq[Seq[Seq[Double]]]): (Column, Column) = {
    val flat = codebooks.flatten
    (typedLit(flat), typedLit(flat.map(v => leftFoldDot(v, v))))
  }

  /** PQ-encode a corpus: (vec_id, codes) where codes(j) is the nearest
    * codeword index of subspace j's slice. THE memory lever of
    * billion-scale ANN: an m-byte code replaces a dim×4-byte vector
    * (64-dim float → 8 codes = 32× smaller), so the scored side of a
    * query fan-out ships codes, not vectors. Encoding is one narrow
    * pass — the subspace slices and their self-dots are projected as
    * attributes first (multi-referenced non-cheap expressions, so
    * CollapseProject keeps the boundaries), leaving m × codewords small
    * query-codeword dots per row, no shuffle: codes(j) is the [[argmin]]
    * of the [[distances]] list over subspace j's slice of the codeword
    * table, its v·v the pre-projected slice self-dot (constant across
    * the codewords, so never recomputed per candidate). With
    * `cellCentroids`, the IVF cell ([[withCell]]'s argmin) rides the
    * same pass as a `cell` column — never a second corpus-sized join
    * just to attach it. */
  def pqEncode(corpus: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      cellCentroids: Seq[Seq[Double]] = Nil): DataFrame = {
    val m = codebooks.size
    val cw = codebooks.head.size
    val sub = codebooks.head.head.size
    val (table, nsq) = cwTables(codebooks)
    val vecs = corpusVecs(corpus)
    val (cells, keep) =
      if (cellCentroids.isEmpty) (vecs, Seq(col("vec_id")))
      else (withCell(vecs, "embedding", cellCentroids)(argmin),
        Seq(col("vec_id"), col("cell")))
    val sliced = cells.select(keep ++ (0 until m).map(j =>
      slice(col("embedding"), j * sub + 1, sub).as(s"s_$j")): _*)
    val withSelf = sliced.select(keep ++ (0 until m).flatMap(j => Seq(col(s"s_$j"),
      V.dot(col(s"s_$j"), col(s"s_$j")).as(s"ss_$j"))): _*)
    withSelf.select(keep :+ array((0 until m).map(j =>
      argmin(distances(col(s"ss_$j"), col(s"s_$j"),
        slice(table, j * cw + 1, cw), nsq, j * cw))): _*).as("codes"): _*)
  }

  /** [[pqEncode]] plus the reconstruction norm: it depends on the CODES
    * alone, so it is computed once per corpus row, never per scored
    * pair — one lookup per subspace into the codeword self-dot table
    * (j-major like the lut). */
  private def encodeWithNorm(corpus: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      cellCentroids: Seq[Seq[Double]] = Nil): DataFrame =
    pqEncode(corpus, codebooks, cellCentroids)
      .withColumn("recon_norm", sqrt(adcLookupSum(codebooks, cwTables(codebooks)._2)))

  /** PQ top-k by asymmetric-distance computation (ADC): each query
    * precomputes a lookup table of sub-dot-products against every
    * codeword (m × codewords doubles, flattened j-major), broadcasts with
    * it, and scores a corpus row with m table lookups instead of a
    * dim-wide dot product — approximate dot(q, v) = Σⱼ lut(j, codes(j)).
    * The score is ADC COSINE: the approximate dot normalized by |q| and
    * the reconstruction norm √Σⱼ|codewordⱼ|² (subspaces are orthogonal
    * coordinate blocks, so the reconstruction's norm is itself one table
    * lookup per subspace from a static codeword-norm table — raw ADC dot
    * would systematically favor large-norm corpus vectors and disagree
    * with the cosine baseline). Every sum is an EXPLICIT left-associated
    * chain (not a fold or SQL SUM whose order an engine may choose), so
    * scores are bit-identical across engines and the ranking (score DESC,
    * id ASC — [[TopK]]'s tie rule) is oracle-checkable. Codebooks ride
    * the plan as one table literal ([[cwTables]]), so the plan size is
    * independent of the codeword count.
    *
    * `refine` = 0 ranks purely by ADC (the deterministic driver-surface
    * path); `refine` = r > 0 takes the top r·k ADC candidates per query
    * and re-ranks them by exact cosine against the true vectors — the
    * standard two-stage retrieval, paying the exact dot product for r·k
    * rows per query instead of the whole corpus. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      codebooks: Seq[Seq[Seq[Double]]], refine: Int = 0): DataFrame =
    finishAdc(adcScored(encodeWithNorm(corpus, codebooks),
      adcQuerySide(queries, codebooks).drop("embedding"), None, codebooks),
      k, refine, queries, corpus)

  /** Query side of ADC scoring: (query_id, lut, q_norm, embedding) —
    * the lookup table holds the sub-dot-products of this query against
    * every codeword, flattened j-major, built by m HOFs over the codeword
    * table (slices projected as attributes FIRST — a slice inside the
    * lambda would re-evaluate per codeword, the documented HOF re-eval
    * trap). The raw embedding rides along for the cell probe; drop it
    * otherwise. */
  private def adcQuerySide(queries: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.size
    val cw = codebooks.head.size
    val sub = codebooks.head.head.size
    val (table, _) = cwTables(codebooks)
    val sliced = queries.select(Seq(col("vec_id"), col("embedding")) ++
      (0 until m).map(j => slice(col("embedding"), j * sub + 1, sub).as(s"qs_$j")): _*)
    sliced.select(col("vec_id").as("query_id"),
      flatten(array((0 until m).map(j =>
        transform(slice(table, j * cw + 1, cw),
          cwv => V.dot(col(s"qs_$j"), cwv))): _*)).as("lut"),
      V.l2Norm(col("embedding")).as("q_norm"), col("embedding"))
  }

  /** The IVF-PQ probe side: [[adcQuerySide]] with each query exploded
    * over its `nProbe` nearest cells ([[withCell]] + [[nearest]]) —
    * (query_id, lut, q_norm, cell). */
  private def adcProbeSide(queries: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      centroids: Seq[Seq[Double]], nProbe: Int): DataFrame =
    withCell(adcQuerySide(queries, codebooks), "embedding", centroids)(
      nearest(nProbe)).drop("embedding")

  /** ADC scoring of encoded corpus rows (vec_id, codes, recon_norm[, cell])
    * against an ADC query side, through [[scorePairs]]. */
  private def adcScored(codes: DataFrame, q: DataFrame, key: Option[String],
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame =
    scorePairs(codes.withColumnRenamed("vec_id", "neighbor_id"), q, key,
      cosine(adcLookupSum(codebooks, col("lut")), col("recon_norm")))

  /** The left-associated m-term lookup sum over `table`, indexed by the
    * row's `codes` — the EXPLICIT `+` chain whose op order the oracles
    * replay (a fold or SQL SUM could re-associate). */
  private def adcLookupSum(codebooks: Seq[Seq[Seq[Double]]],
      table: Column): Column = {
    val cw = codebooks.head.size
    codebooks.indices.map(j =>
        element_at(table, lit(j * cw + 1) + element_at(col("codes"), j + 1)))
      .reduceLeft(_ + _)
  }

  /** Common tail of the ADC paths: rank by ADC directly (refine ≤ 0) or
    * take the top refine·k ADC candidates and re-rank them by exact
    * cosine against the true vectors. */
  private def finishAdc(scored: DataFrame, k: Int, refine: Int,
      queries: DataFrame, corpus: DataFrame): DataFrame =
    if (refine <= 0) rankTopK(scored, k).withColumnRenamed("cosine", "adc")
    else
      rankTopK(rankTopK(scored, refine * k).select("query_id", "neighbor_id")
        .join(exactSide(corpus, "neighbor_id", "c_vec", "c_norm"), Seq("neighbor_id"))
        .join(broadcast(exactSide(queries, "query_id", "q_vec", "q_norm")), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), exactCosine.as("cosine")), k)

  /** IVF-PQ: the composed billion-scale ANN architecture — [[ivfFlatTopK]]'s
    * coarse cells bound WHICH corpus rows each query scores (nProbe cells
    * instead of everything), [[pqTopK]]'s codes compress WHAT is scored
    * (m-byte codes + table lookups instead of full vectors). Cost per
    * query drops multiplicatively: N/cells·nProbe candidates × m lookups
    * each. Same determinism contract as both halves (hash-chosen
    * centroids/codebooks, left-associated sums), so the composition
    * stays oracle-checkable end to end; `refine` adds the exact re-rank
    * stage over the surviving candidates exactly as in [[pqTopK]]. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      nProbe: Int = 2, refine: Int = 0): DataFrame =
    finishAdc(adcScored(encodeWithNorm(corpus, codebooks, centroids),
      adcProbeSide(queries, codebooks, centroids, nProbe), Some("cell"), codebooks),
      k, refine, queries, corpus)

  /** The MATERIALIZABLE IVF-flat index — the ANN stack's analog of
    * [[Dedup.nearDupIndex]]'s build-once-probe-many artifact: cell
    * assignments land under `path/assignments/` PARTITIONED BY cell
    * (each cell is its own parquet directory, so a probe's scan prunes
    * to the probed cells' files — probe I/O is ∝ cells touched, never
    * corpus size), and the centroid table under `path/centroids/`
    * (nLists rows — the bounded driver-side part of the artifact).
    * Centroids are [[hashCentroids]] (deterministic, engine-derivable),
    * so the whole build→write→reload→probe loop stays oracle-checkable
    * and [[ivfFlatProbe]] over the artifact returns EXACTLY
    * [[ivfFlatTopK]]'s direct answer. The corpus L2 norm is computed at
    * build time and stored — a probe never re-reduces corpus vectors
    * beyond the dot product it must do. */
  def writeIvfFlatIndex(corpus: DataFrame, nLists: Int, path: String): Unit =
    writeIvfFlatIndex(corpus, hashCentroids(corpus, nLists), path)

  /** [[writeIvfFlatIndex]] under a CALLER-SUPPLIED frozen quantizer — the
    * composition point for [[lloydTrain]]: pass the trained centroids
    * (via [[collectTrainedCentroids]] — a bounded nCells × dim collect,
    * the same class as [[readCentroids]]) and the artifact carries the
    * data-fitted quantizer instead of the hash seeds; probe/append/
    * streaming-ingest are unchanged (they read centroids back from the
    * artifact and never care how they were chosen). Train → build →
    * probe is the production ANN lifecycle at 100 TB: training is the
    * one distributed job, the index build is one assignment scan, and
    * every probe after that pays only its probed cells. */
  def writeIvfFlatIndex(corpus: DataFrame, centroids: Seq[Seq[Double]],
      path: String): Unit = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val spark = corpus.sparkSession
    assignCells(corpus, centroids)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/assignments")
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Materialize [[lloydTrain]]'s (cell, pos, centroid_q, n) output as
    * the Seq[Seq[Double]] centroid table the rest of the family consumes
    * (`centroid_q / scale` per component — exact: the quantized means
    * are integers well under 2^53). Bounded collect: nCells × dim rows,
    * the index-build class ([[hashCentroids]] / [[readCentroids]]).
    * Requires the trained cells to cover a contiguous 0..n-1 range —
    * a FINAL-round empty cell has no mean to freeze, and silently
    * renumbering cells would desynchronize the artifact from any oracle
    * or prior assignment; retrain with fewer cells instead. */
  def collectTrainedCentroids(trained: DataFrame,
      scale: Double = 1e6): Seq[Seq[Double]] = {
    val rows = trained.select(col("cell"), col("pos"), col("centroid_q"))
      .collect()
    val byCell = rows.groupBy(_.getInt(0))
    val cells = byCell.keys.toSeq.sorted
    require(cells == (0 until cells.size),
      s"trained centroids cover cells ${cells.mkString(",")} — a " +
        "contiguous 0..n-1 range is required (an empty final cell has " +
        "no mean to freeze); retrain with fewer cells")
    cells.map { c =>
      byCell(c).sortBy(_.getInt(1))
        .map(r => r.getLong(2).toDouble / scale).toSeq
    }
  }

  /** The artifact's frozen quantizer, read back: nLists rows — the
    * bounded driver-side half of every probe/append/ingest. Accepts a
    * pointer-committed root or a concrete generation/plain dir. */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Seq[Seq[Double]] = {
    val p = s"${Fs.concrete(indexPath)}/centroids"
    // existence-check BEFORE the read: a missing/non-artifact path would
    // otherwise surface as an AnalysisException from the parquet scan,
    // and every caller's own "not an artifact" diagnostic (ProbeStream,
    // AnnIngest) would never be reached
    require(Fs.exists(p),
      s"no centroid table at $p — not a writeIvfFlatIndex/writeIvfPqIndex " +
        "artifact (or a pointer root whose current generation lacks one)")
    // nLists rows, read under their footer schema (no inference job):
    // sorted on the driver, which spares a range-partitioned orderBy its
    // sampling job and its shuffle
    spark.read.schema(Fs.parquetSchema(spark, p)).parquet(p).collect().toSeq
      .sortBy(_.getAs[Int]("cell"))
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toSeq)
  }

  /** Append a NEW batch of vectors into a standing [[writeIvfFlatIndex]]
    * artifact — the ingest shape for retrieval: assignments are computed
    * under the ARTIFACT's centroids (read back, never re-derived — the
    * quantizer is frozen at build time, which is what makes append
    * well-defined) and written into the same cell-partitioned layout in
    * append mode. Each ingest pays |batch| assignment work; a probe
    * afterwards sees standing ∪ appended exactly as if the index had
    * been built over the union under the same centroids. Quantizer
    * drift (a corpus whose distribution moves away from the frozen
    * centroids) is the caller's rebuild/compaction policy — the same
    * lifecycle contract as the near-dup signature index. */
  def appendToIvfFlatIndex(newVecs: DataFrame, indexPath: String): Unit = {
    val ix = Fs.concrete(indexPath)
    assignCells(newVecs, readCentroids(newVecs.sparkSession, ix))
      .write.mode("append").partitionBy("cell")
      .parquet(s"$ix/assignments")
  }

  /** The index row shape under a FIXED centroid set: (vec_id, embedding,
    * c_norm, cell) — one scan-fused projection, shared by build, append,
    * the streaming ingest and the IVF search paths. The cell is
    * [[withCell]]'s table-literal argmin, safe at production centroid
    * counts; [[assignCellsUnrolled]] keeps the executable spec of the
    * semantics (bit-equality is asserted across 1/8/64 centroids). */
  private[graft] def assignCells(vecs: DataFrame,
      centroids: Seq[Seq[Double]]): DataFrame =
    withCell(vecs.select(col("vec_id"), col("embedding"))
      .withColumn("c_norm", V.l2Norm(col("embedding"))), "embedding", centroids)(
      d => argmin(d).cast("int"))

  /** The UNROLLED assignment — [[cellStructs]] argmin, nCells struct
    * branches in the generated source. Kept as the reference
    * implementation [[assignCells]] (and every [[withCell]] caller) is
    * spec-checked against; do not use on a corpus side at large nCells
    * (the Janino cliff). */
  private[graft] def assignCellsUnrolled(vecs: DataFrame,
      centroids: Seq[Seq[Double]]): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .withColumn("c_norm", V.l2Norm(col("embedding")))
      .withColumn("cell",
        array_min(cellStructs(col("embedding"), centroids))
          .getField("idx").cast("int"))

  /** Fold the streamed assignment table back into the batch one — the
    * index's compaction. A continuous [[graft.streaming.AnnIngest]]
    * accretes one file set per micro-batch under `assignments_stream/`
    * plus a growing `_spark_metadata` log: the classic small-files
    * death at firehose cadence (every probe lists and logs-resolves the
    * whole history). Compaction reads BOTH tables, dedups on `vec_id`
    * (the index's primary key — one row per vector, so re-running a
    * crashed compaction, or compacting after a replayed append, is
    * idempotent rather than duplicate-baking), minus the tombstoned
    * ids, and commits the union cell-partitioned through
    * [[Fs.commitFold]] (a staged swap on a plain root, a new generation
    * on a pointer root), leaving the streamed table behind. Probe
    * results are identical before and after (pinned by spec); run it
    * between ingest sessions, not concurrently with one. */
  def compactIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetFileBytes: Long = 128L << 20,
      streamedSubdir: String = "assignments_stream",
      recursiveStreamed: Boolean = false,
      retain: Option[Int] = None): Unit = {
    Fs.commitFold(indexPath, Some("assignments"), targetFileBytes, retain,
        consumed = Set(streamedSubdir)) { (concrete, n) =>
      val streamedPath = s"$concrete/$streamedSubdir"
      val hasStreamed = Fs.exists(streamedPath)
      val tombs = Fs.tombstones(spark, concrete, "vec_id")
      if (!hasStreamed && tombs.isEmpty) None
      else {
        val cols = Seq("vec_id", "embedding", "c_norm", "cell").map(col)
        // the file-sink table (cell-partitioned) reads plain; the admission
        // stream's batch-<id> subdirs carry cell as a data column and need
        // the recursive lookup
        val streamedReader =
          if (recursiveStreamed)
            spark.read.option("recursiveFileLookup", "true")
          else spark.read
        val base = spark.read.parquet(s"$concrete/assignments").select(cols: _*)
        val union =
          if (hasStreamed)
            base.unionByName(streamedReader.parquet(streamedPath).select(cols: _*))
          else base
        // the tombstone fold is PHYSICAL: after the commit the deleted
        // rows are gone from storage, not just masked at probe time
        cellFold(Fs.masked(union.dropDuplicates("vec_id"), tombs, "vec_id",
            "vec_id"), n,
          s"compacting $indexPath would delete every remaining vector — an " +
            "empty assignments table cannot be probed; rebuild the index " +
            "instead of compacting it away")
      }
    }
    ()
  }

  /** The folded table's writer for both ANN compactions: refuses an
    * empty result, and repartitions BY cell, so each cell's rows land in
    * one task and the layout is ~one file per (cell, target size) — not
    * `files` files per cell from a round-robin split. */
  private def cellFold(kept: DataFrame, files: Int,
      emptyMsg: => String): Option[String => Unit] = {
    require(!kept.isEmpty, emptyMsg)
    Some(dst => kept.repartition(files, col("cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(dst))
  }

  /** DELETE vectors from a standing ANN index artifact — the missing
    * verb of the build/append/ingest/compact lifecycle (takedowns,
    * dedup-driven removals, retention windows; without it the only
    * removal path is a full rebuild). Works against BOTH artifact
    * layouts ([[writeIvfFlatIndex]] and [[writeIvfPqIndex]]): the ids
    * land as a blind append to the artifact's tombstone table
    * ([[Fs.appendTombstones]]) — O(|deleted|) rows written, the index
    * data untouched — and take effect at the next probe
    * ([[ivfFlatProbe]]/[[ivfPqProbe]] mask them) until a compaction
    * ([[compactIvfFlatIndex]]/[[compactIvfPqIndex]]) folds them in
    * physically. Replayed deletes, overlapping batches and ids absent
    * from the index are all harmless: every reader applies the table
    * with set semantics. `ids` must expose `vec_id`. */
  def deleteFromAnnIndex(ids: DataFrame, indexPath: String): Unit =
    Fs.appendTombstones(ids, indexPath, "vec_id")

  /** Fold the tombstone table of a [[writeIvfPqIndex]] artifact into its
    * codes table physically ([[compactIvfFlatIndex]]'s
    * [[Fs.commitFold]] for the compressed layout): the cell-partitioned
    * codes minus deleted vec_ids, tombstones left behind. No-op without
    * tombstones (the PQ artifact has no streaming ingest to fold). */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, targetFileBytes: Long = 128L << 20,
      retain: Option[Int] = None): Unit = {
    Fs.commitFold(indexPath, Some("codes"), targetFileBytes, retain) {
      (concrete, n) =>
        Fs.tombstones(spark, concrete, "vec_id").flatMap { tb =>
          cellFold(Fs.masked(spark.read.parquet(s"$concrete/codes")
              .select(col("vec_id"), col("codes"), col("recon_norm"), col("cell")),
              Some(tb), "vec_id", "vec_id"), n,
            s"compacting $concrete would delete every remaining vector — an " +
              "empty codes table cannot be probed; rebuild the index instead")
        }
    }
    ()
  }

  /** The MATERIALIZABLE IVF-PQ index — [[writeIvfFlatIndex]]'s artifact
    * lifecycle applied to the COMPRESSED form: the corpus lands under
    * `path/codes/` as (vec_id, codes, recon_norm) PARTITIONED BY cell
    * (m small ints + one double per vector — the ~dim·8/m× smaller
    * payload that makes billion-scale serving fit in storage), the
    * frozen coarse quantizer under `path/centroids/` and the PQ
    * codebooks under `path/codebooks/` (m × codewords rows — bounded).
    * The reconstruction norm is computed once at build time and stored,
    * so a probe touches codes only; a probe's scan partition-prunes to
    * its probed cells exactly as the flat artifact's does. Deterministic
    * hash centroids/codebooks by default, so build→write→reload→probe
    * hash-checks and [[ivfPqProbe]] ≡ [[ivfPqTopK]] bit for bit
    * (doubles and ints round-trip parquet losslessly). */
  def writeIvfPqIndex(corpus: DataFrame, nLists: Int, m: Int,
      codewords: Int, path: String): Unit =
    writeIvfPqIndex(corpus, hashCentroids(corpus, nLists),
      pqCodebooks(corpus, m, codewords), path)

  /** [[writeIvfPqIndex]] under caller-supplied frozen quantizers — the
    * [[collectTrainedCentroids]] composition point for the compressed
    * artifact. */
  def writeIvfPqIndex(corpus: DataFrame, centroids: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]], path: String): Unit = {
    require(centroids.nonEmpty && codebooks.nonEmpty,
      "centroids and codebooks must be non-empty")
    val spark = corpus.sparkSession
    import spark.implicits._
    encodeWithNorm(corpus, codebooks, centroids)
      .select(col("vec_id"), col("codes"), col("recon_norm"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    centroids.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    codebooks.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) => (j, c, cw) }
    }.toDF("subspace", "code", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** The artifact's PQ codebooks, read back: m × codewords rows — the
    * bounded driver-side half, like [[readCentroids]]. */
  private[graft] def readCodebooks(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Seq[Seq[Seq[Double]]] = {
    val p = s"$indexPath/codebooks"
    // existence-check BEFORE the read, as in [[readCentroids]]: a flat
    // artifact passes the centroid check and would otherwise die in the
    // parquet scan with a raw AnalysisException
    require(Fs.exists(p),
      s"no codebook table at $p — not a writeIvfPqIndex artifact (a " +
        "writeIvfFlatIndex artifact has no PQ codebooks; probe it with " +
        "ivfFlatProbe)")
    spark.read.schema(Fs.parquetSchema(spark, p)).parquet(p).collect()
      .map(r => (r.getInt(0), r.getInt(1),
        r.getAs[scala.collection.Seq[Double]]("codeword").toSeq))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toSeq)
  }

  /** Row cap on [[boundedQuerySide]]'s driver-side take of a probe's
    * query rows (the [[Dedup.takeBounded]] discipline): queries×nProbe
    * rows of id + norm + per-query payload (a q_vec, or ADC LUTs) —
    * the SAME rows the probe plan ships to the driver anyway as the
    * broadcast build side, so the take adds no byte class the plan
    * didn't already pay; past the cap the pre-r21 distributed shape
    * runs unchanged. */
  private[graft] val ProbeQuerySideCap = 65536

  /** Query-side materialization shared by [[ivfPqProbe]] and
    * [[ivfFlatProbeResolved]]: ONE bounded take ([[Dedup.takeBounded]],
    * one fully-parallel job) brings the queries×nProbe rows back as a
    * LocalRelation and the probed-cell id set falls out of the same
    * rows — replacing TWO driver-latency actions per probe call (the
    * query-side eager localCheckpoint plus the probed-cells
    * distinct+collect, each ~one scheduling round trip on a plan this
    * small). Past `cap` rows the pre-r21 shape runs unchanged: eager
    * localCheckpoint (context-cleaner-reclaimed — a persist here would
    * accumulate one cache entry per probe call) + distinct collect.
    * Result-identical either way: the downstream broadcast join builds
    * from the same row set, and the isin literal is order-insensitive. */
  private def boundedQuerySide(q0: DataFrame, cap: Int)
      : (DataFrame, Seq[Int]) = {
    val taken = Dedup.takeBounded(q0, cap)
    if (taken.length <= cap) {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(taken: _*)
      val cellIdx = q0.schema.fieldIndex("cell")
      (q0.sparkSession.createDataFrame(rows, q0.schema),
        taken.map(_.getInt(cellIdx)).distinct.sorted.toSeq)
    } else {
      val q = q0.localCheckpoint(true)
      (q, q.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq)
    }
  }

  /** Probe a [[writeIvfPqIndex]] artifact: nearest-`nProbe` cells per
    * query under the reloaded centroids, ADC scoring over ONLY those
    * cells' code partitions (probed cell ids pushed as a literal IN —
    * partition pruning reaches the scan statically, the flat-probe
    * discipline). Output ≡ [[ivfPqTopK]] with the same quantizers
    * (refine = 0; an exact re-rank needs the original vectors, which the
    * compressed artifact deliberately does not carry — compose with the
    * corpus table for that). */
  def ivfPqProbe(queries: DataFrame, indexPath0: String, k: Int,
      nProbe: Int = 2,
      querySideCap: Int = ProbeQuerySideCap): DataFrame = {
    val spark = queries.sparkSession
    val indexPath = Fs.concrete(indexPath0)
    val centroids = readCentroids(spark, indexPath)
    val codebooks = readCodebooks(spark, indexPath)
    // queries×nProbe rows + the probed-cell set, ONE bounded job — see
    // [[boundedQuerySide]]
    val (q, probedCells) = boundedQuerySide(
      adcProbeSide(queries, codebooks, centroids, nProbe), querySideCap)
    val c0 =
      if (probedCells.isEmpty)
        spark.read.parquet(s"$indexPath/codes").filter(lit(false))
      else spark.read.parquet(s"$indexPath/codes")
        .filter(col("cell").isin(probedCells: _*))
    // deleted-but-not-yet-compacted vectors are masked here; the
    // anti-join's left side is already pruned to the probed cells
    val c = Fs.masked(c0, Fs.tombstones(spark, indexPath, "vec_id"), "vec_id",
      "vec_id")
    rankTopK(adcScored(c, q, Some("cell"), codebooks), k)
      .withColumnRenamed("cosine", "adc")
  }

  /** Probe a [[writeIvfFlatIndex]] artifact: nearest-`nProbe` cells per
    * query from the reloaded centroid table (one bounded collect of
    * nLists rows), then exact cosine against ONLY those cells'
    * assignment partitions. The probed cell ids are collected (≤ nLists
    * values by construction — cells, not queries) and pushed as a
    * literal IN filter so partition pruning reaches the parquet scan
    * statically. Output ≡ [[ivfFlatTopK]] with the same centroids. */
  def ivfFlatProbe(queries: DataFrame, indexPath0: String, k: Int,
      nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    val indexPath = Fs.concrete(indexPath0)
    ivfFlatProbeResolved(queries, indexPath, k, nProbe,
      readCentroids(spark, indexPath), Fs.tombstones(spark, indexPath, "vec_id"))
  }

  /** [[ivfFlatProbe]] with the SESSION-CONSTANT artifact state resolved
    * by the caller — the streaming serving loop's shape
    * ([[graft.streaming.ProbeStream]]): the frozen centroid table and
    * the tombstone mask cannot change under a running probe session
    * (quantizers are frozen at build time; deletes are a
    * between-sessions verb), so the loop resolves them ONCE and every
    * micro-batch skips one centroid read+collect job and the per-batch
    * tombstone footer re-read. `indexPath` must already be the concrete
    * generation ([[Fs.concrete]]); streamed-append visibility stays
    * per batch (the existence check below is a driver FS call, no job). */
  private[graft] def ivfFlatProbeResolved(queries: DataFrame,
      indexPath: String, k: Int, nProbe: Int,
      centroids: Seq[Seq[Double]],
      tombstones: Option[DataFrame],
      querySideCap: Int = ProbeQuerySideCap): DataFrame = {
    val spark = queries.sparkSession
    // queries×nProbe rows + the probed-cell set, ONE bounded job — see
    // [[boundedQuerySide]]
    val (q, probedCells) = boundedQuerySide(
      withCell(exactSide(queries, "query_id", "q_vec", "q_norm"), "q_vec",
        centroids)(nearest(nProbe)),
      querySideCap)
    // the batch-written assignments plus — when a streaming ingest has
    // landed vectors — the file sink's `assignments_stream/` table; the
    // streamed dir is read through its `_spark_metadata` commit log, so
    // uncommitted attempt files are invisible. Both scans carry the
    // literal probed-cell filter (partition pruning on each).
    def cellsOf(path: String) =
      spark.read.parquet(path)
        .filter(col("cell").isin(probedCells: _*))
        .select(col("cell"), col("vec_id").as("neighbor_id"),
          col("embedding").as("c_vec"), col("c_norm"))
    val c0 =
      if (Fs.exists(s"$indexPath/assignments_stream"))
        cellsOf(s"$indexPath/assignments")
          .unionByName(cellsOf(s"$indexPath/assignments_stream"))
      else cellsOf(s"$indexPath/assignments")
    // deleted-but-not-yet-compacted vectors (batch AND streamed rows)
    // are masked here; the left side is already pruned to probed cells
    val c = Fs.masked(c0, tombstones, "neighbor_id", "vec_id")
    rankTopK(scorePairs(c, q, Some("cell"), exactCosine)
      .dropDuplicates("query_id", "neighbor_id"), k)
  }

  /** Random-projection dimensionality reduction: y_j = ⟨v, plane_j⟩
    * over a literal plane matrix ([[graft.functions.VectorFunctions
    * .randomPlanes]] — seeded, engine-derivable, the same planes the
    * SRP bucketing uses for its signs). The standard cost lever BEFORE
    * similarity search: a 64→16 projection cuts every downstream dot
    * product 4× and the candidate payload bytes with it, at a recall
    * cost [[recallReport]] measures (Johnson–Lindenstrauss is the
    * published bound). One scan-fused projection — outDims native dot
    * products per row, no shuffle; output is (vec_id, embedding) in
    * array<double>, drop-in for every topK operator here. */
  def projectVecs(df: DataFrame, id: Column, vec: Column,
      planes: Seq[Seq[Double]]): DataFrame =
    // plane matrix as one table literal (outDims × dim literals unrolled
    // would re-grow the Janino cliff this family keeps meeting); the
    // native dot in the lambda keeps each projection a tight array loop
    df.select(id.as("vec_id"),
      transform(typedlit(planes), p => V.dot(vec, p)).as("embedding"))

  /** Per-query recall REPORT of `approx` against `exact` (both in the
    * topK output shape): (query_id, truth, hits) with truth = the exact
    * top-k's size and hits = |approx ∩ exact| — the index-quality eval
    * every ANN deployment runs before trusting an approximate path, as
    * an oracle-checkable table ([[recallAtK]] is the scalar fold of
    * this). All-integer output: no float recall column, so the result
    * hashes identically in any engine; callers divide if they want the
    * ratio. Scale: both inputs are k-bounded per query (the ground
    * truth is the expensive side — a brute-force pass over a SAMPLE of
    * queries is the standard production form; this operator is linear
    * in the frames it is given). */
  def recallReport(exact: DataFrame, approx: DataFrame): DataFrame = {
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("truth"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("truth"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Recall@k of `approx` against `exact` (both in topK output shape):
    * |approx ∩ exact| / |exact| per query, averaged. */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val hit = exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble
    val total = exact.count().toDouble
    if (total == 0) 1.0 else hit / total
  }
}
