package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The driver-side min-label union-find that admitCore uses for its
  * BOUNDED in-batch survivor graph must agree with the distributed
  * star-contraction loop label for label — same representative policy
  * (smallest reachable id), so swapping the execution strategy can never
  * change which survivor admits. */
class AdmitCoreComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  test("local union-find ≡ distributed star contraction on random pair graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 40 + trial * 17
      val edges = Seq.fill(n) {
        val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      val local = Dedup.localMinLabelComponents(edges)
      val star = Dedup.connectedComponentsStar(
          edges.toDF("id_a", "id_b"), col("id_a"), col("id_b"))
        .as[(Long, Long)].collect().toMap
      local shouldBe star
    }
  }

  test("chain and singleton shapes: min label propagates the full diameter") {
    // a 0-1-2-...-9 chain: every node labels 0 (the star loop's worst
    // case per diameter; the local fold must match exactly)
    val chain = (0L until 9L).map(i => (i, i + 1))
    val local = Dedup.localMinLabelComponents(chain)
    local.values.toSet shouldBe Set(0L)
    local.keySet shouldBe (0L to 9L).toSet
    // two disjoint pairs keep distinct minima
    Dedup.localMinLabelComponents(Seq((5L, 3L), (8L, 9L))) shouldBe
      Map(3L -> 3L, 5L -> 3L, 8L -> 8L, 9L -> 8L)
  }

  test("broadcastNew pins the probe's build side to the batch: no index shuffle even past the auto-broadcast threshold") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= "cccc"
    val conf = spark.conf
    val (thr0, aqe0) = (conf.get("spark.sql.autoBroadcastJoinThreshold"),
      conf.get("spark.sql.adaptive.enabled"))
    try {
      // simulate the 100 TB condition: the index side is PAST the
      // auto-broadcast threshold (disable it outright) — without the
      // hint the band probe degrades to shuffling the index per batch
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      // the probe's joins run inside admitCore's eager survivor
      // checkpoint, so the shape check watches EVERY executed plan of
      // the call via a listener, not just the returned frame's tail
      val smj = new java.util.concurrent.atomic.AtomicInteger
      val bhj = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = {
          smj.addAndGet(qe.executedPlan
            .collect { case j: SortMergeJoinExec => j }.size)
          bhj.addAndGet(qe.executedPlan
            .collect { case j: BroadcastHashJoinExec => j }.size)
          ()
        }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      def admitted(broadcastNew: Boolean): (Seq[Long], Int, Int) = {
        smj.set(0); bhj.set(0)
        spark.listenerManager.register(listener)
        val ids = try {
          val r = Dedup.admitNewDocsWithIndex(
            docs.filter(isNew), Dedup.nearDupIndex(docs.filter(!isNew),
              col("doc_id"), col("text"), 3, 8, 2),
            col("doc_id"), col("text"), shingleN = 3, k = 8,
            rowsPerBand = 2, threshold = 0.4, broadcastNew = broadcastNew)
            .as[Long].collect().sorted.toSeq
          // async listener bus — poll until the counters stabilize (the
          // BenchScale partitionsRead idiom; listenerBus is private)
          val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
          var last = (-1, -1); var stable = 0
          while (stable < 3 && System.nanoTime() < deadline) {
            Thread.sleep(100)
            val cur = (smj.get, bhj.get)
            if (cur == last && cur._2 > 0) stable += 1 else stable = 0
            last = cur
          }
          r
        } finally spark.listenerManager.unregister(listener)
        (ids, smj.get, bhj.get)
      }
      val (hintedIds, hintedSmj, hintedBhj) = admitted(broadcastNew = true)
      val (freeIds, freeSmj, _) = admitted(broadcastNew = false)
      // the hinted probe keeps every BATCH-BOUNDED join broadcast with
      // the batch as build side; the unhinted one sort-merges (shuffling
      // the index) under the same threshold — the knob is what makes
      // "probe pays |new|" true in plan shape at every index size. The
      // ONE deliberate exception is the candidate-pair verify join
      // (withShN ⋈ index shingles): its build side scales with band
      // collisions, not the batch, so it is left to the optimizer (AQE
      // converts it at runtime when small) and may sort-merge here —
      // never more than that single join.
      assert(hintedSmj <= 1, s"hinted probe sort-merged $hintedSmj joins " +
        "(only the unhinted candidate-pair verify join may)")
      assert(hintedBhj >= 2, s"expected the probe's joins broadcast, saw $hintedBhj")
      assert(freeSmj > hintedSmj,
        "control: the unhinted probe should sort-merge strictly more")
      assert(freeSmj > 0, "control: the unhinted probe should sort-merge here")
      // and the strategy cannot change the admitted set
      hintedIds shouldBe freeIds
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", thr0)
      conf.set("spark.sql.adaptive.enabled", aqe0)
    }
  }

  test("admission output is unchanged by the strategy swap (q109 shape)") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= "cccc"
    val admitted = Dedup.admitNewDocs(docs.filter(isNew), docs.filter(!isNew),
        col("doc_id"), col("text"), shingleN = 3, k = 8, rowsPerBand = 2,
        threshold = 0.4)
      .as[Long].collect().sorted.toSeq
    // the q109 oracle pins the exact set at sf0.01; here we pin the
    // invariant the swap must preserve: admitted ids are survivors'
    // min-id representatives — no duplicates, all from the new slice
    admitted.distinct.length shouldBe admitted.length
    val newIds = docs.filter(isNew).select("doc_id").as[Long].collect().toSet
    admitted.foreach(id => assert(newIds.contains(id)))
  }

  test("admitPrehashedBounded ≡ admitPrehashed: same admitted set on the " +
      "fast path, past the cap, and for non-long ids") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val isNew = substring(md5(col("doc_id").cast("string")), 1, 4) >= "cccc"
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupIndex(df, col("doc_id"), col("text"),
        shingleN = 3, k = 8, rowsPerBand = 2).localCheckpoint(true)
    val sigs = sigsOf(docs.filter(isNew))
    val ix = sigsOf(docs.filter(!isNew))
      .select(col("doc_id"), col("sh"), col("bands"))
    val viaFrame = Dedup.admitPrehashed(sigs, ix, 0.4)
      .as[Long].collect().sorted.toSeq
    // fast path: bounded collect + driver union-find
    val fast = Dedup.admitPrehashedBounded(sigs, ix, 0.4)
    fast.isLeft shouldBe true
    fast.left.toOption.get shouldBe viaFrame
    // past the cap: the distributed tail comes back as a frame,
    // admitted set identical
    val over = Dedup.admitPrehashedBounded(sigs, ix, 0.4, cap = 1)
    over.isRight shouldBe true
    over.toOption.get.as[Long].collect().sorted.toSeq shouldBe viaFrame
    // non-long ids route distributed (the local min-label ordering
    // guarantee is integral-only) and must equal the frame path on the
    // SAME string-typed inputs — NOT the long run: the min-id
    // representative policy follows the id type's own ordering
    // ("450" < "5" lexicographically), so a string-id component can
    // legitimately elect a different representative than its long twin
    val sigsS = sigs.withColumn("doc_id", col("doc_id").cast("string"))
    val ixS = ix.withColumn("doc_id", col("doc_id").cast("string"))
    val str = Dedup.admitPrehashedBounded(sigsS, ixS, 0.4)
    str.isRight shouldBe true
    str.toOption.get.as[String].collect().sorted.toSeq shouldBe
      Dedup.admitPrehashed(sigsS, ixS, 0.4).as[String].collect().sorted.toSeq
  }

  test("admitPrehashedBounded candidate path: in-batch near-dup clusters " +
      "(driver-side band candidates + distributed verify) match the frame " +
      "path; a degenerate shared band routes to the distributed fallback") {
    // synthetic batch with GUARANTEED in-batch near-dups: three exact
    // clusters (identical text ⇒ every band shared ⇒ candidates across
    // multiple buckets, deduped) plus unique singletons; empty index so
    // every doc survives the probe and the in-batch stage decides alone
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      7L -> "alpha beta gamma delta epsilon zeta eta theta",
      3L -> "one two three four five six seven eight nine",
      9L -> "one two three four five six seven eight nine",
      4L -> "lorem ipsum dolor sit amet consectetur adipiscing",
      5L -> "completely different text with no shared shingles here",
      6L -> "another unique document body that matches nothing else")
    val df = texts.toDF("doc_id", "text")
    def sigsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.nearDupIndex(d, col("doc_id"), col("text"),
        shingleN = 3, k = 8, rowsPerBand = 2).localCheckpoint(true)
    val sigs = sigsOf(df)
    val emptyIx = sigs.filter(lit(false))
      .select(col("doc_id"), col("sh"), col("bands"))
    val viaFrame = Dedup.admitPrehashed(sigs, emptyIx, 0.4)
      .as[Long].collect().sorted.toSeq
    val fast = Dedup.admitPrehashedBounded(sigs, emptyIx, 0.4)
    fast.isLeft shouldBe true
    fast.left.toOption.get shouldBe viaFrame
    // min-id representatives: the 1/2/7 and 3/9 clusters collapse
    viaFrame should contain allOf (1L, 3L, 4L, 5L, 6L)
    viaFrame should contain noneOf (2L, 7L, 9L)
    // a tiny cap routes to the distributed fallback, set unchanged (the
    // clusters' 16 bucket pairs cross cap = 2)
    val over = Dedup.admitPrehashedBounded(sigs, emptyIx, 0.4, cap = 2)
    over.isRight shouldBe true
    over.toOption.get.as[Long].collect().sorted.toSeq shouldBe viaFrame
    // the QUADRATIC-TERM cap: the 8 survivors number no more than
    // cap = 8, but the identical clusters' band buckets hold 16 pairs
    // (4 bands × 3 for 1/2/7, 4 × 1 for 3/9)
    val quad = Dedup.admitPrehashedBounded(sigs, emptyIx, 0.4, cap = 8)
    quad.isRight shouldBe true
    quad.toOption.get.as[Long].collect().sorted.toSeq shouldBe viaFrame
  }

  test("admitNewVecsPreassignedBounded candidate path: same-cell in-batch " +
      "pairs (driver-side cell candidates + distributed cosine verify) " +
      "match the distributed path") {
    // two near-identical vectors land in the same cell (near-dup pair),
    // plus distinct ones; empty standing set so the in-batch stage
    // decides alone
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (4L, Seq(0.999, 0.001, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0),
      Seq(0.0, 0.0, 1.0))
    val asg = graft.operators.Similarity.assignCells(vecs, centroids)
      .localCheckpoint(true)
    val standing = asg.filter(lit(false))
    val viaFrame = Dedup.admitNewVecsPreassigned(asg, standing, 0.95)
      .as[Long].collect().sorted.toSeq
    val fast = Dedup.admitNewVecsPreassignedBounded(asg, standing, 0.95)
    fast.isLeft shouldBe true
    fast.left.toOption.get shouldBe viaFrame
    viaFrame shouldBe Seq(1L, 2L, 3L) // 4 collapses into 1's component
    // every fallback the MinHash caller checks, from the vector caller:
    // each returns the distributed frame (Right) with the admitted set
    // of the reference path on the same inputs
    def fallsBack(a: org.apache.spark.sql.DataFrame, cap: Int): Unit = {
      val st = a.filter(lit(false))
      val r = Dedup.admitNewVecsPreassignedBounded(a, st, 0.95, cap)
      r.isRight shouldBe true
      r.toOption.get.collect().map(_.get(0)).toSeq.map(_.toString).sorted shouldBe
        Dedup.admitNewVecsPreassigned(a, st, 0.95)
          .collect().map(_.get(0)).toSeq.map(_.toString).sorted
      ()
    }
    // the row cap: four survivors past cap = 1
    fallsBack(asg, cap = 1)
    def sameCell(n: Int) = graft.operators.Similarity.assignCells(
        (1 to n).map(i => (i.toLong, Seq(1.0, 0.001 * i, 0.0)))
          .toDF("vec_id", "embedding"), centroids)
      .localCheckpoint(true)
    // three same-cell vectors under cap = 2 (three rows already cross
    // the row cap), and the quadratic-term cap proper: four same-cell
    // vectors fit cap = 4 as rows, but their one bucket holds 6 pairs
    fallsBack(sameCell(3), cap = 2)
    fallsBack(sameCell(4), cap = 4)
    // a string vec_id routes distributed (integral-only local min)
    fallsBack(asg.withColumn("vec_id", col("vec_id").cast("string")),
      cap = Dedup.InBatchPairCap)
  }

  test("one bounded call runs a pinned number of Spark jobs: one bounded " +
      "take, and no extra job when a batch has no in-batch candidates") {
    def sigsOf(texts: Seq[(Long, String)]) =
      Dedup.nearDupIndex(texts.toDF("doc_id", "text"), col("doc_id"),
        col("text"), shingleN = 3, k = 8, rowsPerBand = 2).localCheckpoint(true)
    val unique = Seq(
      4L -> "lorem ipsum dolor sit amet consectetur adipiscing",
      5L -> "completely different text with no shared shingles here",
      6L -> "another unique document body that matches nothing else")
    val clustered = unique ++ Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      7L -> "alpha beta gamma delta epsilon zeta eta theta")
    def minhashJobs(texts: Seq[(Long, String)]): Int = {
      val sigs = sigsOf(texts)
      val ix = sigs.filter(lit(false))
        .select(col("doc_id"), col("sh"), col("bands"))
      jobsOf { Dedup.admitPrehashedBounded(sigs, ix, 0.4).isLeft shouldBe true; () }
    }
    val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0),
      Seq(0.0, 0.0, 1.0))
    def vecJobs(vecs: Seq[(Long, Seq[Double])]): Int = {
      val asg = graft.operators.Similarity.assignCells(
          vecs.toDF("vec_id", "embedding"), centroids).localCheckpoint(true)
      jobsOf {
        Dedup.admitNewVecsPreassignedBounded(asg, asg.filter(lit(false)),
          0.95).isLeft shouldBe true
        ()
      }
    }
    val distinctCells = Seq((1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)), (3L, Seq(0.0, 0.0, 1.0)))
    val sharedCell = distinctCells :+ ((4L, Seq(0.999, 0.001, 0.0)))
    val counts = Seq(minhashJobs(unique), minhashJobs(clustered),
      vecJobs(distinctCells), vecJobs(sharedCell))
    // a MinHash batch is the single batch collect (the index collect
    // over this empty index is a local relation, no job); the vector path
    // adds its touched-cells collect (an aggregate: two jobs); in-batch
    // candidates verify on the driver, with no job (the parent commit of
    // this pin measured (1, 4, 3, 6): three jobs per candidate verify)
    counts shouldBe Seq(1, 1, 3, 3)
  }

  test("takeBounded parallelism gate: past TakeBoundedMaxParts shuffle " +
      "partitions the incremental take runs — admitted set unchanged") {
    // the production-cluster regime (thousands of reduce partitions)
    // routes the bounded probes through limit+collect, whose transfer
    // is ~cap-bounded at any partition count; results must be identical
    val texts = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "alpha beta gamma delta epsilon zeta eta theta",
      5L -> "completely different text with no shared shingles here",
      6L -> "another unique document body that matches nothing else")
    val df = texts.toDF("doc_id", "text")
    val sigs = Dedup.nearDupIndex(df, col("doc_id"), col("text"),
      shingleN = 3, k = 8, rowsPerBand = 2).localCheckpoint(true)
    val emptyIx = sigs.filter(lit(false))
      .select(col("doc_id"), col("sh"), col("bands"))
    val conf = spark.conf
    val p0 = conf.get("spark.sql.shuffle.partitions")
    val viaOneJob = Dedup.admitPrehashedBounded(sigs, emptyIx, 0.4)
    try {
      conf.set("spark.sql.shuffle.partitions",
        (Dedup.TakeBoundedMaxParts + 1).toString)
      val viaLadder = Dedup.admitPrehashedBounded(sigs, emptyIx, 0.4)
      viaLadder.isLeft shouldBe true
      viaLadder.left.toOption.get shouldBe viaOneJob.left.toOption.get
      viaLadder.left.toOption.get shouldBe Seq(1L, 5L, 6L)
    } finally conf.set("spark.sql.shuffle.partitions", p0)
  }

  test("connectedComponentsAuto ≡ star on a mixed graph") {
    // chain + star + singleton-pair mix — the shapes the local≡star pin
    // already covers, here asserted through the PUBLIC auto entry the
    // clean pipelines route through
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),           // chain
      (10L, 11L), (10L, 12L), (10L, 13L),     // star
      (20L, 21L)).toDF("id_a", "id_b")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "comp").as[(Long, Long)].collect().toSet
    val auto = norm(Dedup.connectedComponentsAuto(
      pairs, col("id_a"), col("id_b")))
    val star = norm(Dedup.connectedComponentsStar(
      pairs, col("id_a"), col("id_b")))
    auto shouldBe star
    auto.groupBy(_._2).keySet shouldBe Set(1L, 10L, 20L)
  }
}
