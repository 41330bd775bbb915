package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.AdmissionStream

/** The bounded MinHash admission — a batch collect, an index collect and
  * every Jaccard verify on the driver — decides exactly as the
  * distributed `admitCore` path (`admitPrehashed`) on seeded corpora that
  * hold every case the two could disagree on, and past each of its
  * driver caps it falls back to that path with the same admitted set. */
class BoundedAdmissionSpec extends SparkSpecBase {
  import spark.implicits._

  private val (shingleN, k, rowsPerBand, threshold) = (3, 8, 2, 0.5)

  /** A seeded standing corpus and one batch against it. Every document's
    * words are distinct, so its shingles are too. The batch mixes fresh
    * text with: reposts of index docs (re-cased and re-spaced — the same
    * shingles); reposts of earlier batch docs; docs at exactly Jaccard
    * 0.5 with an index doc or an earlier batch doc (11 words vs. their
    * first 8 plus 3 fresh: 6 shared of 12 shingles); a row repeated under
    * its doc_id, and a doc_id carried by two different texts. The index
    * repeats some rows (one signature written twice) and carries some ids
    * on a second row of different text (a re-landed id), a few of which
    * the batch reposts. */
  private def corpus(seed: Long): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val r = new scala.util.Random(seed)
    val vocab = Iterator.continually(
        Iterator.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
      .distinct.take(4000).toVector
    def words(n: Int): Vector[String] =
      Iterator.continually(vocab(r.nextInt(vocab.size))).distinct.take(n).toVector
    def repost(ws: Seq[String]): String =
      ws.map(w => if (r.nextInt(4) == 0) w.toUpperCase else w).mkString("  ")
    def atThreshold(ws: Seq[String]): Seq[String] =
      ws.take(8) ++ Iterator.continually(vocab(r.nextInt(vocab.size)))
        .filterNot(ws.contains).distinct.take(3)
    val index = (1L to 150L).map(i =>
      i -> (if (i % 5 == 0) words(11) else words(20 + r.nextInt(30))))
    val batch = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[String])]
    (1000L until 1200L).foreach { id =>
      val c = r.nextDouble()
      val ws =
        if (c < 0.15) index(r.nextInt(index.size))._2
        else if (c < 0.25) atThreshold(index(5 * r.nextInt(30) + 4)._2)
        else if (c < 0.35 && batch.nonEmpty) batch(r.nextInt(batch.size))._2
        else if (c < 0.45 && batch.exists(_._2.size == 11))
          atThreshold(r.shuffle(batch.filter(_._2.size == 11).toSeq).head._2)
        else if (c < 0.55) words(11)
        else words(20 + r.nextInt(30))
      batch += id -> ws
    }
    val dupRow = batch(7)
    val twoTexts = batch(11)._1 -> words(25)
    // re-landed index ids: a second row under the id with new text, and
    // batch reposts of some of those texts
    val relanded = index.filter(_._1 % 7 == 0).map { case (i, _) => i -> words(25) }
    val relandedReposts = relanded.take(5).zipWithIndex.map { case ((_, ws), j) =>
      (1200L + j) -> ws }
    val batchRows = batch.toSeq ++ Seq(dupRow, twoTexts) ++ relandedReposts
    val indexRows = index ++ index.take(6) ++ relanded
    (indexRows.map { case (i, ws) => i -> ws.mkString(" ") },
      batchRows.map { case (i, ws) => i -> repost(ws) })
  }

  private def sigsOf(docs: Seq[(Long, String)]): DataFrame =
    Dedup.nearDupIndex(docs.toDF("doc_id", "text"), col("doc_id"),
      col("text"), shingleN, k, rowsPerBand).localCheckpoint(true)

  private def viaFrame(sigs: DataFrame, ix: DataFrame): Seq[Long] =
    Dedup.admitPrehashed(sigs, ix, threshold).as[Long].collect().sorted.toSeq

  private def bounded(r: Either[Seq[Long], DataFrame]): Seq[Long] = {
    r.isLeft shouldBe true
    r.left.toOption.get
  }

  private def fallback(r: Either[Seq[Long], DataFrame]): Seq[Long] = {
    r.isRight shouldBe true
    r.toOption.get.as[Long].collect().sorted.toSeq
  }

  /** `ix`'s rows held as a session view, each of origin `origin`, minus
    * the `deleted` ids. */
  private def viewOf(ix: DataFrame, origin: Long = -1L,
      deleted: Set[Long] = Set.empty): Dedup.IndexView = {
    val rows = ix.select(col("doc_id"), col("bands"), col("sh"),
      lit(origin).as("origin"))
    Dedup.IndexView(rows.collect().toSeq, rows.schema, _.getLong(3), deleted)
  }

  /** `sigs` probed against `view` as batch `batchId` of a session. */
  private def viaView(sigs: DataFrame, view: Dedup.IndexView,
      batchId: Long = 0L): Seq[Long] =
    bounded(Dedup.admitHeld(Dedup.HeldSig.of(sigs.collect().toSeq,
      sigs.schema, _ => batchId), view, batchId, threshold)(
      fail("the view probe fell back")))

  test("bounded admission ≡ admitPrehashed on seeded corpora: reposts of " +
      "index and batch docs, pairs at exactly the threshold, a tombstoned " +
      "index doc, duplicate doc_id rows") {
    Seq(1L, 2L, 3L).foreach { seed =>
      withClue(s"seed $seed: ") {
        val (indexDocs, batchDocs) = corpus(seed)
        val sigs = sigsOf(batchDocs)
        val ix = sigsOf(indexDocs)
        val reference = viaFrame(sigs, ix)
        bounded(Dedup.admitPrehashedBounded(sigs, ix, threshold)) shouldBe
          reference
        // the streaming loop's form: the batch held on the driver first
        bounded(Dedup.admitPrehashedBounded(
          Dedup.heldFrame(sigs, Dedup.boundedRows(sigs).get), ix,
          threshold)) shouldBe reference
        // the session view's probe decides the same
        viaView(sigs, viewOf(ix)) shouldBe reference
        // the cases are present: reposts and at-threshold twins reject
        // dozens of the 200 batch ids
        batchDocs.map(_._1).distinct.size - reference.distinct.size should
          be > 30
        // a tombstoned index doc no longer blocks its reposts — both
        // paths read the same masked frame
        val reposted = indexDocs.map(_._1).find(i => batchDocs.exists(b =>
          b._2.toLowerCase.split("\\s+").mkString(" ") ==
            indexDocs.find(_._1 == i).get._2)).get
        val masked = graft.operators.Fs.masked(ix,
          Some(Seq(reposted).toDF("doc_id")), "doc_id", "doc_id")
        val maskedRef = viaFrame(sigs, masked)
        maskedRef.size should be > reference.size
        bounded(Dedup.admitPrehashedBounded(sigs, masked, threshold)) shouldBe
          maskedRef
        viaView(sigs, viewOf(ix, deleted = Set(reposted))) shouldBe maskedRef
        // a view probes only rows of an earlier origin: the batch's own
        // fold-back and a later batch's are invisible to it
        val empty = viaFrame(sigs, ix.filter(lit(false)))
        viaView(sigs, viewOf(ix, origin = 3L), batchId = 3L) shouldBe empty
        viaView(sigs, viewOf(ix, origin = 5L), batchId = 3L) shouldBe empty
        viaView(sigs, viewOf(ix, origin = 2L), batchId = 3L) shouldBe reference
      }
    }
  }

  test("pairs at exactly Jaccard = threshold verify as matches on both paths") {
    val ws = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo")
    val twin = ws.take(8) ++ Seq("lima", "mike", "november")
    // 6 shared of 12 distinct shingles: exactly 0.5 — rejected (≥), as
    // the batch docs repeat each other and the index doc; rowsPerBand 1
    // makes the pairs candidates
    val index = Seq(1L -> ws.mkString(" "))
    val batch = Seq(10L -> twin.mkString(" "), 11L -> ws.mkString(" "),
      12L -> twin.mkString(" "))
    def sigs(d: Seq[(Long, String)]) = Dedup.nearDupIndex(d.toDF("doc_id", "text"),
      col("doc_id"), col("text"), shingleN, k, 1).localCheckpoint(true)
    val ref = viaFrame(sigs(batch), sigs(index))
    ref shouldBe Seq.empty
    bounded(Dedup.admitPrehashedBounded(sigs(batch), sigs(index), threshold)) shouldBe ref
    viaView(sigs(batch), viewOf(sigs(index))) shouldBe ref
    // against an empty index, the in-batch stage alone keeps 10 (12 is
    // its repost, 11 is at the threshold with both)
    val empty = sigs(index).filter(lit(false))
    viaFrame(sigs(batch), empty) shouldBe Seq(10L)
    bounded(Dedup.admitPrehashedBounded(sigs(batch), empty, threshold)) shouldBe Seq(10L)
    viaView(sigs(batch), viewOf(empty)) shouldBe Seq(10L)
    // the verify reads the held shingle sets and lays nothing out, so
    // only the collects are bounded: the batch weighs 3 × (1 + 8 bands
    // + 9 shingles) = 54, and 54 admits it with its three in-batch pairs
    bounded(Dedup.admitPrehashedBounded(sigs(batch), empty, threshold,
      payloadCap = 54)) shouldBe Seq(10L)
    fallback(Dedup.admitPrehashedBounded(sigs(batch), empty, threshold,
      payloadCap = 53)) shouldBe Seq(10L)
  }

  test("the streaming loop excludes the batch's own batch-<id> subdir: a " +
      "replayed batch admits what admitPrehashed admits against the prior index") {
    val (indexDocs, batchDocs) = corpus(4L)
    val root = Files.createTempDirectory("graft_bounded_replay_")
    try {
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      val indexPath = root.resolve("index").toString
      val stage = root.resolve("stage").toString
      batchDocs.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, landing.resolve("a.parquet"))
      val sigs = sigsOf(batchDocs)
      val seed = sigsOf(indexDocs)
      seed.write.parquet(s"$indexPath/seed")
      // a prior attempt of batch 0 left the batch's own signatures
      // behind: probing them would reject the whole replay
      sigs.write.parquet(s"$indexPath/batch-0")
      val admitted = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, root.resolve("out").toString, shingleN, k, rowsPerBand,
          threshold)
        .select("doc_id").as[Long].collect().sorted.toSeq
      admitted shouldBe viaFrame(sigs, seed.select("doc_id", "sh", "bands"))
      admitted should not be empty
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }

  test("an index doc_id on two rows of different text verifies under " +
      "both rows, also the one that shares no band with the batch") {
    val r = new scala.util.Random(6L)
    val vocab = Iterator.continually(
        Iterator.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
      .distinct.take(4000).toVector
    def words(n: Int): Seq[String] =
      Iterator.continually(vocab(r.nextInt(vocab.size))).distinct.take(n).toSeq
    // per id X: batch doc n (11 words); X's row A keeps n's first 7
    // words (Jaccard 5/13 with n: often a band candidate, never a
    // match) and X's row B its first 8 (exactly 0.5: a match that
    // shares no band with n about a third of the time)
    val triples = (1L to 60L).map { x =>
      val n = words(11)
      val fresh = Iterator.continually(words(1).head).filterNot(n.contains)
        .distinct.take(7).toSeq
      (x, n, n.take(7) ++ fresh.take(4), n.take(8) ++ fresh.drop(4))
    }
    val batch = triples.map { case (x, n, _, _) => (1000L + x) -> n.mkString(" ") }
    val index = triples.flatMap { case (x, _, a, b) =>
      Seq(x -> a.mkString(" "), x -> b.mkString(" ")) }
    val sigs = sigsOf(batch)
    val ix = sigsOf(index)
    val reference = viaFrame(sigs, ix)
    bounded(Dedup.admitPrehashedBounded(sigs, ix, threshold)) shouldBe reference
    viaView(sigs, viewOf(ix)) shouldBe reference
    // the case is present: batch docs rejected though their B row shares
    // no band with any batch doc (a verify of the band-sharing rows
    // alone would admit them)
    val batchBands = sigs.select(explode(col("bands"))).as[String].collect().toSet
    val bandFreeB = sigsOf(triples.map { case (x, _, _, b) => x -> b.mkString(" ") })
      .select("doc_id", "bands").collect()
      .filter(_.getSeq[String](1).forall(b => !batchBands(b))).map(_.getLong(0)).toSet
    val hidden = triples.map(_._1).count(x => bandFreeB(x) && !reference.contains(1000L + x))
    withClue("no batch doc is rejected by a band-free row alone: ") {
      hidden should be > 0
    }
  }

  test("just past each driver bound — batch payload, index-candidate " +
      "payload, verify payload, candidate pairs — the distributed fallback admits the same set") {
    val (indexDocs, batchDocs) = corpus(5L)
    val sigs = sigsOf(batchDocs)
    val ix = sigsOf(indexDocs)
    val reference = viaFrame(sigs, ix)
    def weight(rows: Seq[Row]): Long = rows.map(r =>
      1L + r.getSeq[String](1).size + r.getSeq[String](2).size).sum
    def rowsOf(df: DataFrame) = df.select("doc_id", "bands", "sh").collect().toSeq
    // the batch outweighs its index candidates here: the batch collect
    // crosses first
    val batchWeight = weight(rowsOf(sigs))
    bounded(Dedup.admitPrehashedBounded(sigs, ix, threshold)) shouldBe reference
    fallback(Dedup.admitPrehashedBounded(sigs, ix, threshold,
      payloadCap = batchWeight - 1)) shouldBe reference
    Dedup.boundedRows(sigs.select("doc_id", "bands", "sh"), batchWeight - 1) shouldBe None
    Dedup.boundedRows(sigs.select("doc_id", "bands", "sh"), batchWeight)
      .map(_.length) shouldBe Some(sigs.count())
    // a batch of reposts against an index that holds each of their
    // originals twice: the index candidates outweigh the batch, so the
    // index collect crosses first; each repost shares every one of its
    // 4 bands with both copies — 8 band pairs per repost
    val originals = indexDocs.distinct.take(20)
    val reposts = sigsOf(originals.map { case (i, t) => (2000L + i) -> t.toUpperCase })
    val doubled = sigsOf(originals ++ originals)
    val repostRef = viaFrame(reposts, doubled)
    repostRef shouldBe Seq.empty
    val repostWeight = weight(rowsOf(reposts))
    val candidateWeight = weight(rowsOf(doubled))
    assert(candidateWeight > repostWeight)
    bounded(Dedup.admitPrehashedBounded(reposts, doubled, threshold)) shouldBe repostRef
    fallback(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      payloadCap = candidateWeight - 1)) shouldBe repostRef
    // the verify's own collect: a candidate that its id's band-sharing
    // rows leave unmatched verifies against every row of the id, brought
    // back by one more take. Index id 1's row A shares a band with batch
    // doc 10 (rowsPerBand 1) without matching it (5 of 13 shingles);
    // its row B shares none, so only that take carries B
    val ws = (1 to 11).map(i => s"w$i")
    val rowA = ws.take(7) ++ (1 to 4).map(i => s"a$i")
    val rowB = (1 to 20).map(i => s"b$i")
    def sigs1(d: Seq[(Long, String)]) = Dedup.nearDupIndex(
      d.toDF("doc_id", "text"), col("doc_id"), col("text"), shingleN, k, 1)
      .localCheckpoint(true)
    val one = sigs1(Seq(10L -> ws.mkString(" ")))
    val relanded = sigs1(Seq(1L -> rowA.mkString(" "), 1L -> rowB.mkString(" ")))
    val oneBands = rowsOf(one).flatMap(_.getSeq[String](1)).toSet
    val Seq(a, b) = rowsOf(relanded).sortBy(_.getSeq[String](2).size)
    a.getSeq[String](1).exists(oneBands) shouldBe true
    b.getSeq[String](1).exists(oneBands) shouldBe false
    viaFrame(one, relanded) shouldBe Seq(10L)
    val verifyWeight = weight(Seq(a, b))
    assert(verifyWeight - 1 >= (weight(rowsOf(one)) max weight(Seq(a))))
    bounded(Dedup.admitPrehashedBounded(one, relanded, threshold,
      payloadCap = verifyWeight)) shouldBe Seq(10L)
    fallback(Dedup.admitPrehashedBounded(one, relanded, threshold,
      payloadCap = verifyWeight - 1)) shouldBe Seq(10L)
    // the pair bound, on the index-vs-batch band pairs
    val bandPairs = 20 * 4 * 2
    bounded(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      cap = bandPairs)) shouldBe repostRef
    fallback(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      cap = bandPairs - 1)) shouldBe repostRef
    // the view probe counts the same pairs against the same bound
    val held = Dedup.HeldSig.of(reposts.collect().toSeq, reposts.schema, _ => 0L)
    bounded(Dedup.admitHeld(held, viewOf(doubled), 0L, threshold,
      cap = bandPairs)(fail("fell back under the pair bound"))) shouldBe repostRef
    fallback(Dedup.admitHeld(held, viewOf(doubled), 0L, threshold,
      cap = bandPairs - 1)(viaFrame(reposts, doubled).toDF("doc_id"))) shouldBe
      repostRef
  }

  /** `docs` landed under `landing` as one parquet file per named part,
    * in that order of modification time. */
  private def land(landing: java.nio.file.Path,
      parts: Seq[(String, DataFrame)]): Unit =
    parts.zipWithIndex.foreach { case ((name, docs), i) =>
      val stage = landing.resolveSibling(s"stage-$name").toString
      docs.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val to = landing.resolve(s"$name.parquet")
      Files.move(part.toPath, to)
      to.toFile.setLastModified(1000000L * (i + 1))
    }

  /** `body`'s Spark jobs, and the most bytes any one of its stages sent
    * back to the driver as task results. */
  private def jobsAndLargestResult(body: => Unit): (Int, Long) = {
    val bytes = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          bytes.synchronized {
            bytes(e.stageId) = bytes.getOrElse(e.stageId, 0L) + m.resultSize
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    // jobsOf returns once the listener bus has delivered every event of
    // `body`'s jobs
    try (jobsOf(body), bytes.values.maxOption.getOrElse(0L))
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a session whose index view crosses BoundedPayload mid-session, or " +
      "holds none from the start, admits what sequential admitPrehashed " +
      "does; past the bound no index take reaches the driver") {
    val (indexDocs, batchDocs) = corpus(7L)
    val (first, second) = batchDocs.splitAt(batchDocs.size / 2)
    val (sigsA, sigsB) = (sigsOf(first), sigsOf(second))
    // unrelated 40–120-word documents that pad a seed up to the bound
    val r = new scala.util.Random(70L)
    val fillerDocs = (1 to 3400).map(i => (100000L + i) ->
      Seq.fill(40 + r.nextInt(81))("f" + r.nextInt(1000000)).mkString(" "))
    val fillers = sigsOf(fillerDocs)
    def weights(df: DataFrame): Seq[(Long, Long)] =
      df.select("doc_id", "bands", "sh").collect().toSeq.map(row =>
        row.getLong(0) -> (1L + row.getSeq[String](1).size +
          row.getSeq[String](2).size)).sortBy(_._1)
    val base = sigsOf(indexDocs)
    val baseWeight = weights(base).map(_._2).sum
    val fillerTotals = weights(fillers).map(_._2).scanLeft(baseWeight)(_ + _)
    // the most fillers that keep the seed within the bound
    val fit = fillerTotals.lastIndexWhere(_ <= Dedup.BoundedPayload)
    assert(fit > 0 && fit < fillerTotals.size - 1)
    def seedOf(n: Int): DataFrame = base.unionByName(
      fillers.filter(col("doc_id") <= 100000L + n)).localCheckpoint(true)
    // the sequential reference: batch a against the seed, batch b
    // against the seed plus a's admitted signatures
    def expected(seed: DataFrame): Seq[Long] = {
      val admittedA = viaFrame(sigsA, seed)
      val foldA = sigsA.filter(col("doc_id").isInCollection(admittedA))
      (admittedA ++ viaFrame(sigsB, seed.unionByName(foldA))).distinct.sorted
    }
    val foldWeightA = weights(sigsA.filter(
      col("doc_id").isInCollection(viaFrame(sigsA, seedOf(fit))))).map(_._2).sum
    assert(fillerTotals(fit) + foldWeightA > Dedup.BoundedPayload)
    def run(seed: DataFrame): (Seq[Long], Int, Long) = {
      val root = Files.createTempDirectory("graft_view_cross_")
      try {
        val landing = root.resolve("landing"); Files.createDirectory(landing)
        land(landing, Seq("a" -> first.toDF("doc_id", "text"),
          "b" -> second.toDF("doc_id", "text")))
        val indexPath = root.resolve("index").toString
        seed.write.parquet(s"$indexPath/seed")
        var admitted = Seq.empty[Long]
        val (jobs, largest) = jobsAndLargestResult {
          admitted = AdmissionStream.runAdmission(spark, landing.toString,
              indexPath, root.resolve("out").toString, shingleN, k,
              rowsPerBand, threshold, maxFilesPerTrigger = Some(1))
            .select("doc_id").as[Long].collect().toSeq
        }
        (admitted.distinct.sorted, jobs, largest)
      } finally graft.operators.Maintenance.rmTree(root.toFile)
    }
    val (held, heldJobs, _) = run(base)
    // the seed fits, batch a's fold-back takes the view past the bound:
    // batch b probes the tree (its index collect is one more job)
    val (crossed, crossedJobs, viewTake) = run(seedOf(fit))
    // the seed alone is past the bound: every batch probes the tree
    val noneSeed = seedOf(fit + 1)
    val (none, noneJobs, noneLargest) = run(noneSeed)
    held shouldBe expected(base)
    crossed shouldBe expected(seedOf(fit))
    none shouldBe expected(noneSeed)
    held should not be empty
    crossedJobs should be > heldJobs
    noneJobs should be > crossedJobs
    // the crossing session's largest result is its view take, a seed
    // just within the bound; past the bound the footers decide before
    // any take, so the session's largest result is a batch-sized one
    noneLargest * 8 should be < viewTake
  }

  test("a landing whose doc_id is an int admits what admitPrehashed admits " +
      "over the same int ids") {
    val (indexDocs, batchDocs) = corpus(8L)
    def intIds(docs: Seq[(Long, String)]): DataFrame =
      docs.toDF("doc_id", "text").withColumn("doc_id", col("doc_id").cast("int"))
    def intSigs(docs: Seq[(Long, String)]): DataFrame =
      Dedup.nearDupIndex(intIds(docs), col("doc_id"), col("text"), shingleN,
        k, rowsPerBand).localCheckpoint(true)
    val reference = Dedup.admitPrehashed(intSigs(batchDocs), intSigs(indexDocs),
      threshold).as[Int].collect().sorted.toSeq
    val root = Files.createTempDirectory("graft_int_ids_")
    try {
      val landing = root.resolve("landing"); Files.createDirectory(landing)
      land(landing, Seq("a" -> intIds(batchDocs)))
      val indexPath = root.resolve("index").toString
      intSigs(indexDocs).write.parquet(s"$indexPath/seed")
      val admitted = AdmissionStream.runAdmission(spark, landing.toString,
          indexPath, root.resolve("out").toString, shingleN, k, rowsPerBand,
          threshold)
        .select("doc_id").as[Int].collect().sorted.toSeq
      admitted shouldBe reference
      reference.size should be < batchDocs.map(_._1).distinct.size
    } finally graft.operators.Maintenance.rmTree(root.toFile)
  }
}
