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
        bounded(Dedup.admitPrehashedBounded(Dedup.heldLocally(sigs).get, ix,
          threshold)) shouldBe reference
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
    // against an empty index, the in-batch stage alone keeps 10 (12 is
    // its repost, 11 is at the threshold with both)
    val empty = sigs(index).filter(lit(false))
    viaFrame(sigs(batch), empty) shouldBe Seq(10L)
    bounded(Dedup.admitPrehashedBounded(sigs(batch), empty, threshold)) shouldBe Seq(10L)
    // the driver verify's payload bound: the batch weighs 3 × (1 + 8
    // bands + 9 shingles) = 54, its three in-batch pairs lay out twice
    // that — 54 admits the batch collect and crosses the verify
    bounded(Dedup.admitPrehashedBounded(sigs(batch), empty, threshold,
      payloadCap = 108)) shouldBe Seq(10L)
    fallback(Dedup.admitPrehashedBounded(sigs(batch), empty, threshold,
      payloadCap = 54)) shouldBe Seq(10L)
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
    // the verify lays out each repost with both copies of its original:
    // (2 + 2) × its weight
    bounded(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      payloadCap = 4 * repostWeight)) shouldBe repostRef
    fallback(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      payloadCap = 4 * repostWeight - 1)) shouldBe repostRef
    // the pair bound, on the index-vs-batch band pairs
    val bandPairs = 20 * 4 * 2
    bounded(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      cap = bandPairs)) shouldBe repostRef
    fallback(Dedup.admitPrehashedBounded(reposts, doubled, threshold,
      cap = bandPairs - 1)) shouldBe repostRef
  }
}
