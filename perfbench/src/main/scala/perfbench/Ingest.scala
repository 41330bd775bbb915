package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.{AdmissionStream, TopNStream}

/** The stream ingest as the benchmark drives it: seeded documents land as
  * parquet files, and one ingest session runs
  * `AdmissionStream.runAdmission` (near-dup admission of each micro-batch
  * against a standing MinHash index plus every earlier admission) with
  * `TopNStream.boardFold` as its per-batch observer (each source's top-N
  * board over the admitted documents, by `n_chars`). The checkpoint lives
  * in the run directory, so its commits go through the session's
  * `NioCheckpointFileManager`.
  *
  * Input mix per seed: a standing corpus of [[StandingDocs]] documents,
  * indexed once in set-up, and [[LandingFiles]] landing files of
  * [[DocsPerFile]] documents each, one micro-batch per file. Of the
  * landing documents ~15% repost a standing document and ~10% repost an
  * earlier landing document (possibly in the same file); a repost has the
  * same words re-cased and re-spaced, so its token shingles are identical
  * and admission must reject it. Every other document is fresh text drawn
  * from a seeded vocabulary, too far from any other to pass the threshold.
  */
object Ingest {
  val StandingDocs = 2000
  val LandingFiles = 2
  val DocsPerFile = 400
  val BoardN = 5
  val ShingleN = 3
  val K = 8
  val RowsPerBand = 2
  val Threshold = 0.5
  val Sources: Seq[String] = Seq("forum", "news", "wiki", "code", "qa", "blog")

  final case class Inputs(landing: String, standingIndex: String)

  /** Ground truth: the admitted document ids and each source's board as
    * (source, doc_id, score) in (source, score desc, doc_id) order. */
  final case class Truth(landingDocs: Int, admitted: Set[Long], board: Seq[(String, Long, Long)])

  val landingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text", StringType)))

  private final case class Doc(id: Long, source: String, text: String)

  /** Writes the standing index and the landing files under `dir`. */
  def generate(spark: SparkSession, seed: Long, dir: String): (Inputs, Truth) = {
    val r = new SplittableRandom(seed * 31 + 7)
    val vocab = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < 4000)
        s += Iterator.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
      s.toVector
    }
    def words(): Vector[String] = Vector.fill(40 + r.nextInt(80))(vocab(r.nextInt(vocab.size)))
    def repost(ws: Seq[String]): String = ws.map { w =>
      val c = r.nextInt(10)
      if (c == 0) w.toUpperCase else if (c == 1) w.capitalize else w
    }.mkString(" ", if (r.nextBoolean()) "  " else " ", " ")
    def src(): String = Sources(r.nextInt(Sources.size))
    val standing = (1 to StandingDocs).map(i => Doc(i.toLong, src(), words().mkString(" ")))
    val standingWords = standing.map(_.text.split(" ").toSeq)

    val inputs = Inputs(s"$dir/landing", s"$dir/index")
    val standingDf = spark.createDataFrame(standing.map(d => Row(d.id, d.text)).asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    Dedup.nearDupIndex(standingDf, col("doc_id"), col("text"), ShingleN, K, RowsPerBand)
      .write.parquet(s"${inputs.standingIndex}/seed")

    // the truth: a document is admitted when its token sequence is new to
    // the standing corpus and every earlier batch, and it is the lowest id
    // carrying that sequence in its own batch
    def key(text: String): String = text.trim.toLowerCase.split("\\s+").mkString(" ")
    val seen = mutable.HashSet.empty[String] ++= standing.map(d => key(d.text))
    val admitted = mutable.ArrayBuffer.empty[Doc]
    val landed = mutable.ArrayBuffer.empty[Seq[String]]
    var nextId = StandingDocs + 1L
    val batches = (0 until LandingFiles).map { _ =>
      val batch = (0 until DocsPerFile).map { _ =>
        val c = r.nextDouble()
        val text =
          if (c < 0.15) repost(standingWords(r.nextInt(standingWords.size)))
          else if (c < 0.25 && landed.nonEmpty) repost(landed(r.nextInt(landed.size)))
          else { val ws = words(); landed += ws; ws.mkString(" ") }
        nextId += 1
        Doc(nextId - 1, src(), text)
      }
      batch.groupBy(d => key(d.text)).foreach { case (k, ds) =>
        if (!seen(k)) admitted += ds.minBy(_.id)
      }
      seen ++= batch.map(d => key(d.text))
      batch
    }
    // all landing files in one job, one file per `file` value, then moved
    // into the landing directory
    val rows = batches.zipWithIndex.flatMap { case (b, f) =>
      b.map(d => Row(d.id, d.source, d.text.length.toLong, d.text, f)) }
    spark.createDataFrame(rows.asJava, landingSchema.add("file", IntegerType))
      .repartition(col("file")).write.partitionBy("file").parquet(s"$dir/stage")
    new File(inputs.landing).mkdirs()
    for (f <- 0 until LandingFiles) {
      val part = new File(s"$dir/stage/file=$f").listFiles().filter(_.getName.endsWith(".parquet")).head
      val to = Paths.get(inputs.landing, f"batch-$f%02d.parquet")
      Files.move(part.toPath, to)
      // the file source takes files oldest first: one file per trigger, in order
      to.toFile.setLastModified(1000000L * (f + 1))
    }
    graft.operators.Maintenance.rmTree(new File(s"$dir/stage"))
    val board = admitted.groupBy(_.source).toSeq.flatMap { case (s, ds) =>
      ds.map(d => (s, d.id, d.text.length.toLong)).sortBy { case (_, id, sc) => (-sc, id) }.take(BoardN)
    }.sortBy { case (s, id, sc) => (s, -sc, id) }
    (inputs, Truth(LandingFiles * DocsPerFile, admitted.map(_.id).toSet, board))
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  /** Gives `opDir` a fresh copy of the standing index: admission folds
    * every batch's admitted signatures back into the index it probes. */
  def prepare(in: Inputs, opDir: String): Unit = {
    graft.operators.Maintenance.rmTree(new File(opDir))
    copyTree(Paths.get(in.standingIndex), Paths.get(opDir, "index"))
  }

  /** One ingest session over every landing file, one file per trigger,
    * into `opDir` (see [[prepare]]). Returns the admitted ids and the
    * board as the stream left them. */
  def run(spark: SparkSession, in: Inputs, opDir: String): (Set[Long], Seq[(String, Long, Long)]) = {
    val board = TopNStream.boardFold(spark, s"$opDir/board", BoardN, "n_chars")
    val admitted = AdmissionStream.runAdmission(spark, in.landing, s"$opDir/index", s"$opDir/out",
      ShingleN, K, RowsPerBand, Threshold,
      maxFilesPerTrigger = Some(1),
      checkpointDir = Some(s"$opDir/checkpoint"),
      onBatchAdmitted = Some(board))
    board.flush()
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = TopNStream.readBoard(spark, s"$opDir/board").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (s, id, sc) => (s, -sc, id) }.toSeq
    (ids, rows)
  }

  def check(out: (Set[Long], Seq[(String, Long, Long)]), truth: Truth): Seq[String] = {
    val (ids, board) = out
    (if (ids == truth.admitted) Nil
     else Seq(s"admitted ${ids.size} docs, expected ${truth.admitted.size} " +
       s"(${(ids diff truth.admitted).size} extra, ${(truth.admitted diff ids).size} missing)")) ++
    (if (board == truth.board) Nil else Seq("board differs from the truth"))
  }

  /** Order-insensitive fingerprints of the admitted set and the board. */
  def fingerprints(out: (Set[Long], Seq[(String, Long, Long)])): Map[String, String] = {
    def h(lines: Seq[String]): String = {
      val md = MessageDigest.getInstance("SHA-1")
      lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
      s"${lines.size}:" + md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
    }
    Map("admitted" -> h(out._1.toSeq.map(_.toString)),
      "board" -> h(out._2.map { case (s, id, sc) => s"$s,$id,$sc" }))
  }
}

/** Collects `durationMs` of every micro-batch progress event. Only the
  * traced run attaches it. */
final class StreamListener extends StreamingQueryListener {
  val triggers = mutable.ArrayBuffer.empty[Map[String, Double]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    triggers += e.progress.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }
}
