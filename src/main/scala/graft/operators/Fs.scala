package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, FileUtil, Options, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{FooterSchema, ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

/** Filesystem primitives for the artifact lifecycle (staged write-swaps,
  * tree sizing, marker files), on the Hadoop [[FileSystem]] API — so every
  * swap site resolves the SAME filesystem Spark's own reads and writes
  * use (`file://` locally, `hdfs://` on a cluster) instead of assuming
  * `java.io.File`. On local disk and HDFS a directory rename is a single
  * atomic metadata operation, which is what the `__staged`/`__old` swap
  * discipline relies on.
  *
  * OBJECT-STORE CAVEAT: on S3/GCS-style stores `rename` is copy-then-
  * delete — neither atomic nor cheap — so the swap discipline does NOT
  * give crash-atomicity there. The deployment strategy for object stores
  * is commit-by-pointer: write each table generation to a fresh
  * immutable directory (`<table>/gen-<n>/`) and flip a small pointer
  * file (one PUT, atomic on every store) to the new generation, never
  * renaming data files — i.e. a manifest/table format (Iceberg-style
  * metadata pointer) rather than directory swaps. These helpers
  * intentionally fail loudly rather than fall back silently: a rename
  * that an object store implements as a partial copy surfaces as a
  * failed/slow swap, not silent corruption, because the target is only
  * ever replaced by a completed rename.
  */
object Fs {

  /** Tombstone-table subdir of an index artifact (`<index>/_tombstones`):
    * the DELETE verb of the artifact lifecycle. `_`-prefixed so Spark's
    * hidden-file rule keeps it invisible to every data listing of the
    * index tree — probes must opt in by reading the path explicitly.
    * Writes are blind appends of id rows (O(|deleted|), never touching
    * index data); readers apply it as an anti-join, so replayed deletes
    * and duplicate rows are harmless (set semantics); compaction folds
    * it in physically and drops the table. */
  val TombstonesSubdir = "_tombstones"

  /** The Hadoop configuration in effect: the active Spark session's (so
    * `fs.defaultFS`, credentials and mount tables match the engine's own
    * I/O), or a vanilla one when no session is up (pure-path utilities
    * in tests). */
  private def conf: Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Resolve `path` to its owning FileSystem + qualified Path. */
  def resolve(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = resolve(path)
    fs.exists(p)
  }

  def isDirectory(path: String): Boolean = {
    val (fs, p) = resolve(path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Recursive delete; no-op when absent. */
  def rmTree(path: String): Unit = {
    val (fs, p) = resolve(path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Rename `src` → `dst`, refusing when `dst` already exists (Hadoop's
    * `rename` would MOVE INTO an existing directory, HDFS-mv-style —
    * the opposite of what a swap wants; the java.io contract this
    * replaces failed in that case, and every swap site pre-clears its
    * destination). Returns false on refusal or filesystem failure. */
  def rename(src: String, dst: String): Boolean = {
    val (fs, s) = resolve(src)
    val d = new Path(dst)
    if (fs.exists(d)) false else fs.rename(s, d)
  }

  /** Atomically REPLACE the file at `dst` with the file at `src` — the
    * pointer-flip primitive. Unlike [[rename]], an existing destination
    * is overwritten in ONE operation, so a concurrent reader observes
    * the old file or the new, never a missing one. Dispatch is on the
    * RESOLVED filesystem, not the raw URI scheme — a scheme-less path
    * (the norm on clusters, where `fs.defaultFS` names the store)
    * resolves to whatever `fs.defaultFS` says, exactly like every other
    * helper here; branching on the path's own scheme would treat it as
    * local and move an unrelated local file (or throw
    * NoSuchFileException) on HDFS-default deployments.
    *
    * Local filesystems go through java.nio `ATOMIC_MOVE` (POSIX
    * rename(2) overwrites atomically — the Hadoop local-FS shim would
    * degrade OVERWRITE to delete-then-rename, reintroducing the no-file
    * window this exists to close). HDFS goes through
    * `FileContext.rename(OVERWRITE)`, a single atomic namespace op.
    * Object stores (s3a/gs…) ship no `AbstractFileSystem` binding, so
    * `FileContext.getFileContext` throws `UnsupportedFileSystemException`
    * there — the fallback rewrites `dst` via `fs.create(overwrite)`:
    * one small-object PUT, which every store implements as an atomic
    * replace (readers see the old object or the new, never none), then
    * deletes `src`. Files only — and SMALL files only, the fallback
    * buffers the content (the pointer file is tens of bytes); directory
    * swaps stay on the [[stagedSwap]] discipline. */
  def renameOverwrite(src: String, dst: String): Unit = {
    val (fs, s) = resolve(src)
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(s).toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(new Path(dst)).toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } else {
      try {
        val fc = FileContext.getFileContext(fs.getUri, conf)
        fc.rename(fs.makeQualified(s), fs.makeQualified(new Path(dst)),
          Options.Rename.OVERWRITE)
      } catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          // no FileContext binding (object stores): a create-overwrite
          // of dst is one PUT — atomic replace on every store
          val bytes = {
            val in = fs.open(s)
            try {
              val buf = new java.io.ByteArrayOutputStream()
              val b = new Array[Byte](8192)
              var n = in.read(b)
              while (n >= 0) { buf.write(b, 0, n); n = in.read(b) }
              buf.toByteArray
            } finally in.close()
          }
          val out = fs.create(new Path(dst), true)
          try out.write(bytes) finally out.close()
          fs.delete(s, false)
          ()
      }
    }
  }

  /** Recursive copy `src` → `dst` (same filesystem), refusing an
    * existing destination. `FileUtil.copy` signals most real failures
    * by THROWING IOException rather than returning false — callers
    * branch on the boolean to run their restore path, so the throw is
    * folded into the return value here (false on any failure), never
    * propagated past the restore. */
  def copyTree(src: String, dst: String): Boolean = {
    val (fs, s) = resolve(src)
    val d = new Path(dst)
    if (fs.exists(d)) false
    else
      try FileUtil.copy(fs, s, fs, d, /*deleteSource=*/ false, conf)
      catch { case _: java.io.IOException => false }
  }

  /** Spark's hidden-file rule: a `_`/`.`-prefixed name holds no data. */
  private def hidden(st: FileStatus): Boolean =
    st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith(".")

  /** The footer of the parquet file `st`, read on the driver. */
  private def footerOf(spark: SparkSession, st: FileStatus,
      filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, spark.sparkContext.hadoopConfiguration),
      filter)

  /** Data bytes in the tree at `path`: recursive, skipping hidden names
    * at every level. 0 when absent. */
  def dataBytes(path: String): Long = {
    val (fs, p) = resolve(path)
    def walk(st: FileStatus): Long =
      if (hidden(st)) 0L
      else if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
      else st.getLen
    if (!fs.exists(p)) 0L else fs.listStatus(p).map(walk).sum
  }

  /** The weight of the parquet table at `path` as a bounded take counts
    * it ([[Dedup.BoundedPayload]]: a row weighs one plus the elements of
    * its array columns), summed on the driver from every data file's
    * footer (walked like [[dataBytes]]), with no job: the row count plus
    * the leaf values stored under the `arrays` columns. A null or empty
    * array stores one value, so a take of those columns never weighs
    * more. 0 when absent. */
  def footerWeight(spark: SparkSession, path: String,
      arrays: Set[String]): Long = {
    val (fs, p) = resolve(path)
    def walk(st: FileStatus): Long =
      if (hidden(st)) 0L
      else if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
      else if (st.getLen == 0) 0L
      else footerOf(spark, st, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.iterator.map(b => b.getRowCount +
          b.getColumns.asScala.iterator.filter(c => arrays(c.getPath.toArray.head))
            .map(_.getValueCount).sum).sum
    if (!fs.exists(p)) 0L else fs.listStatus(p).map(walk).sum
  }

  /** The schema of the parquet table at `path`, read on the driver from
    * one footer — the first data file in sorted order (walked like
    * [[dataBytes]]) — through Spark's own footer conversion under the
    * session's converter settings, so it costs no job where a plain
    * `spark.read.parquet(path).schema` runs a footer-reading job. The
    * footer schema then goes through the reader, which attaches any
    * `key=value` partition columns and the nullability inference gives.
    * `recursive` reads the tree as `recursiveFileLookup` does (no
    * partition columns). With no data file standing it is Spark's
    * inference, which fails on a missing or empty table as a read does. */
  def parquetSchema(spark: SparkSession, path: String,
      recursive: Boolean = false): StructType = {
    val (fs, root) = resolve(path)
    def first(dir: Path): Option[FileStatus] =
      fs.listStatus(dir).filterNot(hidden).sortBy(_.getPath.getName)
        .iterator.flatMap(st =>
          if (st.isDirectory) first(st.getPath)
          else if (st.getLen > 0) Some(st) else None)
        .nextOption()
    val reader = spark.read.option("recursiveFileLookup", recursive.toString)
    val footer = scala.util.Try(fs.getFileStatus(root)).toOption.flatMap(st =>
      if (st.isDirectory) first(root) else Some(st))
    footer.flatMap(st => FooterSchema.of(new Footer(st.getPath,
        footerOf(spark, st, ParquetMetadataConverter.SKIP_ROW_GROUPS)), spark))
      .fold(reader.parquet(path).schema)(reader.schema(_).parquet(path).schema)
  }

  /** TRUNCATE+reload of the parquet table at `path` with `df`'s rows,
    * written from the driver as ONE file, with no job when `df` is held
    * (a LocalRelation's rows come back from its plan as they are; any
    * other plan runs its collect). The file goes through Spark's own
    * `ParquetFileFormat.prepareWrite` → `OutputWriter` under the
    * session's settings (compression, timestamp and legacy formats, the
    * Spark row metadata in the footer), so it reads back as a Spark
    * write of the same frame does. It is written under a `_` name, which
    * every reader skips, then every other entry under `path` is removed
    * and the file renamed into place. A frame whose rows fail to compute
    * leaves `path` as it was. For a frame whose rows fit on the driver:
    * the snapshot tables, which the rollup fold already holds there. */
  def overwriteParquet(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some(s"rows of $path"))(
      qe.executedPlan.executeCollect())
    // the session's Hadoop configuration as a Spark write builds it
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    spark.conf.getAll.foreach { case (k, v) => conf.set(k, v) }
    val job = Job.getInstance(conf)
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, df.schema)
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(task)}"
    val (fs, dir) = resolve(path)
    val tmp = new Path(dir, "_" + name)
    fs.mkdirs(dir)
    try {
      val writer = factory.newInstance(tmp.toString, df.schema, task)
      try rows.foreach(writer.write) finally writer.close()
      fs.listStatus(dir).filter(_.getPath.getName != tmp.getName)
        .foreach(st => fs.delete(st.getPath, true))
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new java.io.IOException(s"could not rename $tmp into $dir")
    } finally { fs.delete(tmp, false); () }
  }

  /** Top-level entry names under `path` (empty when absent). */
  def listNames(path: String): Seq[String] = {
    val (fs, p) = resolve(path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** Write `text` to `path` atomically enough for a marker INSIDE a
    * staged directory (the enclosing swap rename is the commit). */
  def writeText(path: String, text: String): Unit = {
    val (fs, p) = resolve(path)
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read `path` as UTF-8 text; None when absent. */
  def readText(path: String): Option[String] = {
    val (fs, p) = resolve(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Generation directory prefix under a pointer-committed artifact
    * root: `<root>/gen-<n>/` trees are immutable-once-published (swap
    * verbs write a NEW generation; blind-append verbs — tombstones,
    * streamed assignments — only ever ADD files, which is a single
    * object PUT per file and safe on every store). */
  val GenPrefix = "gen-"

  /** Pointer file under a pointer-committed artifact root: one small
    * file naming the current generation. `_`-prefixed so Spark data
    * listings skip it. */
  val PointerFile = "_current"

  /** The current generation's full path under `root`, when `root` is a
    * pointer-committed artifact: reads `<root>/_current`, validates the
    * named generation exists. None when there is no pointer (a plain
    * directory artifact — callers fall back to `root` itself, so every
    * probe accepts either layout). Fails loudly on a dangling pointer:
    * that is a torn publish or an over-eager prune, never a state to
    * silently read through. */
  def currentGeneration(root: String): Option[String] =
    readText(s"$root/$PointerFile").map { name =>
      val trimmed = name.trim
      require(trimmed.startsWith(GenPrefix) && !trimmed.contains("/"),
        s"pointer file $root/$PointerFile names '$trimmed', " +
          s"not a $GenPrefix<n> generation")
      val gen = s"$root/$trimmed"
      require(isDirectory(gen),
        s"pointer file $root/$PointerFile names missing generation " +
          s"$trimmed — torn publish or pruned-current; refusing to guess")
      gen
    }

  /** COMMIT-BY-POINTER publication — the object-store-safe counterpart
    * of [[stagedSwap]] (see the class scaladoc's caveat: object-store
    * rename is copy-then-delete, so directory swaps are not atomic
    * there). `write` materializes the next generation into a FRESH
    * immutable directory `<root>/gen-<n+1>/` — invisible to every
    * reader, whatever the store does with in-progress writes — and the
    * commit is flipping the pointer file, one small-object write.
    * A crash before the flip leaves the old generation current and the
    * half-written directory unreferenced (swept by the next publish's
    * garbage pass for its own n, or [[pruneGenerations]]); a crash
    * after the flip is a completed publish. Returns the new
    * generation's path.
    *
    * Pointer-write atomicity: written to `_current__tmp` then
    * [[renameOverwrite]]-d over the pointer — one atomic file-over-file
    * replace (POSIX rename(2) locally, FileContext OVERWRITE on HDFS,
    * one small-object PUT on stores), so a reader sees the old pointer
    * or the new; there is NO point at which the pointer is absent and a
    * concurrent [[currentGeneration]] would fall back to the
    * plain-directory layout. */
  def publishGeneration(root: String)(write: String => Unit): String = {
    val next = 1L + generationNumbers(root).foldLeft(0L)(math.max)
    val gen = s"$root/$GenPrefix$next"
    rmTree(gen) // an unreferenced half-write of OUR number, never current
    write(gen)
    require(isDirectory(gen),
      s"publishGeneration writer left no directory at $gen")
    val tmp = s"$root/${PointerFile}__tmp"
    writeText(tmp, s"$GenPrefix$next")
    renameOverwrite(tmp, s"$root/$PointerFile")
    gen
  }

  /** Garbage-collect generations: drop all OLDER than the current one
    * except the newest `keep` (retention for readers still holding the
    * previous pointer), and drop any NEWER than the current one (a
    * publish that died before its flip — never referenced, pure
    * garbage). Never touches the current generation or the pointer.
    * No-op on a plain (pointer-less) artifact. Single-writer
    * discipline, like every artifact mutation here: do not prune while
    * a publish is in flight, or its half-written generation is swept
    * from under it (the publish would fail loudly at its own
    * directory check, not corrupt anything — but it would fail). */
  def pruneGenerations(root: String, keep: Int = 1): Unit =
    currentGeneration(root).foreach { cur =>
      val curN = cur.substring(cur.lastIndexOf(GenPrefix) + GenPrefix.length).toLong
      val gens = generationNumbers(root)
      (gens.filter(_ < curN).sorted.reverse.drop(keep) ++ gens.filter(_ > curN))
        .foreach(n => rmTree(s"$root/$GenPrefix$n"))
    }

  // ---- The index-artifact layout: every verb of the near-dup signature
  // index (Dedup) and the IVF-flat/PQ indexes (Similarity) and every
  // session of the loops over them goes through these helpers. An index
  // root is a plain directory or a pointer-committed root; either way
  // the data, the tombstone table and any streamed tables live under
  // its `concrete` directory.

  /** The directory an index root's data lives in: the current
    * generation of a pointer-committed root, or the root itself (a plain
    * directory artifact), so every verb accepts either layout. */
  def concrete(root: String): String = currentGeneration(root).getOrElse(root)

  /** The tombstone table under the concrete index directory `dir`, as
    * its one `idCol` column (`"*"` for whatever it holds); None when no
    * delete has landed. Rows may repeat (replayed deletes) — readers use
    * it with set semantics. The schema comes from one footer
    * ([[parquetSchema]]), so opening the table runs no job. */
  def tombstones(spark: SparkSession, dir: String,
      idCol: String): Option[DataFrame] = {
    val p = s"$dir/$TombstonesSubdir"
    if (exists(p))
      Some(spark.read.schema(parquetSchema(spark, p)).parquet(p).select(col(idCol)))
    else None
  }

  /** `frame` minus its rows whose `frameId` is tombstoned (an anti-join
    * on the `idCol` column of a [[tombstones]] table); identity when none
    * stand. */
  def masked(frame: DataFrame, tombstones: Option[DataFrame],
      frameId: String, idCol: String): DataFrame =
    tombstones.fold(frame)(tb =>
      frame.join(tb, frame(frameId) === tb(idCol), "left_anti"))

  /** The DELETE verb of an index artifact: a blind append of the `idCol`
    * column of `ids` to the tombstone table of the root's concrete
    * directory — O(|deleted|) rows, no index data touched. */
  def appendTombstones(ids: DataFrame, root: String, idCol: String): Unit =
    ids.select(col(idCol)).write.mode("append")
      .parquet(s"${concrete(root)}/$TombstonesSubdir")

  /** The one fold commit of an index artifact (compaction, tombstone
    * fold, rebuild) — a staged swap on a plain root, a new generation on
    * a pointer root. `fold(concrete, files)` reads the current state from
    * the concrete directory and returns the writer of the folded table
    * (None: nothing to fold, nothing commits); `files` is the target file
    * count, sized from the table's standing bytes. `table` is the
    * subtable the fold rewrites, or None for the whole tree. The
    * tombstone table and the `consumed` subdirs are folded in by the
    * writer, so the commit leaves them behind:
    *  - plain root: any earlier half-swap is recovered BEFORE the fold
    *    reads, the table swaps in through [[stagedSwap]], and the left-
    *    behind subdirs are dropped AFTER the swap (a crash between the
    *    two leaves tables the next fold or probe re-applies
    *    idempotently: dedup and anti-join are set semantics);
    *  - pointer root: the writer fills a fresh generation
    *    ([[publishGeneration]]), every other entry of a subtable fold
    *    (centroids, codebooks, hidden state) is copied over verbatim —
    *    a published generation is never mutated under its readers — and
    *    `retain` prunes the superseded generations (each fold otherwise
    *    leaves one full index copy standing).
    * Returns the file count, 0 when nothing folded. Run between ingest
    * sessions, never concurrently with one. */
  def commitFold(root: String, table: Option[String], targetFileBytes: Long,
      retain: Option[Int], consumed: Set[String] = Set.empty)(
      fold: (String, Int) => Option[String => Unit]): Int = {
    val gen = currentGeneration(root)
    val dir = gen.getOrElse(root)
    def tableIn(d: String): String = table.fold(d)(t => s"$d/$t")
    val leftBehind = consumed + TombstonesSubdir
    if (gen.isEmpty) recoverStagedSwap(tableIn(dir))
    val files = math.max(1L,
      (dataBytes(tableIn(dir)) + targetFileBytes - 1) / targetFileBytes).toInt
    fold(dir, files).fold(0) { write =>
      if (gen.isEmpty) {
        stagedSwap(tableIn(dir))(write)
        leftBehind.foreach(d => rmTree(s"$dir/$d"))
      } else {
        publishGeneration(root) { next =>
          write(tableIn(next))
          table.foreach { t =>
            listNames(dir).filterNot(leftBehind + t).foreach { e =>
              if (!copyTree(s"$dir/$e", s"$next/$e"))
                throw new java.io.IOException(
                  s"could not carry $e into generation $next")
            }
          }
        }
        retain.foreach(pruneGenerations(root, _))
      }
      files
    }
  }

  /** The tombstone-pressure decision an ingest session makes once at
    * start (`compactWhenTombstoneRatio`): fold the deletes physically
    * when the distinct tombstoned ids are more than `theta` of the
    * standing rows. Deletes are a between-sessions verb, so the ratio
    * cannot change under a running session. */
  def overPressure(tombs: Long, dataRows: Long, theta: Double): Boolean =
    dataRows > 0L && tombs.toDouble / dataRows > theta

  private def generationNumbers(root: String): Seq[Long] =
    listNames(root).collect {
      case n if n.startsWith(GenPrefix) &&
          n.drop(GenPrefix.length).forall(_.isDigit) &&
          n.length > GenPrefix.length =>
        n.drop(GenPrefix.length).toLong
    }

  /** Carry journal for [[stagedSwap]]'s `keepSubdirs`: a sibling file
    * (`<path>__carry`) written just before the carry moves entries out
    * of `__old` into `__staged`, naming them one per line — the record
    * [[recoverStagedSwap]] needs to move them BACK before restoring
    * `__old`, so the carry can be a cheap rename instead of a data
    * copy without a mid-carry crash stranding moved entries in
    * `__staged` (where the next call's scratch-clear would destroy
    * them). Removed when the swap commits or restores. */
  private def carryJournal(path: String): String = path + "__carry"

  /** Move journaled carry entries back from `__staged` into `__old` —
    * the undo of a partial carry, shared by [[recoverStagedSwap]] and
    * [[stagedSwap]]'s inline failure restore. Entries that never moved
    * (absent from `__staged`, or already present in `__old`) are
    * skipped; idempotent. */
  private def unCarry(path: String): Unit =
    readText(carryJournal(path)).foreach { txt =>
      txt.linesIterator.filter(_.nonEmpty).foreach { name =>
        if (exists(s"${path}__staged/$name") && !exists(s"${path}__old/$name"))
          if (!rename(s"${path}__staged/$name", s"${path}__old/$name"))
            throw new java.io.IOException(
              s"could not restore carried $name into ${path}__old")
      }
    }

  /** Crash recovery for a staged swap at `path`: a previous swap may have
    * died between its two renames. target missing + `__old` present =
    * died between the renames → the old table is the only copy; if a
    * carry journal stands, first move the journaled entries back out of
    * `__staged` (a mid-carry crash left them there — restoring `__old`
    * without them would lose lifecycle state like `_tombstones`), then
    * restore. target present + `__old` present = died after the swap →
    * `__old` is garbage (left for the next swap to clear). Idempotent.
    * Any caller that READS the table before swapping (sizing a rewrite)
    * must run this first, or a recoverable table looks missing. */
  def recoverStagedSwap(path: String): Unit =
    if (!exists(path) && exists(path + "__old")) {
      unCarry(path)
      if (!rename(path + "__old", path))
        throw new java.io.IOException(
          s"could not recover $path from ${path}__old")
      rmTree(carryJournal(path))
    }

  /** The staged write-swap discipline, shared by every artifact rewrite
    * (merge, compaction, rebuild): recover any earlier half-swap, clear
    * scratch, let `write` produce the new table at `<path>__staged`,
    * then swap it in — `path` → `__old`, carry `keepSubdirs` entries
    * over from the old tree untouched, `__staged` → `path`, drop
    * `__old`. A crash at any point either leaves the old table in place
    * or is repaired by the next call's recovery; the table is only ever
    * one complete generation or the other.
    *
    * `keepSubdirs` entries that exist in the old tree are MOVED into
    * the staged tree between the two renames (the
    * [[Maintenance.compactTree]] mid-stream contract: the current
    * micro-batch's own subdir must survive a fold without being
    * folded). Moved under a journal, not copied: a [[carryJournal]]
    * naming the carried entries is written before the first move, so a
    * crash anywhere in the carry is undone by the next call's recovery
    * ([[recoverStagedSwap]] moves the journaled entries back out of
    * `__staged` before restoring `__old` — the complete old tree, with
    * no data ever copied). An UNjournaled moved carry left
    * already-moved subdirs stranded in `__staged`, where the next
    * call's scratch-clear silently destroyed them — un-deleting
    * takedowns when the carried entry was `_tombstones`; a copied
    * carry was safe but paid a data copy of every carried subdir per
    * swap — per MICRO-BATCH in the streaming admission loops. `write`
    * receives the staged path and must fully materialize the new
    * generation there.
    *
    * When no table exists yet the staged tree simply renames into place
    * (first write). */
  def stagedSwap(path: String, keepSubdirs: Set[String] = Set.empty)(
      write: String => Unit): Unit = {
    val staged = path + "__staged"
    val old = path + "__old"
    recoverStagedSwap(path)
    rmTree(staged)
    rmTree(old)
    rmTree(carryJournal(path)) // stale journal from a died-after-swap call
    write(staged)
    val hadTarget = exists(path)
    if (hadTarget && keepSubdirs.nonEmpty)
      writeText(carryJournal(path), keepSubdirs.mkString("\n"))
    if (hadTarget && !rename(path, old))
      throw new java.io.IOException(s"could not stage out $path")
    def restoreOld(): Unit = {
      unCarry(path)
      rename(old, path)
      rmTree(carryJournal(path))
      ()
    }
    if (hadTarget) keepSubdirs.foreach { name =>
      if (exists(s"$old/$name") && !rename(s"$old/$name", s"$staged/$name")) {
        restoreOld()
        throw new java.io.IOException(s"could not carry $name over in $path")
      }
    }
    if (!rename(staged, path)) {
      if (hadTarget) restoreOld()
      throw new java.io.IOException(s"could not swap $path")
    }
    rmTree(old)
    rmTree(carryJournal(path))
  }
}
