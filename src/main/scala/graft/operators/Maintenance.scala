package graft.operators

import org.apache.spark.sql.SparkSession

/** Table-maintenance utilities for a parquet warehouse — the operational
  * side of running this engine continuously at scale. Streaming sinks and
  * incremental upserts ([[Upsert]], [[graft.streaming.EventStreams]])
  * accrete one small file per micro-batch/merge; at 100 TB the resulting
  * small-file population is the classic scan killer (every file costs a
  * task, a footer read, and an object-store request — a table that should
  * scan as thousands of ~128 MB splits degrades into millions of KB-sized
  * ones). Compaction rewrites a table into target-sized files; clustering
  * additionally range-sorts it so parquet row-group min/max stats prune
  * selective scans.
  */
object Maintenance {

  /** Recursive delete — the SHARED copy (staged trees, scratch roots and
    * checkpoint dirs are reclaimed all over the harness and operators;
    * per-site reimplementations of the same three lines drift). Plain
    * depth-first delete; a hard-linked file loses only this directory's
    * link. */
  def rmTree(f: java.io.File): Unit = if (f.exists()) {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
    ()
  }

  /** Data bytes currently on disk for the parquet table at `path`
    * (`_`/`.`-prefixed metadata is excluded, the same rule Spark's file
    * index applies) — [[Fs.dataBytes]] on the table's own filesystem. */
  def tableBytes(path: String): Long = Fs.dataBytes(path)

  /** Rewrite the parquet table at `path` into `ceil(bytes/targetFileBytes)`
    * files (at least one). With `clusterBy` columns the rewrite is
    * `repartitionByRange` + `sortWithinPartitions` on them — globally
    * range-clustered output, so each file owns a disjoint key range and
    * parquet min/max stats skip whole files for selective key predicates;
    * with `zOrderBy` (≥2 integer columns), the same range-cluster runs on
    * the self-quantized MORTON key ([[Layout.withZKey]], dropped before
    * the write), so every file bounds ALL the named dimensions at once
    * (~1/ᵈ√files of each range) and min/max stats prune predicates on ANY
    * of them — the multi-dimensional layout [[Layout.zOrderStatsN]]
    * reports, landed in actual file footers; without either, a plain
    * round-robin `repartition` (uniform file sizes, no ordering
    * guarantee).
    *
    * The rewrite goes through [[Upsert.mergeParquet]]'s staged write-swap,
    * so a crash mid-compaction never loses the table and the applied-batch
    * marker of a streaming rollup target survives the rewrite. Returns the
    * target file count.
    *
    * Sizing note: `targetFileBytes` is compared against bytes ON DISK
    * (encoded + compressed), so output files land near the target only
    * when input and output encode similarly — true for compaction, where
    * both sides are the same rows in the same schema. Flat tables only:
    * a hive-partitioned table is compacted per partition directory (run
    * this against each leaf), never whole-table — rewriting it flat would
    * discard the partitioning. */
  /** Compact a NESTED parquet tree — the batch-keyed index layout
    * [[graft.streaming.AdmissionStream]] accretes (`seed/`, `batch-0/`,
    * `batch-1/`, …, one subdir per micro-batch) — into flat target-sized
    * files at the tree root. Every top-level entry EXCEPT the names in
    * `keepSubdirs` is folded; kept subdirs are carried over into the
    * rewritten tree untouched, which is what lets the admission loop
    * compact mid-stream without folding the CURRENT batch's own
    * (possibly failed-attempt) signatures into the probed set — the
    * replay-idempotence invariant.
    *
    * Same staged write-swap + crash recovery as [[compact]] (the whole
    * tree swaps in one rename; [[Upsert.recoverStagedSwap]] restores a
    * mid-swap crash). A kept subdir that existed only in the old tree at
    * the moment of a crash is a replayed batch's uncommitted write — the
    * stream rewrites it, so losing it is safe. Returns the target file
    * count, or 0 when there was nothing to fold. */
  def compactTree(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      keepSubdirs: Set[String] = Set.empty): Int = {
    Fs.recoverStagedSwap(path)
    // a pointer-committed root is NOT a foldable batch tree: the fold
    // would union every generation as data and the swap would drop the
    // `_current` pointer (a hidden FILE — deliberately not carried) —
    // destroying the protocol. The artifact's own compaction verbs
    // (compactNearDupIndex / compactIvfFlatIndex) publish a new
    // generation instead.
    require(Fs.currentGeneration(path).isEmpty,
      s"compactTree folds a plain batch-keyed tree and $path is a " +
        "pointer-committed root — use the artifact's own compaction " +
        "verb, which publishes the fold as a new generation")
    val entries = Fs.listNames(path)
    // `_`/`.`-prefixed entries (tombstone tables, markers) are hidden
    // from the fold's read anyway — keep them out of the included set so
    // an index holding ONLY hidden state doesn't read as foldable
    val included = entries
      .filterNot(keepSubdirs.contains)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .map(n => s"$path/$n")
    val bytes = included.map(Fs.dataBytes).sum
    if (included.isEmpty || bytes == 0L) return 0
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // hidden DIRECTORIES (a pending tombstone table) carry over the
    // swap untouched — they are lifecycle state, not foldable data, and
    // dropping them with the old tree would silently un-delete. Hidden
    // FILES (`_SUCCESS` and friends) are write debris: the staged write
    // makes its own, and carrying the old one would collide with it.
    val hiddenDirs = entries
      .filter(e => (e.startsWith("_") || e.startsWith(".")) &&
        Fs.isDirectory(s"$path/$e"))
      .toSet
    Fs.stagedSwap(path, keepSubdirs ++ hiddenDirs) { staged =>
      spark.read.option("recursiveFileLookup", "true")
        .parquet(included: _*)
        .repartition(n)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
    }
    n
  }

  /** Describe an index-artifact tree — the observability side of the
    * build/append/delete/compact/prune lifecycle, and the input to its
    * maintenance decisions (when to fire a tombstone-pressure fold,
    * when to prune generations, whether batch subdirs have accreted
    * past the small-files point). One row per generation for a
    * pointer-committed root (plus which one is current), one row for a
    * plain root. Everything is filesystem metadata plus a
    * parquet-footer row count for the tombstone table — nothing
    * corpus-sized is read, so this is safe to run against a 100 TB
    * artifact.
    *
    * Columns: (layout, generation, is_current, data_bytes, data_files,
    * tombstone_rows, batch_subdirs). */
  def describeArtifact(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def fileCount(p: String): Long = {
      val (fs, hp) = Fs.resolve(p)
      def walk(st: org.apache.hadoop.fs.FileStatus): Long =
        if (st.getPath.getName.startsWith("_") ||
            st.getPath.getName.startsWith(".")) 0L
        else if (st.isDirectory) fs.listStatus(st.getPath).map(walk).sum
        else 1L
      if (!fs.exists(hp)) 0L else fs.listStatus(hp).map(walk).sum
    }
    // either index kind's tombstone table: all of its (one) columns
    def tombstoneRows(p: String): Long =
      Fs.tombstones(spark, p, "*").fold(0L)(_.count())
    def batchSubdirs(p: String): Long =
      Fs.listNames(p).count(n => n.startsWith("batch-") &&
        Fs.isDirectory(s"$p/$n")).toLong
    val cur = Fs.currentGeneration(path)
    cur match {
      case Some(current) =>
        Fs.listNames(path)
          .filter(n => n.startsWith(Fs.GenPrefix) &&
            n.drop(Fs.GenPrefix.length).nonEmpty &&
            n.drop(Fs.GenPrefix.length).forall(_.isDigit))
          .sortBy(_.drop(Fs.GenPrefix.length).toLong)
          .map { g =>
            val gp = s"$path/$g"
            ("pointer", g, gp == current, Fs.dataBytes(gp), fileCount(gp),
              tombstoneRows(gp), batchSubdirs(gp))
          }
          .toDF("layout", "generation", "is_current", "data_bytes",
            "data_files", "tombstone_rows", "batch_subdirs")
      case None =>
        Seq(("plain", null.asInstanceOf[String], true, Fs.dataBytes(path),
          fileCount(path), tombstoneRows(path), batchSubdirs(path)))
          .toDF("layout", "generation", "is_current", "data_bytes",
            "data_files", "tombstone_rows", "batch_subdirs")
    }
  }

  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      clusterBy: Seq[String] = Nil,
      zOrderBy: Seq[String] = Nil,
      zBits: Int = 16): Int = {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are alternative layouts — pass one")
    // a prior run may have died between the swap renames — restore the
    // table BEFORE sizing/reading it, or a recoverable table fails the
    // read (mergeParquet would recover it, but only after these reads)
    Upsert.recoverStagedSwap(path)
    val bytes = tableBytes(path)
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val current = spark.read.parquet(path)
    val rewritten =
      if (zOrderBy.nonEmpty) {
        val zc = "__graft_zkey"
        Layout.withZKey(current, zOrderBy.map(current.col), zBits, zc)
          .repartitionByRange(n, org.apache.spark.sql.functions.col(zc))
          .sortWithinPartitions(zc)
          .drop(zc)
      } else if (clusterBy.nonEmpty) {
        val cols = clusterBy.map(current.col)
        current.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      } else current.repartition(n)
    Upsert.mergeParquet(spark, path, rewritten)((_, updates) => updates)
    n
  }
}
