package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the shared parquet fixtures (see /root/repo/TESTDATA.md) and
  * the explicit ingest schema for the reference's battle-log documents
  * (shape consumed at reference scripts/etl_snapshot_topn.py:251-302 and
  * src/api/battles.py:20-44).
  *
  * Scale notes (100 TB design): every loader is a plain parquet scan, so
  * Catalyst predicate pushdown / column pruning / partition pruning apply
  * unchanged on a partitioned table layout. Nothing here materializes on
  * the driver.
  */
object Tables {
  /** Per-session memo of loaded fixture DataFrames, keyed by resolved
    * path. `spark.read.parquet` pays a driver-side file listing plus a
    * footer schema-inference job on EVERY call; the fixture dirs are
    * immutable for the life of a session (read-only test data, and a
    * production deployment would register them as catalog tables whose
    * file-listing cache — spark.sql.hive.filesourcePartitionFileCacheSize,
    * guide §6 — does exactly this). The memo holds the resolved
    * LogicalRelation: METADATA only (file list + schema), never row
    * data — every action over it still scans the parquet, so bench and
    * oracle runs keep computing from the inputs. Retention is bounded
    * by sessions-per-JVM × fixture tables, both single digits (each
    * entry point builds one session; the test base shares one) — a few
    * plan trees, no row data. */
  private val tableMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tableMemo.synchronized {
      var m = tableMemo.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]
        tableMemo.put(spark, m)
        ()
      }
      m
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet",
      p => spark.read.parquet(p))
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  /** orders/lineitem: o_orderdate and l_shipdate get the same
    * schema-adaptive normalization as events.ts — under the session-wide
    * nanos conf a regenerated TIMESTAMP(NANOS) fixture would surface
    * them as raw longs and break every consumer the same way r10's
    * events change did. */
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "lineitem"), "l_shipdate")
  /** Schema-adaptive events loader. The shared fixture has shipped two
    * physical encodings of `events.ts` across regenerations:
    *
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *    ([PARQUET_TYPE_ILLEGAL]) unless the legacy conf surfaces it as raw
    *    long nanos; we then rebuild a timestamp via integer µs division
    *    (`ts div 1000` stays in long arithmetic — a double division would
    *    lose precision above 2^53 ns);
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads it
    *    natively as `timestamp_ntz`; with the session pinned to UTC a cast
    *    to the session-TZ timestamp is wall-clock identity.
    *
    * Branching on the LOADED type (not a hard-coded assumption) keeps both
    * encodings working; [[guardTs]] makes a silent unit mismatch — the
    * failure mode where every event collapses into 1970 and windowed
    * results are wrong without an error — fail loudly per row instead.
    *
    * NOTE: the legacy nanos conf is session-wide. [[graft.GraftSession]],
    * which builds every entry point's session and the test base's, sets
    * it at build time so behavior never depends on loader call order; the
    * set here is a belt-and-braces for ad-hoc sessions. It cannot be unset before the
    * (lazy) scan executes, so any OTHER nanos-timestamp parquet in the
    * session reads as LongType instead of erroring — every nanos table
    * this engine touches must go through an explicit converting loader
    * like this one. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(s, d, "events"), "ts")
  }

  /** Normalize a temporal column's physical encoding to a session-TZ
    * timestamp. Shared by every temporal loader and the streaming source
    * ([[graft.streaming.EventStreams]]) so batch and stream agree
    * byte-for-byte on the conversion. */
  def tsToTimestamp(physical: DataType, name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    physical match {
      case LongType          => expr(s"timestamp_micros($name div 1000)") // raw nanos
      case TimestampNTZType  => col(name).cast(TimestampType) // UTC session: identity wall-clock
      case TimestampType     => col(name)
      case other => throw new IllegalArgumentException(
        s"$name: unsupported physical type $other (expected long nanos, timestamp_ntz, or timestamp)")
    }
  }

  /** [[tsToTimestamp]] for `events.ts` (the streaming source's entry). */
  def eventTsToTimestamp(physical: DataType): org.apache.spark.sql.Column =
    tsToTimestamp(physical, "ts")

  /** Plausibility guard on a converted time: any non-null value before
    * the floor (1980 — every fixture's temporal data lives in 1992+ for
    * TPC-H and 2024 for events, while EVERY unit-mismatch failure mode
    * collapses into January 1970) can only come from a unit/encoding
    * mismatch in the loader, so raise instead of silently feeding
    * corrupt times into windows/joins. NULL passes — the fixture
    * deliberately contains NULL timestamps. Codegen'd per-row branch; no
    * extra pass over the data. */
  def guardTs(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(ts < to_timestamp(lit("1980-01-01 00:00:00")),
      raise_error(concat(
        lit("timestamp out of plausible range (unit/encoding mismatch in the loader?): "),
        ts.cast(StringType)))
      .cast(TimestampType))
    .otherwise(ts)
  }

  /** Schema-adaptive temporal normalization of one column: branch on the
    * LOADED type (see [[events]] — the r10 fixture regeneration broke 20
    * queries by changing one physical encoding) and guard the result. */
  def normalizeTs(df: DataFrame, name: String): DataFrame =
    df.withColumn(name, guardTs(tsToTimestamp(df.schema(name).dataType, name)))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Participant struct: reference test_grab_player.py:63-79 probes this shape;
    * consumed defensively at etl_snapshot_topn.py:77-137. */
  val participantSchema: StructType = StructType(Seq(
    StructField("tag", StringType),
    StructField("crowns", IntegerType),
    StructField("cards", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("evolutionLevel", IntegerType)
    ))))
  ))

  /** Battle-log entry: reference src/analysist/battle_filters.py:10-97. */
  val battleSchema: StructType = StructType(Seq(
    StructField("battleTime", StringType),
    StructField("type", StringType),
    StructField("gameMode", StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType)
    ))),
    StructField("team", ArrayType(participantSchema)),
    StructField("opponent", ArrayType(participantSchema))
  ))

  /** Leaderboard player: reference src/api/players.py:6-23, etl:203-216. */
  val leaderboardSchema: StructType = StructType(Seq(
    StructField("tag", StringType),
    StructField("name", StringType),
    StructField("rank", IntegerType),
    StructField("trophies", IntegerType),
    StructField("eloRating", IntegerType)
  ))

  /** Schema-on-read ingest of battle-log JSON (one battle object per line).
    * With an explicit schema the JSON scan is a single pass, no inference
    * job — at 100 TB the inference pass alone would double the read. */
  def readBattlesJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(battleSchema).json(path)
}
