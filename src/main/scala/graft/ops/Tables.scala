package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Access to the engine's lake tables: one parquet per table under a
  * scale-factor directory (see TESTDATA.md). Mirrors the reference's
  * pattern of reading whole tables from object storage
  * (`utils/s3_utils.py:13-28`) — but as a lazily-planned Spark scan, so
  * Catalyst can push filters/projections into the parquet reader.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session invariants every engine path relies on, settable on ANY
    * session (including streaming newSession clones, whose runtime confs
    * reset to builder defaults): nanos-parquet reads and the UTC pin.
    * The timezone pin matters because date/timestamp LITERALS slice the
    * persisted fixtures (snapshot logs, weekly files), and those
    * fixtures are SHARED across JVMs via the scratch dir — a session
    * left on a non-UTC JVM default would bake shifted boundaries into
    * files that UTC-pinned sessions then read. Callers that can run on a
    * WARM fixture without ever scanning a lake table (the snapshot-log
    * mechanics) must invoke this themselves. */
  def pinSession(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // every query path flows through here: make the engine's SQL functions
    // available in this session (idempotent).
    graft.functions.GraftFunctions.register(spark)
    pinSession(spark)
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") {
      // the lake has shipped events.ts both as TIMESTAMP(NANOS) (lands as
      // raw Long under the legacy conf) and as plain µs timestamps (lands
      // as TIMESTAMP_NTZ under inferTimestampNTZ) — normalize either to
      // the session-zone TIMESTAMP every downstream query was built on
      // (session tz is pinned UTC, so NTZ→LTZ relabeling changes no value)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types._
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    } else df
  }

  private val schemaCaches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, StructType]]())

  /** The parquet schema of `path`, inferred once per session and file
    * version (modification time and length): inference reads footers in
    * a Spark job, which every lake query would otherwise pay on each call.
    * Only the schema is shared, never a DataFrame — two reads of one
    * Dataset would give a self-join the same attribute ids on both sides. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    schemaCaches.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty[String, StructType])
      .getOrElseUpdate(s"$path|${st.getModificationTime}|${st.getLen}",
        spark.read.parquet(path).schema)
  }

  private val countCaches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Long]]())

  /** Session-memoized row count of a lake table — index-sizing parameters
    * (IVF cell counts etc.) need the count on EVERY query call, and the
    * tables are immutable per sfDir, so paying a full count job per call
    * is pure waste on the declared hot paths. */
  def countCached(spark: SparkSession, sfDir: String, name: String): Long =
    countCaches.computeIfAbsent(spark,
        _ => scala.collection.concurrent.TrieMap.empty[String, Long])
      .getOrElseUpdate(s"$sfDir/$name", table(spark, sfDir, name).count())
}
