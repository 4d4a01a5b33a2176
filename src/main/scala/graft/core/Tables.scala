package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (see /root/repo/TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * pipeline runs unchanged at sf0.001 (smoke), sf0.01 (oracle) and sf0.1
  * (bench) — and, by extension, on a real cluster at any scale: nothing
  * here assumes local mode or data size.
  *
  * Each table's schema is resolved once per session and pinned on every
  * later read (`spark.read.schema(s)`): an unpinned `spark.read.parquet`
  * starts a schema-inference job on every call, so building a query would
  * run a job per table it reads. The pin is keyed by the table's file
  * listing (names, lengths, modification times), so a rewritten table is
  * re-resolved, never read under a stale schema.
  */
object Tables {
  /** Per session: table path -> (file listing, schema resolved from it). */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]]

  private def schema(spark: SparkSession, path: String): StructType = {
    val pinned = schemas.synchronized(schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap))
    val p = new org.apache.hadoop.fs.Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val listing = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    pinned.compute(path, {
      case (_, (l, s)) if l == listing => (l, s)
      case _ => (listing, spark.read.parquet(path).schema)
    })._2
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as raw longs via
    * `nanosAsLong` — and plain TIMESTAMP(MICROS) without timezone, which
    * Spark reads as TIMESTAMP_NTZ. The loader is schema-aware so either
    * file works and downstream always sees one thing: a session-zone
    * TIMESTAMP in micros (the session timezone is pinned to UTC in
    * [[Graft.session]], so the NTZ→TZ cast is value-preserving and
    * matches what DuckDB computes from the same bytes).
    *
    * KNOWN SIDE EFFECT: `nanosAsLong` is a session conf, not a per-read
    * option (verified: `spark.read.option("nanosAsLong", ...)` is ignored
    * and the read still fails), so this loader flips it session-wide for
    * any later nanos-parquet read. The project's session builders
    * (Bench/Verify/tests) set it at build time so behavior never depends
    * on whether events() ran first; the set here is a safety net for
    * external sessions. The encoding branch reads the pinned schema, so
    * it starts no job.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df // already a session-zone timestamp
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
