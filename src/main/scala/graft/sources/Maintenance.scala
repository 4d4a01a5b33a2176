package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Table-maintenance operators — the jobs that keep a 100 TB parquet lake
  * queryable. The reference's maintenance is imperative SQL migrations
  * (backend/migrate_add_location.py:25-45 `ALTER TABLE ADD COLUMN`,
  * backend/migrate_pgvector.py:53-57); on an immutable lake those become
  * schema-merged reads and rewrite jobs.
  */
object Maintenance {

  /** Parquet data-file count under a directory tree — the shared
    * measurement next to the compaction jobs whose effect it observes
    * (the Verify lifecycle gates assert it shrank; the Stress serve
    * pair reports it). ONE body: a change to the counting rule (e.g.
    * excluding in-flight `_temporary` output, or a non-local FS walk)
    * lands everywhere at once instead of letting the gate and the bench
    * silently count differently. */
  def parquetFileCount(dir: String): Long = {
    val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try it.filter(p => p.toString.endsWith(".parquet")).count()
    finally it.close()
  }

  /** Small-file compaction: rewrite `srcDir` into `dstDir` with file count
    * sized from the actual input bytes (ceil(bytes / targetFileBytes)).
    * Streaming sinks and fine-grained ingest leave thousands of KB-sized
    * files per partition; every query then pays file-open and footer-read
    * per file, and the driver pays listing — at 100 TB that dominates
    * scan time. Rewrite to a separate directory + atomic swap by the
    * orchestrator (an in-place overwrite that fails midway loses the
    * table; this operator refuses to encode that footgun).
    */
  def compactTo(spark: SparkSession, srcDir: String, dstDir: String,
                targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(srcDir != dstDir, "compaction rewrites to a NEW directory (atomic swap)")
    val df = spark.read.parquet(srcDir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + targetFileBytes - 1) / targetFileBytes).toLong.max(1L)
    df.repartition(n.toInt).write.mode(SaveMode.Overwrite).parquet(dstDir)
    n
  }

  /** [[compactTo]] for a HIVE-PARTITIONED layout (an incremental index
    * store like `Dedup.embeddingBucketIndex` / `hammingChunkIndex`
    * written partitioned by bucket, appended to every ingest batch):
    * plain [[compactTo]] would read the partition column back as data
    * and rewrite WITHOUT the directory layout — the store would stop
    * partition-pruning, which is the property that makes it a store.
    *
    * Rows are hash-clustered on (partition columns, bounded salt) before
    * the partitioned write. The salt is sized PER PARTITION VALUE from a
    * cheap census (one cached count aggregate, broadcast back — bounded
    * by the layout's cardinality, which a sane Hive partitioning keeps
    * low; the census also supplies the total row count, so no separate
    * counting pass runs): a cold bucket gets salt range 1 and compacts
    * to ONE file (vs the one-file-per-batch-per-task accumulation ingest
    * leaves behind), while a MEGA bucket — the skewed regime the pair
    * caps exist for, where one boilerplate key can hold a large corpus
    * fraction — splits into ~ceil(size/targetFileBytes) salt groups
    * (hash collisions can merge a few groups into one task/file; the
    * bound is statistical, not exact). Clustering on the partition
    * columns alone would funnel an entire hot partition through ONE task
    * as ONE arbitrarily large file: a straggler/OOM at exactly the scale
    * this job is for. The salt is a deterministic hash of the HASHABLE
    * data columns (replays identically on retry; MapType columns are
    * unhashable in Spark and are skipped) — two limits follow: a table
    * whose rows are IDENTICAL across those columns, or whose only
    * non-partition columns are maps, keeps one salt group per key and
    * degrades to the pre-salt single-file behavior (the index stores
    * this job exists for always carry a unique id, so their floods
    * always split). Data columns — the geometry token included — pass
    * through untouched. Same new-directory + atomic-swap contract as
    * [[compactTo]]. Returns the shuffle task count used.
    *
    * `dropCols` folds columns away during the rewrite — the graduation
    * path for a STREAMING store
    * ([[graft.operators.Dedup.embedStoreIngestBatch]]): dropping the
    * `ingest_batch` replay ledger while partitioning by the canonical
    * layout turns the batch-keyed streaming tree into the exact store a
    * batch build would have written. Only run it against a STOPPED (or
    * fully committed) stream: a ledger partition the checkpoint has not
    * committed yet would be folded in AND replayed later. */
  def compactPartitionedTo(spark: SparkSession, srcDir: String,
                           dstDir: String, partitionCols: Seq[String],
                           targetFileBytes: Long = 128L * 1024 * 1024,
                           dropCols: Seq[String] = Nil): Long = {
    require(srcDir != dstDir, "compaction rewrites to a NEW directory (atomic swap)")
    require(partitionCols.nonEmpty, "partitioned compaction needs partition columns")
    require(dropCols.forall(!partitionCols.contains(_)),
      "dropCols and partitionCols overlap — a dropped column cannot " +
        "also be the layout")
    val df = spark.read.parquet(srcDir).drop(dropCols: _*)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val pcols = partitionCols.map(col)
    val counts = df.groupBy(pcols: _*).agg(count(lit(1)).as("__n")).persist()
    try {
      val totalRows = counts.agg(coalesce(sum(col("__n")), lit(0L)))
        .head().getLong(0).max(1L)
      val rowsPerFile = (targetFileBytes /
        (bytes / totalRows).toLong.max(1L)).max(1L)
      val files = counts
        .select(partitionCols.map(c => col(c).as(s"__k_$c")) :+
          greatest(lit(1L), ceil(col("__n").cast("double") / rowsPerFile))
            .cast("int").as("__files"): _*)
      val joinCond = partitionCols.map(c => col(c) <=> col(s"__k_$c"))
        .reduce(_ && _)
      // MapType is unhashable in Spark; a table with no hashable data
      // columns falls back to one salt group (the pre-salt behavior)
      import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
      def hasMap(dt: DataType): Boolean = dt match {
        case _: MapType => true
        case s: StructType => s.fields.exists(f => hasMap(f.dataType))
        case a: ArrayType => hasMap(a.elementType)
        case _ => false
      }
      val saltCols = df.schema.fields
        .filterNot(f => partitionCols.contains(f.name))
        .filterNot(f => hasMap(f.dataType))
        .map(f => col(f.name)).toSeq
      val salt = if (saltCols.isEmpty) lit(0)
                 else pmod(hash(saltCols: _*), col("__files"))
      val n = ((bytes + targetFileBytes - 1) / targetFileBytes).toLong
        .max(spark.sparkContext.defaultParallelism.toLong)
      df.join(broadcast(files), joinCond)
        .withColumn("__salt", salt)
        .repartition(n.toInt, pcols :+ col("__salt"): _*)
        .drop("__salt", "__files")
        .drop(partitionCols.map(c => s"__k_$c"): _*)
        .write.partitionBy(partitionCols: _*)
        .mode(SaveMode.Overwrite).parquet(dstDir)
      n
    } finally counts.unpersist()
  }

  /** Morton (Z-order) key over two coordinates: quantize each to `bits`
    * bits of its global range, then interleave the bits, so records close
    * in BOTH dimensions are close in ONE sort order. A single-column sort
    * (lat, lon) clusters only the leading column — a bounding-box query
    * then still reads every file for the trailing one. 16 bits ≈ 600 m of
    * latitude per cell: finer than any row-group at sane file sizes. */
  def zOrderKey(lat: Column, lon: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val cells = (1L << bits) - 1
    def quant(c: Column, lo: Double, hi: Double): Column =
      least(lit(cells), greatest(lit(0L),
        floor((c - lo) / (hi - lo) * cells).cast("long")))
    val qLat = quant(lat, -90.0, 90.0)
    val qLon = quant(lon, -180.0, 180.0)
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(qLat, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(qLon, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** Z-order clustering rewrite: range-partition `srcDir` by the Morton key
    * of (`latCol`, `lonCol`) and sort within partitions, so each output
    * file — and each row group inside it — covers a tight lat AND lon
    * rectangle. Parquet min/max stats then prune a bounding-box query down
    * to the few files that actually intersect it; on row-order or
    * single-column layouts every file straddles the full range of the
    * other dimension and nothing prunes. This is the batch-lake analog of
    * the reference's GIST index (import_datasets.py:89-92): the pruning
    * lives in the LAYOUT, not in a secondary structure that 1000 executors
    * would have to consult. Same new-directory contract as [[compactTo]].
    */
  def zorderTo(spark: SparkSession, srcDir: String, dstDir: String,
               latCol: String, lonCol: String, bits: Int = 16,
               targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(srcDir != dstDir, "clustering rewrites to a NEW directory (atomic swap)")
    val df = spark.read.parquet(srcDir)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + targetFileBytes - 1) / targetFileBytes).toLong.max(1L)
    val zkey = zOrderKey(col(latCol), col(lonCol), bits)
    df.repartitionByRange(n.toInt, zkey)
      .sortWithinPartitions(zkey)
      .write.mode(SaveMode.Overwrite).parquet(dstDir)
    n
  }

  /** Hive-style partitioned layout (the lake's coarse index): one
    * directory per distinct value of `partitionCols`, so any query with an
    * equality/IN predicate on those columns never LISTS — let alone reads —
    * the other partitions. Complements [[zorderTo]]: partitioning prunes at
    * directory granularity on low-cardinality columns (ingest date, source,
    * event type), Z-order/min-max prunes at row-group granularity within a
    * partition. Partition columns must be low-cardinality: a per-user
    * partitioning of a 100 TB log creates millions of directories and kills
    * the listing it was meant to save.
    */
  def writePartitioned(df: DataFrame, dstDir: String,
                       partitionCols: Seq[String]): Unit =
    df.write.partitionBy(partitionCols: _*).mode(SaveMode.Overwrite).parquet(dstDir)

  /** ORC rewrite of a parquet directory — same columnar/stat-pruning story
    * as parquet through Spark's built-in ORC source; kept as the second
    * format so format choice stays a one-line swap, not an engine property.
    */
  def toOrc(spark: SparkSession, srcDir: String, dstDir: String): Unit = {
    require(srcDir != dstDir, "format rewrite goes to a NEW directory")
    spark.read.parquet(srcDir).write.mode(SaveMode.Overwrite).orc(dstDir)
  }

  /** Schema evolution on read (the lake's `ALTER TABLE ADD COLUMN`):
    * merge the schemas of files written before and after a column was
    * added — old rows surface NULL for the new column, no rewrite. Spark
    * leaves mergeSchema off by default because footer-merging every file
    * costs listing time at scale; turning it on is a per-read decision,
    * which is exactly what this helper records. */
  /** Recursive delete of a LOCAL temp workspace tree — the one body
    * behind every Stress / Verify cleanup (the parquetFileCount
    * discipline: a change to the deletion rule lands everywhere at
    * once). Resolves against the LOCAL filesystem explicitly: these are
    * always `java.nio` temp dirs, and `FileSystem.get(conf)` would
    * resolve a bare `/tmp/...` path against `fs.defaultFS` — on an
    * HDFS-defaulted cluster the delete silently no-ops (the leak the
    * helper exists to prevent) or, worse, hits an identically-named
    * remote path. */
  def deleteLocalTree(spark: SparkSession, dir: String): Unit =
    org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(dir), true)

  def readMerged(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** Operational audit of a replay-ledgered streaming layout (the
    * `ingest_batch`-partitioned stores the seed*IngestStore /
    * *StoreIngestBatch writers maintain, the serve sinks
    * [[graft.streaming.EventsStream.serveSinkBatch]] lands, and — with
    * `expectMarkers = false` — the markerless pairs directories the
    * mining writers fill) — one row per ledger slice plus the two loud
    * findings a 100 TB operator pages on, surfaced as a `status` column:
    *
    *  - `gap`: an id missing from the otherwise-consecutive 0..high-water
    *    range. Structured Streaming batch ids are consecutive, so a gap
    *    means a committed slice was deleted out from under the store
    *    (or a foreign directory was grafted in) — the reads silently
    *    missing that batch's rows is exactly the silent-loss class the
    *    ledger exists to refuse. The high-water mark is the MAX of slice
    *    ids AND commit-marker ids: a surviving marker proves its batch
    *    was committed, so deleting the HIGHEST slice (which a
    *    slices-only max would silently renormalize away) still reports
    *    as a gap. The seed slice (`ingest_batch=-1`) is optional (serve
    *    sinks and pairs dirs have none) and never gap-checked against.
    *  - `unmarked`: a slice directory with no `_ledger_commit_` marker.
    *    Transiently normal (a crash between slice write and marker is
    *    healed by the engine's replay), but PERSISTENT with no live
    *    stream it means the checkpoint died with the crash and the
    *    slice content can no longer be replay-verified — re-land or
    *    drop it deliberately. Pairs directories are committed WITHOUT
    *    markers (only the store side carries them) — audit those with
    *    `expectMarkers = false`, which skips this finding (gap detection
    *    still applies; the high-water mark is then slice ids only).
    *
    * Everything driver-side is directory listing (on the layout's OWN
    * filesystem — the writers resolve their FS from the path, so the
    * audit must too); the per-slice row census is ONE partition-grouped
    * aggregate over the store. Runs on the audit cadence next to
    * compaction — graduation ([[compactPartitionedTo]] with
    * `dropCols = Seq("ingest_batch")`) should only consume a store whose
    * audit is all-`ok`. */
  def ledgerAudit(spark: SparkSession, dir: String,
                  expectMarkers: Boolean = true): DataFrame = {
    import spark.implicits._
    val ledger = graft.streaming.Ledger(spark, dir, "ledgerAudit", "")
    val (slices, markers) = ledger.listing()
    require(slices.nonEmpty,
      s"ledgerAudit($dir): no ledger slices — this is not a " +
        "ledgered streaming layout (a graduated store has no ledger to " +
        "audit)")
    val live = slices.filter(_ >= 0L)
    // gaps via sorted-interval walk, never materializing the 0..max
    // range: a grafted foreign directory with a huge id (e.g.
    // ingest_batch=9999999999) — exactly the anomaly this audit exists
    // to surface — would otherwise OOM the driver building billions of
    // boxed Longs. The arithmetic count is checked FIRST, and an absurd
    // gap census is refused loudly rather than enumerated: millions of
    // missing ids below the mark means a foreign id was grafted in (or
    // nearly every slice was deleted), and the directory listing itself
    // is the useful evidence at that point, not a million-row frame.
    val hwm = (if (expectMarkers) live ++ markers else live)
      .foldLeft(-1L)(math.max)
    val sortedLive = live.toSeq.sorted
    val nGaps = (hwm + 1L) - sortedLive.size
    require(nGaps <= 1000000L,
      s"ledgerAudit($dir): $nGaps missing batch ids below the " +
        s"high-water mark $hwm (${sortedLive.size} live slices) — " +
        "an out-of-band foreign id was grafted into the layout, or " +
        "nearly all committed slices were deleted; refusing to " +
        "enumerate the gaps as rows. Inspect the directory listing " +
        "directly and remove the foreign entry (or the dead layout)")
    val gaps = ((-1L +: sortedLive) :+ (hwm + 1L)).sliding(2).flatMap {
      case Seq(a, b) => (a + 1L) until b
      case _ => Seq.empty[Long]
    }.toSeq
    // file count on the layout's own FS (parquetFileCount walks java.nio
    // paths, i.e. local disk only)
    def sliceFiles(b: Long): Long = {
      val it = ledger.fs.listFiles(
        new org.apache.hadoop.fs.Path(ledger.slice(b)), true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val counts = spark.read.parquet(dir)
      .groupBy(col("ingest_batch").cast("long").as("ingest_batch"))
      .agg(count(lit(1)).as("n_rows"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows =
      slices.toSeq.sorted.map { b =>
        val status =
          if (expectMarkers && b >= 0L && !markers.contains(b)) "unmarked"
          else "ok"
        (b, counts.getOrElse(b, 0L), sliceFiles(b), status)
      } ++ gaps.toSeq.sorted.map(b => (b, 0L, 0L, "gap"))
    rows.sortBy(_._1)
      .toDF("ingest_batch", "n_rows", "n_files", "status")
  }
}
