package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The exactly-once replay ledger of one streaming layout, the one body
  * behind the store writers (`Dedup.storeIngestBatch`), the serve sink
  * ([[EventsStream.serveSinkBatch]]) and the audit
  * (`Maintenance.ledgerAudit`). Each micro-batch lands as the slice
  * `dir/ingest_batch=<id>` and is committed by the empty marker file
  * `dir/_ledger_commit_<id>` once the slice is written (underscore-
  * prefixed, so parquet readers skip it).
  *
  * The high-water mark is the max of slice AND marker ids, read by
  * directory listing only: a surviving marker proves its batch was
  * committed, so a deleted committed slice still holds the mark.
  * Structured Streaming only replays the LAST uncommitted batch
  * (id == mark) or advances past it, so an id BELOW the mark is a
  * fresh-checkpoint restart whose renumbered batches would overwrite
  * committed slices: [[requireMonotonic]] refuses it. A renumbered batch
  * landing exactly ON a committed id passes that guard;
  * [[requireReplay]] refuses it unless its contents equal the stored
  * slice's (a true replay is byte-identical: every writer's slice is a
  * pure function of the checkpoint-defined batch). A compare needs both
  * the marker and the slice: a markerless slice (a crash between the
  * write and the marker) and a marker without its slice (a crash inside
  * the Overwrite commit, which deletes the old slice before the rewrite
  * lands) both heal by overwrite. `recover` ends both refusals with the
  * layout's way out. */
private[graft] final case class Ledger(spark: SparkSession, dir: String,
                                       what: String, recover: String) {
  val fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def slice(batchId: Long): String = Ledger.slice(dir, batchId)

  private def marker(batchId: Long) =
    new Path(s"$dir/_ledger_commit_$batchId")

  /** (slice ids, marker ids) by directory listing; empty for a missing
    * `dir`. */
  def listing(): (Set[Long], Set[Long]) = {
    val root = new Path(dir)
    val names =
      if (fs.exists(root)) fs.listStatus(root).map(_.getPath.getName).toSet
      else Set.empty[String]
    def ids(prefix: String) =
      names.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toLong)
    (ids(s"${Ledger.column}="), ids("_ledger_commit_"))
  }

  def requireMonotonic(batchId: Long): Unit = {
    val (slices, markers) = listing()
    val mark = (slices ++ markers).foldLeft(Long.MinValue)(math.max)
    require(batchId >= mark,
      s"$what($dir): ledger regression — micro-batch $batchId is below " +
        s"the high-water mark $mark; the stream was restarted with a " +
        "fresh checkpoint and its renumbered batches would silently " +
        s"overwrite committed slices. $recover")
  }

  /** When batch `batchId` is committed and its slice exists, refuse
    * `incoming` unless its order-free content fingerprint equals the
    * `stored` slice's (read only then), compared over `incoming`'s
    * columns (the stored partition column reads back as int where
    * writers stamp long, so only genuinely different catalog types are
    * cast; a nullability-only difference is the same type, and Spark
    * refuses the nullable->non-null cast). */
  def requireReplay(batchId: Long, incoming: DataFrame,
                    stored: => DataFrame): Unit =
    if (fs.exists(marker(batchId)) && fs.exists(new Path(slice(batchId)))) {
      val have = stored
      val types = have.schema.fields.map(f => f.name -> f.dataType).toMap
      val aligned = have.select(incoming.schema.fields.map { f =>
        if (types(f.name).catalogString == f.dataType.catalogString)
          col(f.name)
        else col(f.name).cast(f.dataType)
      }.toIndexedSeq: _*)
      require(Ledger.contentFp(incoming) == Ledger.contentFp(aligned),
        s"$what($dir): ledger collision — micro-batch $batchId is already " +
          "committed with DIFFERENT contents; the stream was restarted " +
          "with a fresh checkpoint and its renumbered batch would " +
          s"silently overwrite the committed slice. $recover")
    }

  def commit(batchId: Long): Unit = fs.create(marker(batchId), true).close()
}

private[graft] object Ledger {
  /** The ledger's partition column. */
  val column = "ingest_batch"

  def slice(dir: String, batchId: Long): String = s"$dir/$column=$batchId"

  /** count + bit_xor + SUM of the rows' xxhash64: xor alone cancels rows
    * with even multiplicity (a batch carrying one doc twice xors its row
    * hash to 0, so two DIFFERENT duplicated batches could collide). The
    * sum is multiplicity-linear; decimal(38,0), not long, because ANSI
    * long-sum overflows loudly on full-range hashes, and it is compared
    * as a plain string since decimal scale survives the round trip as 0.
    * A null sum is EMPTY (count 0) or OVERFLOW (~1e19 rows): the
    * overflow marker keeps it unequal to any finite sum, and count +
    * bit_xor still discriminate among overflowed slices. */
  private[graft] def contentFp(df: DataFrame): (Long, Long, String) = {
    val hashes = s"xxhash64(${df.columns.map(c => s"`$c`").mkString(", ")})"
    val r = df.agg(count(lit(1)),
      coalesce(expr(s"bit_xor($hashes)"), lit(0L)),
      sum(expr(hashes).cast("decimal(38,0)"))).head()
    val sumStr =
      if (r.isNullAt(2)) { if (r.getLong(0) == 0L) "0" else "overflow" }
      else r.getDecimal(2).stripTrailingZeros.toPlainString
    (r.getLong(0), r.getLong(1), sumStr)
  }
}
