package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** Regression guard for testdata schema drift.
  *
  * Round 4 lost 25 events-based queries because the driver's testdata
  * generation switched `events.ts` from parquet TIMESTAMP(NANOS) (read as
  * raw longs via nanosAsLong) to TIMESTAMP(MICROS) without timezone (read
  * as TIMESTAMP_NTZ), and the loader hardcoded the nanos arithmetic. The
  * loader is now schema-aware; this spec pins every encoding the file has
  * ever shipped in — and the one it ships in today — to the same loaded
  * value, so the next generation flip fails HERE instead of taking out a
  * third of the bench catalog.
  */
class SchemaDriftSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpEventsDir(writer: String => Unit): String = {
    val dir = Files.createTempDirectory("graft-drift").toFile
    dir.deleteOnExit()
    writer(dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  // 2021-06-01 12:34:56.789012 UTC, in micros since epoch
  private val micros = 1622550896789012L

  test("events loader: int64-nanos encoding loads as UTC timestamp") {
    val dir = tmpEventsDir { d =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(1L, micros * 1000L)),
        StructType(Seq(StructField("user_id", LongType),
          StructField("ts", LongType))))
      df.write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros)
  }

  test("events loader: TIMESTAMP_NTZ encoding loads as the same UTC timestamp") {
    val dir = tmpEventsDir { d =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(1L, java.time.LocalDateTime
          .ofEpochSecond(micros / 1000000L, (micros % 1000000L).toInt * 1000,
            java.time.ZoneOffset.UTC))),
        StructType(Seq(StructField("user_id", LongType),
          StructField("ts", TimestampNTZType))))
      df.write.mode("overwrite").parquet(s"$d/events.parquet")
      // confirm the fixture really round-trips as NTZ, like today's testdata
      assert(spark.read.parquet(s"$d/events.parquet")
        .schema("ts").dataType == TimestampNTZType)
    }
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros)
  }

  test("events loader: session-zone TIMESTAMP encoding passes through") {
    val dir = tmpEventsDir { d =>
      val df = spark.createDataFrame(
        java.util.List.of(Row(1L, java.sql.Timestamp.from(
          java.time.Instant.ofEpochSecond(micros / 1000000L,
            (micros % 1000000L) * 1000L)))),
        StructType(Seq(StructField("user_id", LongType),
          StructField("ts", TimestampType))))
      df.write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val loaded = Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == TimestampType)
    val got = loaded.select(unix_micros(col("ts"))).head.getLong(0)
    assert(got == micros)
  }

  test("table loader: a schema is pinned per file listing; a rewritten file is re-resolved") {
    val dir = Files.createTempDirectory("graft-pin").toFile
    dir.deleteOnExit()
    val table = new java.io.File(dir, "t.parquet")
    // one single-file table, as the testdata ships them
    def writeAs(name: String, mtime: Long): Unit = {
      val out = s"${dir.getAbsolutePath}/out"
      spark.range(5).select(col("id").as(name)).coalesce(1)
        .write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, table.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      assert(table.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis() / 1000 * 1000 - 60000
    writeAs("id", t0)
    assert(Tables.table(spark, dir.getAbsolutePath, "t").columns.toSeq == Seq("id"))
    val (_, jobs) = jobsStartedBy("pinned-table-read") {
      Tables.table(spark, dir.getAbsolutePath, "t")
    }
    assert(jobs.isEmpty, s"a second read of an unchanged table started $jobs")
    // same name, same length, new column name: only the mtime tells
    val len = table.length
    writeAs("ix", t0 + 10000)
    assert(table.length == len)
    val reread = Tables.table(spark, dir.getAbsolutePath, "t")
    assert(reread.columns.toSeq == Seq("ix"))
    assert(reread.agg(sum(col("ix"))).head.getLong(0) == 10L)
  }

  test("live testdata: every table loads with the dtypes the catalog assumes") {
    // the load-bearing columns each query family dereferences — drift in
    // any of these breaks dozens of queries, so pin them all here
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampType)
    val doc = Tables.documents(spark, sf).schema
    assert(doc("text").dataType == StringType)
    assert(doc("doc_id").dataType.isInstanceOf[NumericType])
    val emb = Tables.embeddings(spark, sf).schema("embedding").dataType
    assert(emb.isInstanceOf[ArrayType] &&
      Set[DataType](FloatType, DoubleType)
        .contains(emb.asInstanceOf[ArrayType].elementType),
      s"embedding drifted to $emb")
    val li = Tables.lineitem(spark, sf).schema
    assert(li("l_quantity").dataType.isInstanceOf[NumericType])
    assert(li("l_shipdate").dataType == DateType ||
      li("l_shipdate").dataType == StringType ||
      li("l_shipdate").dataType == TimestampType ||
      li("l_shipdate").dataType == TimestampNTZType,
      s"l_shipdate drifted to ${li("l_shipdate").dataType}")
  }
}
