package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.core.Graft
import graft.operators.Dedup
import graft.streaming.EventsStream

/** The benchmark's JVM side. `run.py` prepares the inputs and calls
  * `main` with `key=value` arguments; this object sets up the session,
  * warms up, times the ops and writes what it measured to `out` as one
  * JSON object, which `run.py` turns into metrics.
  *
  * Everything is measured from outside the engine: wall time around the
  * calls into its public functions, and Spark's public listener APIs.
  * With `trace=1` a [[Recorder]] keeps every job, stage, task and
  * planning phase with its timestamps, and each op's window attributes
  * them to that op in the ledger (Future legs run on pool threads that
  * carry no job group, so time windows are the only sound attribution).
  */
object PerfBench {
  /** Geometry of the streaming store: 64-d vectors, 4 sign planes (16
    * buckets; a two-bit probe reaches 11 of them, so every query finds k
    * corpus rows even where sign-LSH leaves buckets sparse), cosine
    * threshold 0.9 for a mined pair, k neighbors per served query. */
  val Dim = 64
  val Planes = 4
  val Threshold = 0.9
  val K = 10

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val run = new Run(opt)
    try run.execute()
    finally run.close()
  }

  def nowMs(): Long = System.currentTimeMillis()

  def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
      .nextOption().getOrElse("").take(300)

  /** Minimal JSON writer for the flat structures this file emits. */
  def js(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }
}

/** Writes the catalog's DuckDB oracle SQL, by query name, as JSON. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val pw = new PrintWriter(args(0), "UTF-8")
    try pw.println(PerfBench.js(SparkEntry.oracleSql)) finally pw.close()
  }
}

/** Spark scheduler and planner events, kept in memory with their epoch-ms
  * timestamps and attributed to ops when the run ends. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = ArrayBuffer.empty[Job]
  val stagesRun = ArrayBuffer.empty[Int]
  val tasks = ArrayBuffer.empty[Task]
  val phases = ArrayBuffer.empty[Phase]
  private var events = 0L

  def eventCount: Long = synchronized(events)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    jobs += Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    stagesRun += e.stageInfo.stageId
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val overhead = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime
      tasks += Task(e.stageId, i.launchTime, i.finishTime, i.duration,
        m.executorCpuTime / 1e6, math.max(0L, i.duration - overhead),
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  private def addPhases(qe: QueryExecution): Unit = synchronized {
    events += 1
    qe.tracker.phases.foreach { case (n, p) => phases += Phase(n, p.startTimeMs, p.endTimeMs) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPhases(qe)

  /** Waits until the listener bus has delivered everything posted so far:
    * the event count must hold still for half a second. */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val n = eventCount
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
}

object Recorder {
  final case class Job(id: Int, start: Long, stages: Seq[Int]) { var end: Long = Long.MaxValue }
  final case class Task(stage: Int, launch: Long, finish: Long, durMs: Long,
                        cpuMs: Double, schedMs: Long, shuffleBytes: Long,
                        spillBytes: Long)
  final case class Phase(name: String, start: Long, end: Long)
}

/** One op's timestamps plus the samples taken right after it. */
final case class OpWindow(name: String, kind: String, start: Long, buildEnd: Long,
                          end: Long, ok: Boolean, err: String,
                          heldRdds: Int, heldMb: Double, gcMs: Long,
                          heapMb: Double, stream: Map[String, Double])

final class Run(opt: Map[String, String]) {
  import PerfBench._

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val workload = opt("workload")
  private val data = opt("data")
  private val work = opt("work")
  private val cpus = opt("cpus").toInt
  private val seconds = opt("seconds").toDouble
  private val trace = opt("trace") == "1"
  private val setups = opt("setups").toInt
  private val seed = opt("seed").toLong

  private var spark: SparkSession = _
  private val recorder = new Recorder
  private val report = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val warmErrors = ArrayBuffer.empty[String]
  private val ops = ArrayBuffer.empty[OpWindow]
  private val checkFailed = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def close(): Unit = if (spark != null) spark.stop()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  private def held(): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
  }

  /** Session, tables and every table touched once; for `stream_ingest`
    * also the seeded store. The first set-up counts from JVM start. */
  private def setUp(i: Int): Double = {
    if (spark != null) { spark.stop(); spark = null }
    val t0 = if (i == 0) jvmStart else nowMs()
    spark = Graft.session(s"local[$cpus]", shufflePartitions = cpus,
      appName = "perfbench", extraConf = Map(
        "spark.ui.enabled" -> "false",
        "spark.local.dir" -> s"$work/spark-local",
        "spark.sql.warehouse.dir" -> s"$work/warehouse"))
    Graft.registerAll(spark, data)
    Graft.tableNames.foreach(t => spark.table(t).count())
    if (workload == "stream_ingest") seedStore(s"$work/seed$i")
    (nowMs() - t0) / 1000.0
  }

  private def corpus: DataFrame =
    spark.table("embeddings").select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("emb"))

  private def seedStore(dir: String): Unit =
    Dedup.seedEmbedIngestStore(corpus, dir, "id", "emb", Dim, Planes)

  def execute(): Unit = {
    val setupTimes = (0 until setups).map(setUp)
    report("setup_s") = setupTimes
    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }
    workload match {
      case "catalog_build" | "catalog_lazy" => catalog()
      case "stream_ingest" => stream()
      case w => sys.error(s"unknown workload $w")
    }
    report("warmup_errors") = warmErrors.toSeq
    report("check_failed") = checkFailed.toMap
    report("ops") = ops.map(o => Map("name" -> o.name, "kind" -> o.kind,
      "ms" -> (o.end - o.start).toDouble,
      "exec_ms" -> (o.end - o.buildEnd).toDouble, "ok" -> o.ok, "err" -> o.err)).toSeq
    report("peak_rss_mb") = peakRssMb()
    if (trace) writeLedger()
    val pw = new PrintWriter(opt("out"), "UTF-8")
    try pw.println(js(report.toMap)) finally pw.close()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---------------------------------------------------------------- catalog

  private def catalog(): Unit = {
    val names = opt("queries").split(",").toSeq
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap
    val rng = new scala.util.Random(seed)
    def timedPass(): Double = {
      val t0 = System.nanoTime()
      rng.shuffle(names).foreach { n =>
        val gc0 = if (trace) gcMs() else 0L
        val start = nowMs()
        var buildEnd = start
        val err = try {
          val df = fns(n)(spark, data)
          buildEnd = nowMs()
          df.write.mode("overwrite").format("noop").save()
          null
        } catch { case e: Throwable => message(e) }
        ops += sample(n, start, buildEnd, nowMs(), err, gc0)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // the check pass is the warm-up: each query's first, coldest run lands
    // as parquet for run.py's DuckDB comparison, outside the window
    val t0 = System.nanoTime()
    rng.shuffle(names).foreach { n =>
      try fns(n)(spark, data).write.mode("overwrite").parquet(s"$work/check/$n")
      catch { case e: Throwable =>
        val m = message(e)
        checkFailed(n) = s"check run threw: $m"
        warmErrors += s"$n: $m"
      }
    }
    report("warmup_passes_s") = Seq((System.nanoTime() - t0) / 1e9)
    val w0 = System.nanoTime()
    val timed = ArrayBuffer.empty[Double]
    while (timed.isEmpty || (System.nanoTime() - w0) / 1e9 < seconds) timed += timedPass()
    report("window_s") = (System.nanoTime() - w0) / 1e9
    report("passes_s") = timed.toSeq
  }

  private def sample(name: String, start: Long, buildEnd: Long, end: Long,
                     err: String, gc0: Long): OpWindow =
    if (!trace) OpWindow(name, "query", start, buildEnd, end, err == null, err, 0, 0, 0, 0, Map.empty)
    else {
      val (rdds, mb) = held()
      OpWindow(name, "query", start, buildEnd, end, err == null, err, rdds, mb,
        gcMs() - gc0, heapMb(), Map.empty)
    }

  // ----------------------------------------------------------------- stream

  private def stream(): Unit = {
    val in = opt("inputs")
    val writeSchema = "id BIGINT, emb ARRAY<DOUBLE>"
    val readSchema = "qid BIGINT, qe ARRAY<DOUBLE>"
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Map[String, Double])]()
    var gcAt = gcMs()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
          val start = Instant.parse(p.timestamp).toEpochMilli
          val extra = if (!trace) Map.empty[String, Double] else {
            val (rdds, mb) = held()
            val g = gcMs()
            val m = Map("held_rdds" -> rdds.toDouble, "held_mb" -> mb,
              "gc_ms" -> (g - gcAt).toDouble, "heap_mb" -> heapMb())
            gcAt = g
            m
          }
          progress.add((p.name, p.batchId, d ++ extra ++ Map("start" -> start.toDouble)))
        }
      }
    })
    def runPhase(name: String, dir: String, schema: String,
                 writer: DataFrame => org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
                 expect: Int): (Double, Seq[(Long, Map[String, Double])]) = {
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
      try writer(src).queryName(name)
        .option("checkpointLocation", s"$work/ck_$name")
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      catch { case e: Throwable => checkFailed(name) = s"stream threw: ${message(e)}" }
      val wall = (System.nanoTime() - t0) / 1e9
      // progress events arrive on the listener bus after the batch ends
      val deadline = nowMs() + 30000
      def mine = progress.asScala.filter(_._1 == name).toSeq
      while (mine.size < expect && nowMs() < deadline) Thread.sleep(20)
      (wall, mine.map(p => p._2 -> p._3).sortBy(_._1))
    }
    def ingest(name: String, seedDir: String, dir: String, expect: Int) =
      runPhase(name, dir, writeSchema, s => EventsStream.embedStoreIngest(s,
        seedDir, s"$work/pairs_$name", "id", "emb", Dim, Planes, Threshold), expect)
    def serve(name: String, storeDir: String, dir: String, expect: Int) = {
      val store = spark.read.parquet(storeDir).drop("ingest_batch")
      runPhase(name, dir, readSchema, s => EventsStream.annServeStream(s,
        "qid", "qe", store, Dim, Planes, K, s"$work/served_$name", probeBits = 2), expect)
    }
    def files(dir: String): Int = new File(dir).list().count(_.endsWith(".parquet"))
    val nWrite = files(s"$in/write")
    val nRead = files(s"$in/read")
    report("stream_batches") = nWrite + nRead

    val store = s"$work/seed${setups - 1}"
    val (writeWall, writes) = ingest("write", store, s"$in/write", nWrite)
    val (readWall, reads) = serve("read", store, s"$in/read", nRead)
    report("window_s") = writeWall
    report("read_window_s") = readWall
    def toOps(kind: String, ps: Seq[(Long, Map[String, Double])]): Unit = ps.foreach {
      case (b, d) =>
        val start = d("start").toLong
        val end = start + d.getOrElse("triggerExecution", 0.0).toLong
        ops += OpWindow(s"$kind-$b", kind, start, start, end, ok = true, null,
          d.getOrElse("held_rdds", 0.0).toInt, d.getOrElse("held_mb", 0.0),
          d.getOrElse("gc_ms", 0.0).toLong, d.getOrElse("heap_mb", 0.0), d)
    }
    toOps("write", writes)
    toOps("read", reads)
    if (writes.size != nWrite) checkFailed("write") = s"${writes.size} of $nWrite write batches reported progress"
    if (reads.size != nRead) checkFailed("read") = s"${reads.size} of $nRead read batches reported progress"
    checkStream(store, nWrite)
  }

  /** The stream's result checks, outside both timed phases. */
  private def checkStream(store: String, nWrite: Int): Unit = {
    val in = opt("inputs")
    def fail(what: String, why: String): Unit = checkFailed(what) = why
    try {
      val ledger = spark.read.parquet(store).select(col("ingest_batch").cast("long"))
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      if (ledger != (-1L +: (0L until nWrite))) fail("write", s"store ledger holds batches $ledger")
      val pairs = spark.read.parquet(s"$work/pairs_write")
      val pairSlices = pairs.select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      if (pairSlices != (0L until nWrite)) fail("write", s"pairs ledger holds batches $pairSlices")
      val got = pairs.select(col("a_id"), col("b_id"), col("cosine")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      // every pair the batches mined has at least one streamed row, so the
      // batch twin mines all streamed rows against the seed at once
      val seedIndex = spark.read.parquet(store).filter(col("ingest_batch") === -1L)
        .drop("ingest_batch")
      val twin = Dedup.embeddingIncrementalPairs(
          spark.read.schema("id BIGINT, emb ARRAY<DOUBLE>").parquet(s"$in/write"),
          seedIndex, "id", "emb", Dim, Planes, Threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      if (got != twin) fail("write", s"mined ${got.size} pairs, the batch twin ${twin.size}")
      if (got.isEmpty) fail("write", "no pair mined: the planted near-duplicates went missing")
      report("pairs") = got.size
      report("pairs_digest") = java.util.Arrays.hashCode(got.map(_.hashCode).toArray).toLong
      val queries = spark.read.schema("qid BIGINT, qe ARRAY<DOUBLE>").parquet(s"$in/read")
        .select(col("qid")).collect().map(_.getLong(0)).toSet
      val served = spark.read.parquet(s"$work/served_read")
        .groupBy("query_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (served.keySet != queries) fail("read", s"served ${served.size} of ${queries.size} queries")
      val short = served.count(_._2 != K)
      if (short > 0) fail("read", s"$short queries served a row count other than $K")
    } catch { case e: Throwable => fail("stream", s"check threw: ${message(e)}") }
  }

  // ----------------------------------------------------------------- ledger

  /** One row per timed op: every per-layer metric, attributed by the op's
    * time window (and, for orphans, the gap until the next op starts). */
  private def writeLedger(): Unit = {
    recorder.drain()
    val rec = recorder
    val (jobs, tasks, stagesRun, phases) = rec.synchronized(
      (rec.jobs.toSeq, rec.tasks.toSeq, rec.stagesRun.toSeq, rec.phases.toSeq))
    val jobOfStage = jobs.flatMap(j => j.stages.map(_ -> j)).toMap
    val tasksOfJob = tasks.groupBy(t => jobOfStage.get(t.stage).map(_.id).getOrElse(-1))
    val stagesOfJob = stagesRun.distinct.groupBy(s => jobOfStage.get(s).map(_.id).getOrElse(-1))
    def idleMs(from: Long, to: Long, ts: Seq[Recorder.Task]): Double = {
      val iv = ts.map(t => (math.max(from, t.launch), math.min(to, t.finish)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var cur = from
      iv.foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
      (to - from - covered).toDouble
    }
    // data files and bytes a micro-batch left in its ledger slices, and
    // the mean size of one input file of its phase
    def dataFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(dataFiles)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    def inputBytes(kind: String): Double =
      dataFiles(new File(s"${opt("inputs")}/$kind")).map(_.length.toDouble).sum /
        dataFiles(new File(s"${opt("inputs")}/$kind")).size
    def written(o: OpWindow): (Int, Double) = o.kind match {
      case "write" | "read" =>
        val b = o.name.stripPrefix(o.kind + "-")
        val slices =
          if (o.kind == "write") Seq(s"$work/seed${setups - 1}", s"$work/pairs_write")
          else Seq(s"$work/served_read")
        val fs = slices.flatMap(d => dataFiles(new File(s"$d/ingest_batch=$b")))
        (fs.size, fs.map(_.length.toDouble).sum / inputBytes(o.kind))
      case _ => (0, 0.0)
    }
    val sorted = ops.sortBy(_.start)
    val pw = new PrintWriter(opt("ledger"), "UTF-8")
    try sorted.zipWithIndex.foreach { case (o, i) =>
      // the gap an op's orphans may start in ends where the next op of its
      // phase starts; the last op of a phase has none
      val next =
        if (i + 1 < sorted.length && sorted(i + 1).kind == o.kind) sorted(i + 1).start
        else o.end
      val buildJobs = jobs.filter(j => j.start >= o.start && j.start < o.buildEnd)
      val execJobs = jobs.filter(j => j.start >= o.buildEnd && j.start <= o.end)
      val orphans = jobs.filter(j => (j.start > o.end && j.start < next) ||
        (j.start >= o.start && j.start <= o.end && j.end > o.end))
      val bt = buildJobs.flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
      val et = execJobs.flatMap(j => tasksOfJob.getOrElse(j.id, Nil))
      val execMs = (o.end - o.buildEnd).toDouble
      val ph = phases.filter(p => p.start >= o.start && p.start <= o.end)
        .groupBy(_.name).map { case (k, ps) => k -> ps.map(p => (p.end - p.start).toDouble).sum }
      val s = o.stream
      val (nFiles, amp) = written(o)
      val row = Map[String, Any](
        "op" -> o.name, "kind" -> o.kind, "ok" -> o.ok,
        "latency_ms" -> (o.end - o.start).toDouble,
        "queries.build_ms" -> (o.buildEnd - o.start).toDouble,
        "queries.build_jobs" -> buildJobs.size,
        "queries.build_tasks" -> bt.size,
        "queries.build_task_cpu_ms" -> bt.map(_.cpuMs).sum,
        "queries.build_idle_ms" -> idleMs(o.start, o.buildEnd, bt),
        "queries.held_rdds" -> o.heldRdds,
        "queries.held_mb" -> o.heldMb,
        "plans.analysis_ms" -> ph.getOrElse("analysis", 0.0),
        "plans.optimization_ms" -> ph.getOrElse("optimization", 0.0),
        "plans.planning_ms" -> ph.getOrElse("planning", 0.0),
        "operators.exec_ms" -> execMs,
        "operators.jobs" -> execJobs.size,
        "operators.stages" -> execJobs.map(j => stagesOfJob.getOrElse(j.id, Nil).size).sum,
        "operators.tasks" -> et.size,
        "operators.sched_delay_ms" -> et.map(_.schedMs).sum.toDouble,
        "operators.idle_ms" -> idleMs(o.buildEnd, o.end, et),
        "operators.busy_frac" -> (if (execMs <= 0) 0.0 else et.map(_.durMs).sum / (execMs * cpus)),
        "operators.task_cpu_ms" -> et.map(_.cpuMs).sum,
        "operators.shuffle_write_mb" -> et.map(_.shuffleBytes).sum / 1048576.0,
        "operators.spill_mb" -> et.map(_.spillBytes).sum / 1048576.0,
        "operators.orphan_jobs" -> orphans.size,
        "streaming.trigger_ms" -> s.getOrElse("triggerExecution", 0.0),
        "streaming.add_batch_ms" -> s.getOrElse("addBatch", 0.0),
        "streaming.planning_ms" -> s.getOrElse("queryPlanning", 0.0),
        "streaming.wal_ms" -> s.getOrElse("walCommit", 0.0),
        "streaming.latest_offset_ms" -> s.getOrElse("latestOffset", 0.0),
        "streaming.files_written" -> nFiles,
        "streaming.write_amp" -> amp,
        "core.gc_ms" -> o.gcMs.toDouble,
        "core.heap_used_mb" -> o.heapMb)
      pw.println(js(row))
    } finally pw.close()
  }
}
