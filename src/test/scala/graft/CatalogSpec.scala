package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** The catalog queries that share an intermediate through
    * [[graft.plans.Shared.share]]. */
  val sharingQueries: Seq[String] = Seq("q_dedup_prefix_filter",
    "q_lang_id_ngram", "q_containment_dedup", "q_lsh_tuning", "q_gap_fill",
    "q_segment_dedup", "q_bigram_logprob", "q_dsir_weights", "q_ppl_bucket",
    "q_pr_curve", "q_auc", "q_collocations", "q_wordpiece",
    "q_unigram_tokenizer", "q_unigram_train", "q_kmeans_iter",
    "q_cluster_topics")

  /** `body`'s result and the Spark jobs it started on this thread, each
    * named by its shortest stage name (e.g. `parquet at Tables.scala:14`),
    * counted under a private job group; a sentinel job marks the end of
    * the window on the event bus. */
  def jobsStartedBy[T](group: String)(body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "sentinel")
            sentinel.countDown()
          else started.add(e.stageInfos.map(_.name).minBy(_.length))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = body
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (r, started.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

class CatalogSpec extends AnyFunSuite {
  import TestSpark._

  test("every catalog query runs and returns rows on sf0.001") {
    graft.queries.Catalog.everything.foreach { q =>
      val n = q.fn(spark, sf).count()
      assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("every oracle key has a matching query key") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("analytics invariants: funnel monotone, retention bounded, SCD-2 well-formed") {
    import graft.queries.Catalog.byName
    // an ordered funnel can only lose users stage over stage
    val stages = byName("q_funnel").fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages("stage1_view") >= stages("stage2_click"))
    assert(stages("stage2_click") >= stages("stage3_purchase"))
    // no retention offset can exceed its cohort's day-0 count
    val ret = byName("q_retention").fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    ret.foreach { case ((cohort, off), n) =>
      if (off > 0) assert(n <= ret((cohort, 0L)),
        s"cohort $cohort offset $off count $n exceeds day-0 ${ret((cohort, 0L))}")
    }
    // SCD-2: per key exactly one open (current) version, and the closed
    // intervals chain gaplessly in order
    val hist = byName("q_scd2").fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4)))
      .groupBy(_._1)
    hist.foreach { case (k, versions) =>
      assert(versions.count(_._4 == 1L) == 1, s"key $k: != 1 current version")
      val sorted = versions.sortBy(v => (v._2, v._3))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          if (a._3 != "9999-12-31")
            assert(a._3 <= b._2, s"key $k: interval gap/overlap $a -> $b")
        case _ =>
      }
      assert(sorted.last._3 == "9999-12-31")
    }
  }

  test("building a sharing query starts no job") {
    // every table's schema is resolved once per session: warm each query's
    // tables with one build, then measure the next
    val offenders = sharingQueries.flatMap { name =>
      val fn = graft.queries.Catalog.byName(name).fn
      fn(spark, sf)
      val (_, jobs) = jobsStartedBy(s"build-$name")(fn(spark, sf))
      jobs.map(j => s"$name: $j")
    }
    assert(offenders.isEmpty,
      s"jobs started while building:\n${offenders.mkString("\n")}")
  }

  test("a sharing query recomputes after every persisted block is dropped") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    sharingQueries.foreach { name =>
      val fn = graft.queries.Catalog.byName(name).fn
      val built = fn(spark, sf)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      assert(rows(built) == rows(fn(spark, sf)),
        s"$name: result changed after its blocks were dropped")
    }
  }

  test("knn returns at most 5 rows, sorted by similarity desc") {
    val rows = graft.queries.Catalog.byName("q_knn").fn(spark, sf)
      .collect().map(_.getDouble(2))
    assert(rows.length <= 5 && rows.sameElements(rows.sorted.reverse))
  }

  test("geo radius distances are within the radius") {
    val rows = graft.queries.Catalog.byName("q_geo_radius").fn(spark, sf)
      .collect().map(_.getDouble(1))
    assert(rows.nonEmpty && rows.forall(_ <= 20.0))
  }

  test("unigram EM round: piece-length bounds, prune cardinality, full coverage") {
    // NOTE on non-inertness: whether one EM round changes the top-25 is
    // data-dependent — when every USED multi-char piece survives the
    // 40->20 prune, hard-EM re-segments identically (sf0.001 and sf0.1
    // land there; sf0.01 does not: "ue" is pruned and its paths re-route
    // through "er"/"u"/"y", visible as differing oracle-checked outputs).
    // So the spec pins the invariants that hold at EVERY SF; the oracle
    // gate pins the exact values per SF.
    val trained = graft.queries.Catalog.byName("q_unigram_train").fn(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // output shape: top-25 by (n_occurrences desc, tok), pieces are
    // 1..4-char vocab members
    assert(trained.nonEmpty && trained.length <= 25)
    assert(trained.forall { case (t, _) => t.length >= 1 && t.length <= 4 })
    val occs = trained.map(_._2)
    assert(occs.sameElements(occs.sorted.reverse), "not sorted by usage")
    assert(occs.forall(_ > 0), "a chosen piece with zero weighted usage")
    // the M-step prunes the multi-char vocab 40 -> 20: the re-segmented
    // output can never surface more than 20 distinct multi-char pieces
    assert(trained.map(_._1).distinct.count(_.length >= 2) <= 20)
  }
}
