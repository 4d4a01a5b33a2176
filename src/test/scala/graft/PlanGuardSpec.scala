package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Scale guardrails over every catalog query's PHYSICAL plan.
  *
  * Correctness is the oracle gate's job; these tests pin the plan
  * properties that decide whether the same pipeline survives a 100×
  * scale-up. They walk the executed plan (sf0.001 inputs — plan shape, not
  * data, is under test) and fail on the two classic silent scale killers:
  *
  *  - an unpartitioned window (WindowExec with empty partitionSpec moves
  *    EVERY row to one partition — works at test scale, single-task at
  *    100 TB; Spark only warns at runtime, and a warning in a log nobody
  *    reads is not a guardrail);
  *  - an unintended cartesian product (CartesianProductExec appears when a
  *    join degenerates to a cross product of two large sides; the catalog's
  *    deliberate cross joins are all broadcast of 1-row/tiny frames, which
  *    plan as BroadcastNestedLoopJoin, never CartesianProductExec).
  */
class PlanGuardSpec extends AnyFunSuite {
  import TestSpark._

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(walk) ++
      p.subqueries.flatMap(walk)
  }

  private def plans(name: String): Seq[SparkPlan] = {
    val df = graft.queries.Catalog.byName(name).fn(spark, sf)
    walk(df.queryExecution.executedPlan)
  }

  private val allNames = graft.queries.Catalog.everything.map(_.name)

  test("no catalog query plans an unpartitioned window") {
    val offenders = allNames.flatMap { name =>
      plans(name).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => s"$name: $w"
      }
    }
    assert(offenders.isEmpty, s"global-window plans:\n${offenders.mkString("\n")}")
  }

  test("inverted-index posting cap is a partial aggregate, never a window") {
    // the r5 formulation ranked (tok, doc) pairs with a window PARTITION BY
    // tok — every distinct pair of a stopword lands on ONE task at 100 TB.
    // The TopK bounded-buffer Aggregator caps map-side instead: at most 8
    // doc_ids per token per map partition cross the token exchange. Pin
    // both halves of that claim to the physical plan.
    val ps = plans("q_inverted_index")
    val windows = ps.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"window crept back into q_inverted_index:\n${windows.mkString("\n")}")
    val modes = ps.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.aggregateExpressions
          .filter(_.aggregateFunction.toString.toLowerCase.contains("topkagg"))
          .map(_.mode)
    }.flatten
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    assert(modes.contains(Partial) && modes.contains(Final),
      s"TopK aggregate not partial+final (map-side cap lost): $modes")
  }

  test("no catalog query plans a cartesian product") {
    val offenders = allNames.flatMap { name =>
      plans(name).collect { case c: CartesianProductExec => s"$name" }
    }
    assert(offenders.isEmpty, s"cartesian plans: ${offenders.mkString(", ")}")
  }

  test("filter queries push their predicates into the parquet scan") {
    // a scan that reads every row group and filters afterwards is the
    // difference between touching 100 TB and touching the matching slice.
    // Assert a SPECIFIC pushed predicate per query, not merely a non-empty
    // list — the inferred IsNotNull on any filtered column makes
    // PushedFilters != [] vacuously (q_hash_sample's arithmetic predicate,
    // for example, can never push; only its IsNotNull does)
    for ((name, want) <- Seq(
        "q_filter_eq_range" -> "EqualTo(l_returnflag,A)",
        "q_filter_in_range" -> "In(c_mktsegment")) {
      val scans = plans(name).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, s"$name: no parquet scan found")
      assert(scans.exists(_.metadata.get("PushedFilters").exists(_.contains(want))),
        s"$name: '$want' not pushed:\n" +
          scans.map(_.metadata.get("PushedFilters")).mkString("\n"))
    }
  }

  test("star-schema join broadcasts every dimension side") {
    // q_revenue_by_nation is the 100 TB flagship: the fact table must be
    // the ONLY shuffled input — dims ride broadcast exchanges
    val bhj = plans("q_revenue_by_nation").collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 4,
      s"expected >=4 broadcast joins (customer/supplier/nation/region), got ${bhj.size}")
  }

  test("radius search over STORED coords pushes the bounding box to the scan") {
    // the GIST-index substitute (SURVEY §4): over real lat/lon columns the
    // sargable bbox must reach the parquet scan so row-group min/max stats
    // can skip — q_geo_radius can't show this (its coords are derived), so
    // prove it on a written table
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_geo").toString
    TestSpark.spark.range(0, 1000)
      .select(col("id"),
        (lit(30.0) + col("id") % 100 * 0.1).as("lat"),
        (lit(-120.0) + col("id") % 77 * 0.1).as("lon"))
      .write.mode("overwrite").parquet(dir)
    val df = graft.operators.GeoSearch.radiusSearch(
      TestSpark.spark.read.parquet(dir), col("lat"), col("lon"),
      32.5, -116.5, 20.0, limit = 50)
    df.collect()
    val scans = walk(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val pushed = scans.flatMap(_.metadata.get("PushedFilters"))
    assert(pushed.exists(p => p.contains("GreaterThanOrEqual(lat") &&
      p.contains("LessThanOrEqual(lon")), s"bbox not pushed: $pushed")
  }

  test("ANN index persisted by bucket serves a search from pruned partitions") {
    // the HNSW substitute end-to-end: build (bucket + write partitioned by
    // bucket), then search via annTopKIndexed — the bucket-equality join
    // against the 1-row query must plan partition filters that prune the
    // persisted layout, not rescan and re-hash the corpus
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_ann").toString
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    graft.operators.AnnIndex.withBucket(corpus, "emb", 64, 4)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val indexed = spark.read.parquet(dir)
    val q = corpus.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    val df = graft.operators.AnnIndex.annTopKIndexed(
      indexed, "emb", "bucket", 64, 4, q, "qe", k = 3, tieBreak = Seq("vec_id"))
    assert(df.count() > 0)
    val scans = walk(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_ann")) => f
    }
    assert(scans.nonEmpty, "no scan over the persisted index found")
    // specifically a STATIC literal partition filter (r12: the face
    // computes the query's bucket driver-side and pushes `bucket = <lit>`
    // — planning-time pruning, the annTopKWideIndexed design; the
    // earlier broadcast-join DPP stopped firing once the query became a
    // collected local row). An inferred isnotnull(bucket) alone would
    // not prove pruning, so the assert demands the literal equality.
    val static = scans.exists(_.partitionFilters.exists(_.exists {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(_,
          _: org.apache.spark.sql.catalyst.expressions.Literal) => true
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          _: org.apache.spark.sql.catalyst.expressions.Literal, _) => true
      case _ => false
    }))
    assert(static, "no literal bucket partition filter on the index scan: " +
      scans.map(_.partitionFilters).mkString("; "))
  }

  test("round-2 queries keep their scale-critical plan shapes") {
    // q_promo_share: part is a dimension — it must ride a broadcast, the
    // lineitem side must be the only shuffled input
    val promoBhj = plans("q_promo_share").collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(promoBhj.nonEmpty, "q_promo_share: part dim not broadcast")

    // q_bloom_join: the bloom prune must exist as a Filter on the probe
    // side (that is the whole point — rows drop BEFORE the join's
    // exchange), and the join must be a semi join, not an inner+distinct
    val bloomPlans = plans("q_bloom_join")
    assert(bloomPlans.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("UDF")
      case _ => false
    }, "q_bloom_join: bloom mightContain filter not planned on the probe")
    assert(bloomPlans.exists(_.toString.contains("LeftSemi")),
      "q_bloom_join: no semi join planned")

    // q_funnel / q_group_topk: both must stay AGGREGATION-shaped — a
    // window formulation would shuffle whole event/group histories where
    // the aggregate ships per-user minima / k-bounded buffers
    for (name <- Seq("q_funnel", "q_group_topk")) {
      assert(!plans(name).exists(_.isInstanceOf[WindowExec]),
        s"$name: planned a window — the aggregate formulation regressed")
    }
  }

  test("round-4 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    // q_multimodal_meta: per-row byte work that never leaves the partition
    // — the ONLY exchange allowed is the final presentation sort's range
    // partitioning; a hash shuffle here would mean the decode kernels
    // stopped being projection-shaped
    val mmShuffles = plans("q_multimodal_meta").collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(mmShuffles.isEmpty,
      s"q_multimodal_meta: unexpected hash exchange(s):\n${mmShuffles.mkString("\n")}")
    // q_pq_topk / q_ivf_topk: every join rides a broadcast (1-row query,
    // KB codebook LUT, centroid routing, tiny candidate page) — a shuffled
    // join would mean the corpus started moving for a top-5 probe
    for (name <- Seq("q_pq_topk", "q_ivf_topk")) {
      val shuffledJoins = plans(name).filter { p =>
        p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
        p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]
      }
      assert(shuffledJoins.isEmpty,
        s"$name: shuffled join planned:\n${shuffledJoins.mkString("\n")}")
    }
    // q_stream_dedup: exactly one hash exchange (the fingerprint window's
    // key shuffle — the same single by-key shuffle the streaming state
    // store performs); more would mean the projection stopped collapsing
    val sdShuffles = plans("q_stream_dedup").collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(sdShuffles.size == 1,
      s"q_stream_dedup: expected exactly 1 hash exchange, got ${sdShuffles.size}")
  }

  test("round-7 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    def hashShuffles(name: String) = plans(name).collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    def joins(name: String) = plans(name).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    // fingerprint dedup: decode is per-row kernel work; the dedup itself
    // must be join-FREE — only the keyed aggregate(s) shuffle. A join
    // appearing here would mean the hash column stopped being scan-side.
    for (name <- Seq("q_image_dedup", "q_audio_dedup")) {
      assert(joins(name).isEmpty,
        s"$name: fingerprint dedup planned a join:\n${joins(name).mkString("\n")}")
      val n = hashShuffles(name).size
      assert(n <= 3, s"$name: expected <= 3 hash exchanges " +
        s"(count-distinct rewrite + keyed agg), got $n")
    }
    // cross-modal retrieval: the image-vector side must BROADCAST (60
    // encoder-output rows) — a shuffled join would mean raster-derived
    // data started moving with the corpus
    val cmShuffledJoins = plans("q_crossmodal_match").filter { p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec] ||
      p.isInstanceOf[org.apache.spark.sql.execution.joins.ShuffledHashJoinExec]
    }
    assert(cmShuffledJoins.isEmpty,
      s"q_crossmodal_match: shuffled join planned:\n${cmShuffledJoins.mkString("\n")}")
  }

  test("round-8 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.joins._
    // hamming pair search (image/audio/video): the blocked self-join must
    // be SHUFFLE_HASH — both sides are the whole corpus behind UDF-heavy
    // decode projections, and a broadcast build would evaluate one full
    // side single-threaded (and can't exist at 100 TB); the engaged
    // mega-bucket cap shows up as a broadcast LEFT ANTI against the
    // (few, by definition) oversized keys
    for (name <- Seq("q_image_neardup", "q_audio_neardup", "q_video_neardup")) {
      val ps = plans(name)
      assert(ps.exists(_.isInstanceOf[ShuffledHashJoinExec]),
        s"$name: pair join is not shuffle_hash")
      val anti = ps.collect {
        case b: BroadcastHashJoinExec
          if b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => b
      }
      assert(anti.nonEmpty, s"$name: the maxBucket cap's broadcast " +
        "anti-join is missing — the cap stopped being engaged")
    }
    // incremental mine: same two shapes — the batch×(index ∪ batch) join
    // shuffles on the chunk key, the cap anti-joins broadcast
    val incr = plans("q_image_neardup_incremental")
    assert(incr.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "q_image_neardup_incremental: batch×index join is not shuffle_hash")
    assert(incr.exists {
      case b: BroadcastHashJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }, "q_image_neardup_incremental: cap anti-join missing")
    // ANN-routed cross-modal: the probe page is the ONLY broadcast build;
    // the image store side must never move through a shuffled join (at
    // scale it is the partition-pruned store read)
    val cma = plans("q_crossmodal_ann").filter { p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
    }
    assert(cma.isEmpty,
      s"q_crossmodal_ann: shuffled join planned:\n${cma.mkString("\n")}")
    // cross-container video dedup and the cap drop-audit are aggregate-
    // only shapes: per-row kernel work + map-side-combined rollups —
    // any join appearing means fingerprint/census columns stopped being
    // scan-side
    for (name <- Seq("q_video_dedup", "q_dedup_cap_audit")) {
      val joins = plans(name).filter(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
      assert(joins.isEmpty,
        s"$name: aggregate-only query planned a join:\n${joins.mkString("\n")}")
    }
  }

  test("round-9 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.joins._
    // incremental audio/video mine: the q_image_neardup_incremental
    // shapes at their geometries — the batch×(index ∪ batch) join
    // shuffles on the chunk key, the engaged cap anti-joins broadcast
    for (name <- Seq("q_audio_neardup_incremental",
        "q_video_neardup_incremental")) {
      val ps = plans(name)
      assert(ps.exists(_.isInstanceOf[ShuffledHashJoinExec]),
        s"$name: batch×index join is not shuffle_hash")
      assert(ps.exists {
        case b: BroadcastHashJoinExec =>
          b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
        case _ => false
      }, s"$name: cap anti-join missing — the cap stopped being engaged")
    }
    // cosine ANN-routed cross-modal: same no-shuffled-store pin as the
    // linear sibling — the probe page and the closure side broadcast,
    // the image store must never move through a shuffled join
    val cmc = plans("q_crossmodal_ann_cos").filter { p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
    }
    assert(cmc.isEmpty,
      s"q_crossmodal_ann_cos: shuffled join planned:\n${cmc.mkString("\n")}")
    // q_dedup_cap_recall's returned frame is the recall report over
    // checkpointed pair legs, so its operators (hammingPairsFromIndex /
    // SalvageEdges) are pinned where they run: the shuffle_hash +
    // broadcast-anti shapes above and in the round-8 test; ModulesSpec
    // pins salvage semantics.
  }

  test("round-10 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.joins._
    // wide-family embedding pair face: the blocked self-join must stay
    // shuffle_hash (pairJoin's discipline — both sides are the corpus
    // behind a bucket UDF projection; a broadcast build can't exist at
    // 100 TB), exactly like the legacy-family q_dedup_embed
    assert(plans("q_dedup_embed_wide").exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "q_dedup_embed_wide: pair join is not shuffle_hash")
    // incremental embedding mine: the batch×(store ∪ batch) join shuffles
    // on the wide bucket key; the engaged post-batch cap anti-joins
    // broadcast — the q_image_neardup_incremental shapes on the vector face
    val incr = plans("q_embed_neardup_incremental")
    assert(incr.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "q_embed_neardup_incremental: batch×store join is not shuffle_hash")
    assert(incr.exists {
      case b: BroadcastHashJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
      case _ => false
    }, "q_embed_neardup_incremental: cap anti-join missing — the cap " +
      "stopped being engaged")
    // wide ANN dial sweep + wide-store serving: every join rides a
    // broadcast (probe page, exact-top-k intersection, 1-row census) —
    // a shuffled join would mean the corpus started moving for a tuning
    // measurement / a top-5 probe
    for (name <- Seq("q_ann_wide_tuning", "q_ann_wide_topk")) {
      val tun = plans(name).filter { p =>
        p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
      }
      assert(tun.isEmpty,
        s"$name: shuffled join planned:\n${tun.mkString("\n")}")
    }
    // q_dedup_apply_salvaged consumes hammingPairsFromIndex +
    // hammingSalvageEdges (their shuffle_hash + broadcast-anti/semi
    // shapes are pinned in the round-8 test and the salvage-tier tests)
    // through Dedup.clusters, whose vertex-set-only propagation is
    // pinned semantically in ModulesSpec — no new plan shape to pin here.
  }

  test("round-11 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.joins._
    // multi-probe store serving: the probed bucket IN-set is a STATIC
    // filter on the store side, so the candidate page joins NOTHING but
    // the broadcast 1-row query — a shuffled join here would mean the
    // store started moving for a top-5 probe (the partition-pruning half
    // of the claim is pinned against a PERSISTED store in ModulesSpec;
    // catalog queries build the store inline, where only the plan shape
    // is observable)
    val probed = plans("q_ann_wide_topk_probed").filter { p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
    }
    assert(probed.isEmpty,
      s"q_ann_wide_topk_probed: shuffled join planned:\n${probed.mkString("\n")}")
    // batch serving from the persisted store: the exploded probe set
    // BROADCASTS against the store — the store side must never move
    // through a shuffle (queries replicate; the corpus stays in place,
    // which is what makes the store consumable at 100 TB)
    val idx = plans("q_knn_join_indexed")
    val idxShuffled = idx.filter { p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
    }
    assert(idxShuffled.isEmpty,
      s"q_knn_join_indexed: store moved through a shuffled join:\n${idxShuffled.mkString("\n")}")
    assert(idx.exists {
      case b: BroadcastHashJoinExec => true
      case _ => false
    }, "q_knn_join_indexed: probe join is not a broadcast")
  }

  test("round-12 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.joins._
    // batch serving from the persisted IVF store: the exploded
    // (query, list) probe pairs BROADCAST against the store — the store
    // side must never move through a shuffle (queries replicate; the
    // corpus stays in place on its list_id partitioning, which is what
    // makes the centroid-routed layout consumable at 100 TB). The
    // per-query rank window shuffles only the already-probed candidate
    // page, keyed by query id — not the store.
    val ivfj = plans("q_ivf_join_indexed")
    val ivfjShuffled = ivfj.filter { p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
    }
    assert(ivfjShuffled.isEmpty,
      s"q_ivf_join_indexed: store moved through a shuffled join:\n" +
        ivfjShuffled.mkString("\n"))
    assert(ivfj.exists {
      case _: BroadcastHashJoinExec => true
      case _ => false
    }, "q_ivf_join_indexed: probe join is not a broadcast")
  }

  test("round-13 queries keep their scale-critical plan shapes") {
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.execution.aggregate.{
      HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // batch serving from the persisted PQ code table: the queries (with
    // their ADC lookup tables) BROADCAST into the one store scan — the
    // store side must never move through a shuffled join — and the
    // per-query over-fetch page must reduce through a PARTIAL aggregate
    // before the exchange (the map-side candidate heap; a window here
    // would shuffle the whole |store|×|queries| scored product instead
    // of ≤ queries × partitions × page buffers).
    val pqj = plans("q_pq_join_indexed")
    val pqjShuffled = pqj.filter { p =>
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]
    }
    assert(pqjShuffled.isEmpty,
      s"q_pq_join_indexed: store moved through a shuffled join:\n" +
        pqjShuffled.mkString("\n"))
    assert(pqj.exists {
      case _: BroadcastNestedLoopJoinExec => true
      case _: BroadcastHashJoinExec => true
      case _ => false
    }, "q_pq_join_indexed: query join is not a broadcast")
    val partialHeap = pqj.exists {
      case a: ObjectHashAggregateExec =>
        a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
      case a: SortAggregateExec =>
        a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
      case a: HashAggregateExec =>
        a.aggregateExpressions.exists(_.mode ==
          org.apache.spark.sql.catalyst.expressions.aggregate.Partial)
      case _ => false
    }
    assert(partialHeap,
      "q_pq_join_indexed: candidate heap is not partial-aggregated " +
        "map-side — the scored product would cross the exchange whole")
  }

  test("minhash salvage tier keeps its scale-critical plan shapes") {
    // q_dedup_lsh_recall checkpoints its pair legs, so the tier is pinned at
    // the OPERATOR level: the two key gates (oversized buckets, rep-
    // pairable buckets) must broadcast their small-by-construction key
    // sets as semi builds, and the rep pair join must inherit pairJoin's
    // shuffle_hash discipline — both its sides derive from the
    // distributed signature table and can never be broadcast at 100 TB
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), col("text"))
    val sigs = Dedup.minhashSignatures(docs, "id", "text", k = 16, shingleN = 3)
    val ps = walk(Dedup.minhashSalvageVerifiedPairs(sigs, k = 16, bands = 4,
        threshold = 0.6, maxBucket = 8, maxReps = 8)
      .queryExecution.executedPlan)
    val semis = ps.collect {
      case b: BroadcastHashJoinExec
        if b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => b
    }
    assert(semis.size >= 2,
      s"expected the two broadcast semi key gates, got ${semis.size}")
    assert(ps.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "rep pairJoin is not shuffle_hash")
    assert(!ps.exists(_.isInstanceOf[CartesianProductExec]),
      "salvage tier planned a cartesian product")
  }

  test("embedding salvage tier keeps its scale-critical plan shapes") {
    // q_embed_cap_recall checkpoints its pair legs like its siblings, so
    // the tier is pinned at the OPERATOR level: the oversized-block
    // census must gate through a broadcast semi (tiny key list — a
    // window THERE would shuffle the whole corpus with its embeddings),
    // the post-census fine census/rep rides WINDOWS over one exchange
    // of the restricted mega set (the aggregate-then-join-back variant
    // A/B'd ~20x slower — every join side re-derived the mega subplan),
    // and the pair joins inherit pairJoin's shuffle_hash discipline
    import org.apache.spark.sql.execution.joins._
    import org.apache.spark.sql.functions.col
    import graft.operators.{AnnIndex, Dedup}
    val embs = AnnIndex.withBucket(
      graft.core.Tables.embeddings(spark, sf)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("emb")),
      "emb", 64, 8)
    val ps = walk(Dedup.embeddingSalvageEdges(embs, "id", "emb", "bucket",
        threshold = 0.99, maxBucket = 8, maxReps = 8)
      .queryExecution.executedPlan)
    assert(ps.exists {
      case b: BroadcastHashJoinExec =>
        b.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }, "oversized-block census is not a broadcast semi gate")
    assert(ps.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.window.WindowExec]),
      "fine census/rep must ride a window over the mega exchange")
    assert(ps.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "sub-bucket pairJoin is not shuffle_hash")
    assert(!ps.exists(_.isInstanceOf[CartesianProductExec]),
      "embedding salvage planned a cartesian product")
  }

  test("partitioned parquet layout prunes partitions at the scan") {
    // S10's other half: the 'index build' at 100 TB is a partitioned
    // layout; a filter on the partition column must plan a pruned scan
    // (partition pruning), not read-everything-then-filter
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    graft.core.Tables.documents(spark, sf)
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("source") === "src1")
    df.collect()
    val scans = walk(df.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val s = scans.head
    assert(s.partitionFilters.nonEmpty, "no partition filters planned")
    // selectedPartitions is lazy/private-ish across versions; the metadata
    // partition count proves pruning happened (1 of 20 sources selected)
    val n = s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
      .map(_.files.size).sum
    assert(n >= 1 && n < 20, s"expected a pruned file set, scanned $n files")
  }
}
