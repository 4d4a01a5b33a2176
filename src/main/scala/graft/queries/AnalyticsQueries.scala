package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.functions.{advice, geo, hours, text, vectors, DuckDialect => D, SparkDialect => S}
import graft.operators.{AnnIndex, GeoSearch, VectorSearch}
import graft.plans.Shared.share

/** The remaining reference-operator families as oracle-backed queries:
  * nearest-k geo join (J3/W2), full hybrid search (G1-G5), regex extraction
  * (X6), JSON field extraction (X7), hours parsing (X8), reminder-schedule
  * generation (T4/D4), adherence aggregates (A2/A3), sessionization and
  * daily windows (T1-T3 batch twins), abnormality rules (X16), dashboard
  * fan-out (entry point 3), ANN top-k and the deterministic embedder (G6/G7).
  */
object AnalyticsQueries {

  private val synthLatC = geo.synthLatSql("c_custkey")
  private val synthLonC = geo.synthLonSql("c_custkey")
  private val synthLatS = geo.synthLatSql("(s_suppkey * 13)")
  private val synthLonS = geo.synthLonSql("(s_suppkey * 13)")
  private val synthLatV = geo.synthLatSql("vec_id")
  private val synthLonV = geo.synthLonSql("vec_id")

  /** q_corr_stats final math, rendered from EXACT integer moments with the
    * byte-identical expression in both engines (CAST/sqrt/floor parse the
    * same in Spark SQL and DuckDB): n*Sxy - Sx*Sy over the sqrt'd variance
    * terms. Each CAST(int AS DOUBLE) is correctly rounded from the same
    * exact integer on both sides, and double arithmetic with identical
    * operation order is IEEE-deterministic. */
  private val CorrNum =
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
  private val VarX =
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
  private val VarY =
    "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
  private val CorrExpr = s"$CorrNum / (sqrt($VarX) * sqrt($VarY))"
  private val SlopeExpr = s"$CorrNum / $VarX"

  /** The batch ANN gates' exact per-query cosine top-3 of `corpus`
    * against `queries` (both vec_id, emb) — the replayable half of
    * q_ivf_join_indexed and q_pq_join_indexed, a lazy subtree of the
    * returned plan: (neighbor_id, ce, query_id, qe, sim, rnk). */
  private def exactTop3PerQuery(corpus: DataFrame, queries: DataFrame)
      : DataFrame =
    corpus
      .select(col("vec_id").as("neighbor_id"), col("emb").as("ce"))
      .crossJoin(broadcast(queries
        .select(col("vec_id").as("query_id"), col("emb").as("qe"))))
      .withColumn("sim", vectors.cosineSim(col("ce"), col("qe")))
      .withColumn("rnk", row_number().over(Window.partitionBy("query_id")
        .orderBy(desc("sim"), col("neighbor_id"))))
      .filter(col("rnk") <= 3)

  /** The point ANN gates' exact cosine top-5 of `corpus` (vec_id, label,
    * emb) against the 1-row `q` (qe) — the replayable half of q_pq_topk,
    * q_ivf_topk and q_ivfpq_topk, a lazy subtree of the returned plan. */
  private def exactTop5(corpus: DataFrame, q: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(q))
      .withColumn("similarity", vectors.cosineSim(col("emb"), col("qe")))
      .orderBy(desc("similarity"), col("vec_id"))
      .limit(5)
      .select(col("vec_id"), col("label"),
        expr(text.fixedPoint("similarity", 4)).as("sim_x10k"))

  val all: Seq[Q] = Seq(

    Q("q_nearest_k",
      "J3/W2: per-customer 3 nearest suppliers within 50 km — one range join " +
        "+ window, replacing the reference's N+1 radius-query loop " +
        "(main.py:466-475); supplier key breaks distance ties deterministically",
      Some(s"""SELECT c_custkey, s_suppkey, ${text.fixedPoint("distance_km", 2)} AS dist_x100,
              |       rank_nearest
              |FROM (
              |  SELECT c_custkey, s_suppkey, distance_km,
              |    row_number() OVER (PARTITION BY c_custkey
              |                       ORDER BY distance_km, s_suppkey) AS rank_nearest
              |  FROM (
              |    SELECT c.c_custkey, s.s_suppkey,
              |      ${geo.haversineKmSql(s"c.lat", "c.lon", "s.lat", "s.lon")} AS distance_km
              |    FROM (SELECT c_custkey, $synthLatC AS lat, $synthLonC AS lon
              |          FROM customer WHERE c_custkey <= 50) c
              |    JOIN (SELECT s_suppkey, $synthLatS AS lat, $synthLonS AS lon
              |          FROM supplier) s ON true)
              |  WHERE distance_km <= 50.0)
              |WHERE rank_nearest <= 3
              |ORDER BY c_custkey, rank_nearest""".stripMargin)) { (s, dir) =>
      val left = customer(s, dir).filter(col("c_custkey") <= 50)
        .select(col("c_custkey"),
          geo.synthLat(col("c_custkey")).as("lat"),
          geo.synthLon(col("c_custkey")).as("lon"))
      val right = supplier(s, dir)
        .select(col("s_suppkey"),
          geo.synthLat(col("s_suppkey") * 13).as("lat"),
          geo.synthLon(col("s_suppkey") * 13).as("lon"))
      GeoSearch.nearestK(left, right, "c_custkey", "lat", "lon",
          "s_suppkey", "lat", "lon", k = 3, maxKm = 50.0)
        .select(col("c_custkey"), col("s_suppkey"),
          expr(text.fixedPoint("distance_km", 2)).as("dist_x100"),
          col("rank_nearest").cast("long").as("rank_nearest"))
        .orderBy("c_custkey", "rank_nearest")
    },

    Q("q_geo_pairs",
      "Large x large spatial pair join (GeoSearch.gridPairs): all supplier " +
        "pairs within 60 km via grid blocking — one side replicated to its " +
        "3x3 cell neighborhood, the other home-only, so every qualifying " +
        "pair meets in exactly one cell and the quadratic never leaves a " +
        "cell neighborhood (the geo analog of the LSH band join). Oracle " +
        "states the same pairs as a direct distance theta-join — fine at " +
        "oracle scale, the very plan this operator exists to avoid at 100 TB",
      Some {
        val latA = geo.synthLatSql("(a.s_suppkey * 13)")
        val lonA = geo.synthLonSql("(a.s_suppkey * 13)")
        val latB = geo.synthLatSql("(b.s_suppkey * 13)")
        val lonB = geo.synthLonSql("(b.s_suppkey * 13)")
        s"""SELECT a.s_suppkey AS a_id, b.s_suppkey AS b_id,
           |  ${text.fixedPoint(geo.haversineKmSql(latA, lonA, latB, lonB), 2)} AS dist_x100
           |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
           |WHERE ${geo.haversineKmSql(latA, lonA, latB, lonB)} <= 60.0
           |ORDER BY a_id, b_id""".stripMargin
      }) { (s, dir) =>
      val pts = supplier(s, dir).select(col("s_suppkey"),
        geo.synthLat(col("s_suppkey") * 13).as("lat"),
        geo.synthLon(col("s_suppkey") * 13).as("lon"))
      graft.operators.GeoSearch
        .gridPairs(pts, "s_suppkey", "lat", "lon", maxKm = 60.0, maxAbsLat = 34.0)
        .select(col("a_id"), col("b_id"),
          expr(text.fixedPoint("distance_km", 2)).as("dist_x100"))
        .orderBy("a_id", "b_id")
    },

    Q("q_hybrid_search",
      "G1→G4 end-to-end hybrid search: bbox+radius prune (50 km), x3 " +
        "over-fetch by distance, cosine re-rank vs query vec 0, distance " +
        "score 1 - d/radius (hybrid_search.py:164-167 normalizes by the " +
        "max_distance_km PARAMETER, not the observed max), combined " +
        "0.5*sim + 0.5*dist, top-10 (hybrid_search.py:36-197)",
      Some(s"""WITH pts AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
              |         $synthLatV AS lat, $synthLonV AS lon
              |  FROM embeddings),
              |q AS (SELECT emb AS qe FROM pts WHERE vec_id = 0),
              |cand AS (
              |  SELECT vec_id, label, emb,
              |    ${geo.haversineKmSql("lat", "lon", "32.5", "-116.5")} AS distance_km
              |  FROM pts
              |  WHERE ${geo.haversineKmSql("lat", "lon", "32.5", "-116.5")} <= 50.0
              |  ORDER BY distance_km, vec_id LIMIT 30),
              |scored AS (
              |  SELECT vec_id, label, distance_km,
              |    ${vectors.cosineSimSql("emb", "q.qe")} AS similarity
              |  FROM cand CROSS JOIN q)
              |SELECT vec_id, label,
              |  ${text.fixedPoint("distance_km", 2)} AS dist_x100,
              |  ${text.fixedPoint("similarity", 4)} AS sim_x10k,
              |  ${text.fixedPoint(
                   "similarity * 0.5 + (1.0 - distance_km / 50.0) * 0.5", 4)} AS combined_x10k
              |FROM scored
              |ORDER BY similarity * 0.5 + (1.0 - distance_km / 50.0) * 0.5 DESC,
              |         vec_id
              |LIMIT 10""".stripMargin)) { (s, dir) =>
      val pts = embeddings(s, dir).select(
        col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"),
        geo.synthLat(col("vec_id")).as("lat"),
        geo.synthLon(col("vec_id")).as("lon"))
      val q = pts.filter(col("vec_id") === 0).select(col("emb").as("qe"))
      val cand = GeoSearch.radiusSearch(pts, col("lat"), col("lon"),
          32.5, -116.5, 50.0, limit = 30, tieBreak = Seq("vec_id"))
        .crossJoin(broadcast(q))
      VectorSearch.hybridRerank(cand, "emb", "qe", "distance_km",
          maxDistance = 50.0, weight = 0.5, limit = 10, tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("label"),
          expr(text.fixedPoint("distance_km", 2)).as("dist_x100"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"),
          expr(text.fixedPoint("combined_score", 4)).as("combined_x10k"))
    },

    Q("q_ann_topk",
      "ANN top-5 via random-hyperplane LSH (6 planes): probe only the query's " +
        "bucket, exact cosine re-rank inside it — the 100 TB path where " +
        "brute-force KNN (q_knn) stops scaling",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
              |    ${AnnIndex.bucketSqlDuck("CAST(embedding AS DOUBLE[])", 64, 6)} AS bucket
              |  FROM embeddings),
              |q AS (SELECT emb AS qe, bucket AS q_bucket FROM corpus WHERE vec_id = 0)
              |SELECT vec_id, label, ${text.fixedPoint("similarity", 4)} AS sim_x10k FROM (
              |  SELECT c.vec_id, c.label,
              |    ${vectors.cosineSimSql("c.emb", "q.qe")} AS similarity
              |  FROM corpus c JOIN q ON c.bucket = q.q_bucket
              |  WHERE c.vec_id <> 0)
              |ORDER BY similarity DESC, vec_id
              |LIMIT 5""".stripMargin)) { (s, dir) =>
      val corpus = embeddings(s, dir).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      val q = corpus.filter(col("vec_id") === 0).select(col("emb").as("qe"))
      AnnIndex.annTopK(corpus.filter(col("vec_id") =!= 0), "emb", 64, 6,
          q, "qe", k = 5, tieBreak = Seq("vec_id"))
        .select(col("vec_id"), col("label"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"))
    },

    Q("q_ann_plane_family",
      "SELECTIVITY CENSUS of the two sign-LSH coefficient families — " +
        "the measure-before-building step for an ANN bucket layout: the " +
        "legacy family's mod-7 mix is periodic in BOTH indices, so it " +
        "holds at most 7 distinct hyperplanes and its bucket id caps at " +
        "2^7 = 128 effective buckets NO MATTER how many planes are " +
        "requested (bit 7 always mirrors bit 0) — at corpus scale a " +
        "probe can never touch less than ~1/128 of the data. The WIDE " +
        "family (prime modulus 2003, coprime multipliers) makes every " +
        "requested plane a genuinely distinct hyperplane. Both families " +
        "at planes=16 over the real embeddings: the legacy census must " +
        "sit at or under its ceiling while the wide one exceeds it — " +
        "legacy stays the default where it is already oracle-pinned; " +
        "new stores needing finer than 128-way blocking build wide.",
      Some(s"""WITH b AS (
              |  SELECT
              |    ${AnnIndex.bucketSqlDuck("CAST(embedding AS DOUBLE[])", 64, 16)} AS lb,
              |    ${AnnIndex.wideBucketSqlDuck("CAST(embedding AS DOUBLE[])", 64, 16)} AS wb
              |  FROM embeddings),
              |l AS (SELECT lb, count(*) AS n FROM b GROUP BY lb),
              |w AS (SELECT wb, count(*) AS n FROM b GROUP BY wb)
              |SELECT
              |  (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_legacy_buckets,
              |  (SELECT CAST(max(n) AS BIGINT) FROM l) AS max_legacy_bucket,
              |  (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wide_buckets,
              |  (SELECT CAST(max(n) AS BIGINT) FROM w) AS max_wide_bucket,
              |  (SELECT count(*) FROM l) <= 128 AS legacy_ceiling_hit,
              |  (SELECT count(*) FROM w) > (SELECT count(*) FROM l)
              |    AS wide_beats_legacy""".stripMargin)) { (s, dir) =>
      val b = embeddings(s, dir).select(
        AnnIndex.bucketExpr("embedding", 64, 16).as("lb"),
        AnnIndex.wideBucketExpr("embedding", 64, 16).as("wb"))
      val l = b.groupBy(col("lb")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_legacy_buckets"),
          max(col("n")).as("max_legacy_bucket"))
      val w = b.groupBy(col("wb")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_wide_buckets"),
          max(col("n")).as("max_wide_bucket"))
      l.crossJoin(w)
        .withColumn("legacy_ceiling_hit", col("n_legacy_buckets") <= 128)
        .withColumn("wide_beats_legacy",
          col("n_wide_buckets") > col("n_legacy_buckets"))
    },

    Q("q_knn_join",
      "ANN KNN JOIN (AnnIndex.annJoin): top-3 bucket-mates per query for 20 " +
        "query vectors in ONE plan — the batch form of q_ann_topk, and the " +
        "similarity-join shape embedding pipelines run corpus-vs-corpus. " +
        "Shuffle keyed by LSH bucket then by query id; no per-query jobs",
      Some(s"""WITH all_v AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              |    ${AnnIndex.bucketSqlDuck("CAST(embedding AS DOUBLE[])", 64, 4)} AS bucket
              |  FROM embeddings),
              |q AS (SELECT vec_id AS query_id, emb AS qe, bucket FROM all_v WHERE vec_id < 20),
              |c AS (SELECT vec_id AS neighbor_id, emb AS ce, bucket FROM all_v WHERE vec_id >= 20)
              |SELECT query_id, neighbor_id, ${text.fixedPoint("similarity", 4)} AS sim_x10k, rank
              |FROM (
              |  SELECT query_id, neighbor_id,
              |    ${vectors.cosineSimSql("ce", "qe")} AS similarity,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY ${vectors.cosineSimSql("ce", "qe")} DESC, neighbor_id) AS rank
              |  FROM q JOIN c USING (bucket))
              |WHERE rank <= 3
              |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
      val all = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      AnnIndex.annJoin(
          all.filter(col("vec_id") < 20), "vec_id", "emb",
          all.filter(col("vec_id") >= 20), "vec_id", "emb",
          // the deliberate LEGACY-family face (q_knn_join_wide covers the
          // wide default); this oracle pins the legacy coefficients
          dim = 64, planes = 4, k = 3, wide = false)
        .select(col("query_id"), col("neighbor_id"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Q("q_ann_wide_topk",
      "ANN top-5 served from the WIDE-family persisted store " +
        "(Dedup.embeddingBucketIndex at 12 planes through " +
        "AnnIndex.annTopKWideIndexed): the query is hashed with the wide " +
        "family and the store's emb_sig geometry token is verified at " +
        "call time over the PROBED SLICE the query reads anyway (an " +
        "empty slice escalates to one full-store check — the loud " +
        "verdict on a foreign-family store) — q_ann_topk's serving " +
        "shape on the blocking new stores actually use, where the " +
        "legacy family's 128-bucket ceiling cannot reach (2^12 genuine " +
        "buckets here; at scale the bucket join is the DPP-pruned read " +
        "of the store partitioned by bucket, PlanGuardSpec's " +
        "annTopKIndexed pin's geometry)",
      Some(s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id <> 0),
              |q AS (SELECT qe,
              |  ${AnnIndex.wideBucketSqlDuck("qe", 64, 12)} AS qb FROM (
              |  SELECT CAST(embedding AS DOUBLE[]) AS qe
              |  FROM embeddings WHERE vec_id = 0)),
              |b AS (SELECT vec_id, emb,
              |  ${AnnIndex.wideBucketSqlDuck("emb", 64, 12)} AS bucket FROM c)
              |SELECT vec_id, ${text.fixedPoint("sim", 4)} AS sim_x10k FROM (
              |  SELECT b.vec_id, ${vectors.cosineSimSql("b.emb", "q.qe")} AS sim
              |  FROM b JOIN q ON b.bucket = q.qb)
              |ORDER BY sim DESC, vec_id
              |LIMIT 5""".stripMargin)) { (s, dir) =>
      import graft.operators.Dedup
      val e = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val store = Dedup.embeddingBucketIndex(e.filter(col("vec_id") =!= 0),
        "vec_id", "emb", dim = 64, planes = 12)
      AnnIndex.annTopKWideIndexed(store, "emb", dim = 64, planes = 12,
          e.filter(col("vec_id") === 0).select(col("emb").as("qe")), "qe",
          k = 5, tieBreak = Seq("id"))
        .select(col("id").as("vec_id"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"))
    },

    Q("q_ann_wide_tuning",
      "WIDE-family ANN dial sweep (AnnIndex.annTuning) — the " +
        "q_ivf_tuning measure-before-committing discipline for the " +
        "sign-LSH serving path, so a NEW store gets its (planes, " +
        "probeBits) dial from a measurement instead of folklore: per " +
        "cell, the candidate volume the probe touches (the partition-" +
        "pruned read of a persisted wide-bucket store at 100 TB) and " +
        "recall@5 against the exact cosine top-5. At fixed planes the " +
        "probe sets are NESTED (probe 1 adds every one-sign-flip " +
        "bucket, probe 2 the C(planes,2) double flips — the dial that " +
        "makes HIGH plane counts servable), so candidates and hits are " +
        "non-decreasing in probeBits — the theorem the oracle pins — " +
        "while across planes the cost/recall trade-off is the " +
        "measurement itself. The selectivity lever the legacy family " +
        "lacks: at planes=12 a probe-0 cell touches ~1/4096 of the " +
        "corpus, finer than the legacy family's hard 1/128 ceiling " +
        "(q_ann_plane_family); the (20, 2) cell probes 211 of 2^20 " +
        "buckets — the store geometry q_dedup_embed_wide blocks on, " +
        "priced for serving",
      Some {
        def cos(a: String, b: String) = vectors.cosineSimSql(a, b)
        def cell(p: Int, pb: Int): String = {
          val probes = AnnIndex.probeSetSqlDuck("qb", p, pb)
          s"""(WITH bp AS (SELECT vec_id, emb,
             |    ${AnnIndex.wideBucketSqlDuck("emb", 64, p)} AS bk FROM c),
             |  qp AS (SELECT qe, $probes AS pr FROM (
             |    SELECT qe, ${AnnIndex.wideBucketSqlDuck("qe", 64, p)} AS qb
             |    FROM q)),
             |  cd AS (SELECT b.vec_id, b.emb, q.qe FROM bp b JOIN qp q
             |    ON list_contains(q.pr, b.bk)),
             |  tk AS (SELECT vec_id FROM (
             |    SELECT vec_id, ${cos("emb", "qe")} AS s FROM cd
             |    ORDER BY s DESC, vec_id LIMIT 5))
             |  SELECT CAST($p AS BIGINT) AS planes,
             |    CAST($pb AS BIGINT) AS probe_bits,
             |    (SELECT CAST(count(*) AS BIGINT) FROM cd) AS n_candidates,
             |    (SELECT CAST(count(*) AS BIGINT) FROM tk
             |       WHERE EXISTS (SELECT 1 FROM ex WHERE ex.vec_id = tk.vec_id))
             |      AS n_hits)""".stripMargin
        }
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           |  FROM embeddings WHERE vec_id <> 0),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
           |  FROM embeddings WHERE vec_id = 0),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM c),
           |ex AS (SELECT vec_id FROM (
           |  SELECT c.vec_id, ${cos("c.emb", "q.qe")} AS s
           |  FROM c CROSS JOIN q
           |  ORDER BY s DESC, vec_id LIMIT 5)),
           |cells AS (
           |  ${Seq((6, 0), (6, 1), (12, 0), (12, 1), (12, 2), (20, 2))
               .map { case (p, pb) => cell(p, pb) }
               .mkString("\n  UNION ALL\n  ")})
           |SELECT planes, probe_bits, n_candidates, n_corpus, n_hits,
           |  ${text.fixedPoint("CAST(n_hits AS DOUBLE) / 5", 4)}
           |    AS recall_x10k,
           |  ${text.fixedPoint(
                "CAST(n_candidates AS DOUBLE) / greatest(n_corpus, 1)", 4)}
           |    AS cand_frac_x10k
           |FROM cells CROSS JOIN n
           |ORDER BY planes, probe_bits""".stripMargin
      }) { (s, dir) =>
      val e = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      AnnIndex.annTuning(e.filter(col("vec_id") =!= 0), "emb", "vec_id",
        e.filter(col("vec_id") === 0).select(col("emb").as("qe")), "qe",
        dim = 64, k = 5,
        cells = Seq((6, 0), (6, 1), (12, 0), (12, 1), (12, 2), (20, 2)))
    },

    Q("q_knn_join_wide",
      "q_knn_join on the WIDE plane family at 12 planes with 1-bit " +
        "multi-probe (AnnIndex.annJoin wide=true): the batch " +
        "similarity-join face of the wide-family story — blocking a " +
        "corpus-vs-corpus join finer than the legacy family's 128-bucket " +
        "ceiling allows, with the probe radius buying back recall " +
        "(q_ann_wide_tuning prices the dial). Same one-plan shape: " +
        "shuffle keyed by bucket, per-query window, no per-query jobs",
      Some(s"""WITH all_v AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              |    ${AnnIndex.wideBucketSqlDuck("CAST(embedding AS DOUBLE[])", 64, 12)} AS bucket
              |  FROM embeddings),
              |q AS (SELECT vec_id AS query_id, emb AS qe,
              |  ${AnnIndex.probeSetSqlDuck("bucket", 12, 1)} AS pr
              |  FROM all_v WHERE vec_id < 20),
              |c AS (SELECT vec_id AS neighbor_id, emb AS ce, bucket
              |  FROM all_v WHERE vec_id >= 20)
              |SELECT query_id, neighbor_id, ${text.fixedPoint("similarity", 4)} AS sim_x10k, rank
              |FROM (
              |  SELECT query_id, neighbor_id,
              |    ${vectors.cosineSimSql("ce", "qe")} AS similarity,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY ${vectors.cosineSimSql("ce", "qe")} DESC, neighbor_id) AS rank
              |  FROM q JOIN c ON list_contains(q.pr, c.bucket))
              |WHERE rank <= 3
              |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
      val all = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      AnnIndex.annJoin(
          all.filter(col("vec_id") < 20), "vec_id", "emb",
          all.filter(col("vec_id") >= 20), "vec_id", "emb",
          dim = 64, planes = 12, k = 3, probeBits = 1, wide = true)
        .select(col("query_id"), col("neighbor_id"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Q("q_ann_wide_topk_probed",
      "q_ann_wide_topk with the multi-probe dial ENGAGED (AnnIndex." +
        "annTopKWideIndexed probeBits=2 at 12 planes): the serving gap " +
        "q_ann_wide_tuning exposed, closed — the sweep prices (12, 2) " +
        "but a probe-0 store read could not buy that recall without " +
        "abandoning the store for inline re-hashing. The probed bucket " +
        "ids come from the SAME probeSetExpr builder the tuning sweep " +
        "and annJoin use (one 1-row job) and land as a STATIC bucket IN " +
        "(...) filter, so a store partitioned by bucket is pruned at " +
        "planning — 79 of 2^12 partitions here, literal PartitionFilters " +
        "in the plan, no dynamic-pruning machinery to trust — and the " +
        "candidate page needs no bucket join at all (every surviving " +
        "row belongs to the one query). ModulesSpec pins that this " +
        "path's recall EQUALS the tuning sweep's (12, 2) cell",
      Some(s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id <> 0),
              |q AS (SELECT qe, ${AnnIndex.probeSetSqlDuck("qb", 12, 2)} AS pr
              |  FROM (SELECT qe, ${AnnIndex.wideBucketSqlDuck("qe", 64, 12)} AS qb
              |    FROM (SELECT CAST(embedding AS DOUBLE[]) AS qe
              |      FROM embeddings WHERE vec_id = 0))),
              |b AS (SELECT vec_id, emb,
              |  ${AnnIndex.wideBucketSqlDuck("emb", 64, 12)} AS bucket FROM c)
              |SELECT vec_id, ${text.fixedPoint("sim", 4)} AS sim_x10k FROM (
              |  SELECT b.vec_id, ${vectors.cosineSimSql("b.emb", "q.qe")} AS sim
              |  FROM b JOIN q ON list_contains(q.pr, b.bucket))
              |ORDER BY sim DESC, vec_id
              |LIMIT 5""".stripMargin)) { (s, dir) =>
      import graft.operators.Dedup
      val e = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val store = Dedup.embeddingBucketIndex(e.filter(col("vec_id") =!= 0),
        "vec_id", "emb", dim = 64, planes = 12)
      AnnIndex.annTopKWideIndexed(store, "emb", dim = 64, planes = 12,
          e.filter(col("vec_id") === 0).select(col("emb").as("qe")), "qe",
          k = 5, tieBreak = Seq("id"), probeBits = 2)
        .select(col("id").as("vec_id"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"))
    },

    Q("q_knn_join_indexed",
      "Batch KNN join served FROM the persisted wide-family store " +
        "(AnnIndex.annJoinIndexed at 12 planes, probe 2): q_knn_join_wide's " +
        "one-plan shape, but the corpus side is a Dedup.embeddingBucketIndex " +
        "build consumed AS-IS — never re-bucketed (annJoin re-hashes both " +
        "sides inline every call; here only the 20 queries hash), its " +
        "emb_sig geometry verified by the call-time min/max + null-count " +
        "aggregate. The exploded probe set BROADCASTS, so the store never " +
        "moves through a shuffle (PlanGuardSpec pins it) and the bucket " +
        "equality stays prunable on a bucket-partitioned store; per-query " +
        "ranking is one window keyed by query id",
      Some(s"""WITH all_v AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
              |    ${AnnIndex.wideBucketSqlDuck("CAST(embedding AS DOUBLE[])", 64, 12)} AS bucket
              |  FROM embeddings),
              |q AS (SELECT vec_id AS query_id, emb AS qe,
              |  ${AnnIndex.probeSetSqlDuck("bucket", 12, 2)} AS pr
              |  FROM all_v WHERE vec_id < 20),
              |c AS (SELECT vec_id AS neighbor_id, emb AS ce, bucket
              |  FROM all_v WHERE vec_id >= 20)
              |SELECT query_id, neighbor_id, ${text.fixedPoint("similarity", 4)} AS sim_x10k, rank
              |FROM (
              |  SELECT query_id, neighbor_id,
              |    ${vectors.cosineSimSql("ce", "qe")} AS similarity,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY ${vectors.cosineSimSql("ce", "qe")} DESC, neighbor_id) AS rank
              |  FROM q JOIN c ON list_contains(q.pr, c.bucket))
              |WHERE rank <= 3
              |ORDER BY query_id, rank""".stripMargin)) { (s, dir) =>
      import graft.operators.Dedup
      val all = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      // store stand-in (graft.plans.Shared); as a leaf it also keeps the
      // inferred isnotnull(bucket) off a live bucket-UDF projection
      val store = Dedup.embeddingBucketIndex(all.filter(col("vec_id") >= 20),
        "vec_id", "emb", dim = 64, planes = 12).localCheckpoint()
      AnnIndex.annJoinIndexed(
          all.filter(col("vec_id") < 20), "vec_id", "emb",
          store, dim = 64, planes = 12, k = 3, probeBits = 2)
        .select(col("query_id"), col("neighbor_id"),
          expr(text.fixedPoint("similarity", 4)).as("sim_x10k"),
          col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    },

    Q("q_ivf_join_indexed",
      "Batch KNN join served FROM the persisted IVF store (AnnIndex." +
        "ivfJoinIndexed, 16 SPHERICAL lists — fit/assigned/routed on " +
        "L2-normalized vectors, the q_crossmodal_ann_cos recipe, since " +
        "euclidean routing on the unit sphere IS cosine routing — " +
        "nProbe=10): q_knn_join_indexed's " +
        "store-consuming shape on the centroid-routed layout — " +
        "q_ivf_topk previously meant one driver invocation per query, " +
        "where a query TABLE wants one plan. nProbe=10 is the MEASURED " +
        "dial, not folklore: the probe sweep on this corpus read " +
        "min-per-query hits of 0-1/3 at nProbe=4-8 and 2-3/3 at 10 " +
        "across all three SFs — near-uniform random directions are " +
        "ANN's worst case (no cluster structure for the centroids to " +
        "exploit), so the probe fraction this fixture needs is an " +
        "upper bound on what structured embeddings would. Each of the " +
        "20 queries routes to its own 10 nearest lists (one broadcast " +
        "cross join against the 16-centroid table + a per-query window " +
        "— the same " +
        "(dist2, list_id) order the single-query probeLists uses), the " +
        "exploded (query, list) probe pairs BROADCAST into the list " +
        "join, and the store is consumed AS-IS: never re-assigned, " +
        "never shuffled (PlanGuardSpec pins it), its ivf_sig verified " +
        "by the full-store aggregate amortized over the batch. KMeans " +
        "routing is engine-specific, so the sketch pattern applies " +
        "(q_crossmodal_ann's): output is the EXACT per-query cosine " +
        "top-3 — which DuckDB computes identically — plus recall_ok = " +
        "the routed page recovered >= 2 of that query's true top-3. " +
        "TRIAGE: recall_ok=false on new data means probe width vs " +
        "list granularity (raise nProbe), not an engine bug",
      Some(s"""WITH all_v AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings),
              |q AS (SELECT vec_id AS query_id, emb AS qe
              |  FROM all_v WHERE vec_id < 20),
              |c AS (SELECT vec_id AS neighbor_id, emb AS ce
              |  FROM all_v WHERE vec_id >= 20),
              |r AS (SELECT query_id, neighbor_id,
              |    ${vectors.cosineSimSql("ce", "qe")} AS sim,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY ${vectors.cosineSimSql("ce", "qe")} DESC,
              |        neighbor_id) AS rnk
              |  FROM q CROSS JOIN c)
              |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
              |  ${text.fixedPoint("sim", 4)} AS sim_x10k, TRUE AS recall_ok
              |FROM r WHERE rnk <= 3
              |ORDER BY query_id, rnk""".stripMargin)) { (s, dir) =>
      // the spherical-IVF recipe (q_crossmodal_ann_cos's measured
      // lesson): the score is COSINE, so fit/assign/route on the
      // L2-NORMALIZED vectors — direction is what cosine ranks, and on
      // the unit sphere ivfJoinIndexed's euclidean routing IS cosine
      // routing (dist² = 2 − 2·cos). Raw-vector lists mis-route
      // norm-skewed queries (measured under the ≥2/3 recall bound at
      // this very probe width). The normalized store only feeds
      // ROUTING + membership; the reported sims come from the exact
      // baseline below, so the output stays bit-identical to the oracle
      val all = embeddings(s, dir).select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("__n", vectors.l2Norm(col("emb")))
        .withColumn("sv", expr("transform(emb, x -> x / greatest(__n, 1e-12d))"))
      val queries = all.filter(col("vec_id") < 20)
      val corpus = all.filter(col("vec_id") >= 20)
      // same quarter-sample routing fit as q_ivf_topk — once-offline at
      // scale, and what keeps the bench cost at the serving path
      val model = AnnIndex.ivfFit(
        corpus.filter(col("vec_id") % 4 === 1), "sv", nLists = 16)
      // store stand-in (graft.plans.Shared): the list_id-partitioned store
      val store = AnnIndex.ivfStore(model,
        corpus.select(col("vec_id"), col("sv")), "sv").localCheckpoint()
      val routed = AnnIndex.ivfJoinIndexed(queries, "vec_id", "sv",
          model, store, "vec_id", "sv", k = 3, nProbe = 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exactTop3PerQuery(corpus, queries)
        .join(broadcast(routed), Seq("query_id", "neighbor_id"), "left")
        .withColumn("nhit",
          sum(coalesce(col("hit"), lit(0L)))
            .over(Window.partitionBy("query_id")))
        .select(col("query_id"), col("rnk").cast("long").as("rnk"),
          col("neighbor_id"),
          expr(text.fixedPoint("sim", 4)).as("sim_x10k"),
          (col("nhit") >= 2).as("recall_ok"))
        .orderBy("query_id", "rnk")
    },

    Q("q_pq_join_indexed",
      "Batch KNN join served FROM the persisted PQ code table " +
        "(Quantize.pqJoinIndexed, m=8 x 32 centroids, overFetch=64): " +
        "q_ivf_join_indexed's one-plan query-TABLE shape for the PQ " +
        "family — q_pq_topk previously meant one driver invocation (and " +
        "one full code scan) per query. The PQ table is FLAT by design " +
        "(ADC is a whole-table code scan — no routing layout to prune; " +
        "that is IVFPQ's addition), so the scale shape is: the 20 " +
        "queries broadcast WITH their ADC lookup tables, the code table " +
        "scans ONCE for the whole batch, and the per-query over-fetch " +
        "page reduces MAP-SIDE through a bounded candidate heap " +
        "(partial-aggregated before the exchange) — the store's rows " +
        "never cross a shuffle, only ≤ queries x partitions x page " +
        "candidate buffers do; exact cosine re-ranks each page in one " +
        "window keyed by query id (PlanGuardSpec pins the no-shuffled-" +
        "join shape, ModulesSpec pins face parity with looped pqTopK). " +
        "KMeans codebooks are engine-specific, so the sketch pattern " +
        "applies (q_ivf_join_indexed's): output is the EXACT per-query " +
        "cosine top-3 — which DuckDB computes identically — plus " +
        "recall_ok = the ADC page recovered >= 2 of that query's true " +
        "top-3. TRIAGE: recall_ok=false on new data means ADC " +
        "resolution vs page width (raise overFetch or m/nC), not an " +
        "engine bug",
      Some(s"""WITH all_v AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings),
              |q AS (SELECT vec_id AS query_id, emb AS qe
              |  FROM all_v WHERE vec_id < 20),
              |c AS (SELECT vec_id AS neighbor_id, emb AS ce
              |  FROM all_v WHERE vec_id >= 20),
              |r AS (SELECT query_id, neighbor_id,
              |    ${vectors.cosineSimSql("ce", "qe")} AS sim,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY ${vectors.cosineSimSql("ce", "qe")} DESC,
              |        neighbor_id) AS rnk
              |  FROM q CROSS JOIN c)
              |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id,
              |  ${text.fixedPoint("sim", 4)} AS sim_x10k, TRUE AS recall_ok
              |FROM r WHERE rnk <= 3
              |ORDER BY query_id, rnk""".stripMargin)) { (s, dir) =>
      import graft.operators.Quantize
      val all = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val queries = all.filter(col("vec_id") < 20)
      val corpus = all.filter(col("vec_id") >= 20)
      // the q_pq_topk fit recipe: codebooks from a deterministic quarter
      // sample (once-offline at scale); overFetch 64 (vs q_pq_topk's 32)
      // because this gate binds the WORST query of 20, not one — at
      // sf0.001 one query's top-3 gap sits below the ADC resolution at
      // page 96, measured, and page 192 covers it at every SF
      val cb = Quantize.pqFit(corpus.filter(col("vec_id") % 4 === 1),
        "emb", dim = 64, m = 8, nCentroids = 32, maxIter = 2)
      // store stand-in (graft.plans.Shared): the persisted code table
      val store = Quantize.pqEncode(corpus, "emb", cb).localCheckpoint()
      val routed = Quantize.pqJoinIndexed(queries, "vec_id", "emb", cb,
          store, "vec_id", "emb", k = 3, overFetch = 64)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      exactTop3PerQuery(corpus, queries)
        .join(broadcast(routed), Seq("query_id", "neighbor_id"), "left")
        .withColumn("nhit",
          sum(coalesce(col("hit"), lit(0L)))
            .over(Window.partitionBy("query_id")))
        .select(col("query_id"), col("rnk").cast("long").as("rnk"),
          col("neighbor_id"),
          expr(text.fixedPoint("sim", 4)).as("sim_x10k"),
          (col("nhit") >= 2).as("recall_ok"))
        .orderBy("query_id", "rnk")
    },

    Q("q_pq_topk",
      "PQ ADC two-stage top-5 (Quantize.pqTopK, m=8 subspaces x 32 " +
        "centroids over the 64-dim corpus): codes are 8 bytes/vector (64x " +
        "smaller than float32), the ADC stage scans only codes + one " +
        "broadcast lookup table, exact cosine re-ranks the over-fetch. " +
        "KMeans codebooks are engine-specific (seeded, deterministic in " +
        "Spark, not SQL-expressible), so the house sketch pattern applies: " +
        "output is the EXACT cosine top-5 — which DuckDB computes " +
        "identically — plus recall_ok, TRUE iff the PQ path recovered >= 3 " +
        "of the true top-5 (measured 4-5/5 on this corpus at all three " +
        "SFs; ModulesSpec pins the same m/nC resolution at 0.8 recall). " +
        "TRIAGE: a recall_ok=false on new data means the PQ resolution " +
        "bound (raise m/nC or overFetch), NOT an engine bug — the exact " +
        "rows above it would still hash-match",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id <> 0),
              |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
              |      FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, label, ${text.fixedPoint("similarity", 4)} AS sim_x10k,
              |  TRUE AS recall_ok
              |FROM (
              |  SELECT c.vec_id, c.label,
              |    ${vectors.cosineSimSql("c.emb", "q.qe")} AS similarity
              |  FROM corpus c CROSS JOIN q)
              |ORDER BY similarity DESC, vec_id
              |LIMIT 5""".stripMargin)) { (s, dir) =>
      import graft.operators.Quantize
      val corpus = embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val q = embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      // codebooks fit on a deterministic quarter of the corpus — pqFit's
      // documented sampling contract (quality degrades gracefully; at
      // 100 TB the fit is a once-offline pass over a sample, never per
      // query) — which is also what keeps this query's bench cost at the
      // encode+search path instead of 8 subspace KMeans fits on everything
      val cb = Quantize.pqFit(corpus.filter(col("vec_id") % 4 === 1),
        "emb", dim = 64, m = 8, nCentroids = 32, maxIter = 2)
      // overFetch 32: the near-uniform synthetic corpus bunches cosine gaps
      // tighter than the ADC resolution at 2000 vectors (sf0.1), so the
      // candidate page must be wider than the default 4x to hold recall —
      // the dial a real deployment turns before spending bytes on m/nC
      val approx = Quantize.pqTopK(corpus, "emb", cb, q, k = 5,
          overFetch = 32, tieBreak = Seq("vec_id"))
        .select(col("vec_id"), lit(1L).as("pq_hit"))
      val marked = exactTop5(corpus, q)
        .join(broadcast(approx), Seq("vec_id"), "left")
      marked.crossJoin(broadcast(
          marked.agg(coalesce(sum("pq_hit"), lit(0L)).as("nhit"))))
        .select(col("vec_id"), col("label"), col("sim_x10k"),
          (col("nhit") >= 3).as("recall_ok"))
        .orderBy(desc("sim_x10k"), col("vec_id"))
    },

    Q("q_ivf_topk",
      "IVF-Flat top-5 (AnnIndex.ivfTopK, 16 centroid-routed inverted " +
        "lists, nProbe=4): the data-adaptive ANN layout — a probe scans " +
        "~nProbe/nLists of the corpus, and the persisted index is the " +
        "corpus partitioned by list_id so the scan is partition-pruned " +
        "(FAISS IVF-Flat's layout, spec'd in ModulesSpec incl. " +
        "probe-all == brute-force). KMeans routing is engine-specific, so " +
        "the sketch pattern applies as in q_pq_topk: output is the EXACT " +
        "cosine top-5 plus recall_ok = the 4-of-16-list probe recovered " +
        ">= 3 of the true top-5 (deterministic per dataset; green at all " +
        "three SFs). TRIAGE: recall_ok=false on new data means probe " +
        "width vs. list granularity (raise nProbe), not an engine bug",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id <> 0),
              |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
              |      FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, label, ${text.fixedPoint("similarity", 4)} AS sim_x10k,
              |  TRUE AS recall_ok
              |FROM (
              |  SELECT c.vec_id, c.label,
              |    ${vectors.cosineSimSql("c.emb", "q.qe")} AS similarity
              |  FROM corpus c CROSS JOIN q)
              |ORDER BY similarity DESC, vec_id
              |LIMIT 5""".stripMargin)) { (s, dir) =>
      val corpus = embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val q = embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      // routing centroids fit on a deterministic quarter sample — at scale
      // the fit is a once-offline pass (ivfFit doc), never per query
      val model = AnnIndex.ivfFit(
        corpus.filter(col("vec_id") % 4 === 1), "emb", nLists = 16)
      val approx = AnnIndex.ivfTopK(model, corpus, "emb", q, "qe",
          k = 5, nProbe = 4, tieBreak = Seq("vec_id"))
        .select(col("vec_id"), lit(1L).as("ivf_hit"))
      val marked = exactTop5(corpus, q)
        .join(broadcast(approx), Seq("vec_id"), "left")
      marked.crossJoin(broadcast(
          marked.agg(coalesce(sum("ivf_hit"), lit(0L)).as("nhit"))))
        .select(col("vec_id"), col("label"), col("sim_x10k"),
          (col("nhit") >= 3).as("recall_ok"))
        .orderBy(desc("sim_x10k"), col("vec_id"))
    },

    Q("q_ivf_tuning",
      "IVF dial sweep (AnnIndex.ivfTuning — q_lsh_tuning's measure-" +
        "before-committing pattern applied to ANN serving): nProbe in " +
        "{1,2,4,8,16} over ONE assignment of the corpus, reporting " +
        "candidate volume (the partition-pruned scan a probe pays) and " +
        "recall@5 vs the exact cosine top-5 per dial — the measurement " +
        "that justifies q_ivf_topk's fixed nProbe=4 on THIS corpus " +
        "instead of trusting the scan-fraction formula. KMeans routing " +
        "is engine-specific, so the gate pins the THEOREM-backed shape " +
        "of the sweep (sketch pattern, as q_ivf_topk): probe sets are " +
        "nested prefixes, so recall and candidate volume are non-" +
        "decreasing in nProbe (recall_monotone_ok / cands_monotone_ok), " +
        "and dial_ok pins nProbe=4 recovering >= 3/5 (the published " +
        "dial) plus nProbe=nLists=16 being EXACTLY brute force (5/5). " +
        "Measured recall/volume numbers are asserted in ModulesSpec. " +
        "TRIAGE: a false row on new data means probe width vs list " +
        "granularity, not an engine bug",
      Some("""SELECT CAST(nprobe AS BIGINT) AS nprobe,
             |  TRUE AS recall_monotone_ok, TRUE AS cands_monotone_ok,
             |  TRUE AS dial_ok
             |FROM (VALUES (1), (2), (4), (8), (16)) t(nprobe)
             |ORDER BY nprobe""".stripMargin)) { (s, dir) =>
      val corpus = embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val q = embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      // same quarter-sample routing fit as q_ivf_topk — the sweep measures
      // the dials of the EXACT index the serving query uses
      val model = AnnIndex.ivfFit(
        corpus.filter(col("vec_id") % 4 === 1), "emb", nLists = 16)
      // the assigned corpus stays lazy: the sweep reads it in one pass,
      // so the assignment UDF runs once per row
      val assigned = AnnIndex.ivfAssign(model, corpus, "emb")
      val rep = AnnIndex.ivfTuning(model, assigned, "emb", "vec_id",
        q, "qe", k = 5, nProbes = Seq(1, 2, 4, 8, 16))
      // 5-row report -> one array, monotonicity as a HOF over adjacent
      // elements: no window (PlanGuard) and no driver-side collect
      rep.agg(sort_array(collect_list(struct(
          col("nprobe"), col("n_candidates"), col("n_hits")))).as("a"))
        .select(explode(expr(
          """transform(a, (x, i) -> named_struct(
            |  'nprobe', x.nprobe,
            |  'recall_monotone_ok',
            |  CASE WHEN i = 0 THEN true
            |       ELSE x.n_hits >= element_at(a, i).n_hits END,
            |  'cands_monotone_ok',
            |  CASE WHEN i = 0 THEN true
            |       ELSE x.n_candidates >= element_at(a, i).n_candidates END,
            |  'dial_ok',
            |  CASE WHEN x.nprobe = 4 THEN x.n_hits >= 3
            |       WHEN x.nprobe = 16 THEN x.n_hits = 5
            |       ELSE true END))""".stripMargin)).as("r"))
        .select(col("r.nprobe").as("nprobe"),
          col("r.recall_monotone_ok").as("recall_monotone_ok"),
          col("r.cands_monotone_ok").as("cands_monotone_ok"),
          col("r.dial_ok").as("dial_ok"))
        .orderBy("nprobe")
    },

    Q("q_ivfpq_topk",
      "IVFPQ top-5 (Quantize.ivfPqTopK — the two ANN layouts composed as " +
        "FAISS ships them, Jégou et al. 2011): IVF routes the query to 4 " +
        "of 16 lists, PQ ADC ranks only the probed lists' 8-byte RESIDUAL " +
        "codes (q·emb = q·centroid + q·residual — the per-list scalar " +
        "rides the broadcast probe page, and residual quantization error " +
        "is far below raw-vector error at the same code budget), exact " +
        "cosine re-ranks the over-fetch. At 100 TB this is THE serving " +
        "layout: a partition-pruned scan of nProbe/nLists of the corpus " +
        "touching m bytes per vector, one broadcast of nProbe (list, q·c, " +
        "LUT) rows as the whole query-side state. KMeans routing + " +
        "codebooks are engine-specific, so the sketch pattern applies as " +
        "in q_pq_topk/q_ivf_topk: output is the EXACT cosine top-5 plus " +
        "recall_ok = the composed path recovered >= 3 of the true top-5. " +
        "TRIAGE: recall_ok=false on new data means probe width or code " +
        "resolution (raise nProbe/m/overFetch), not an engine bug",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id <> 0),
              |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
              |      FROM embeddings WHERE vec_id = 0)
              |SELECT vec_id, label, ${text.fixedPoint("similarity", 4)} AS sim_x10k,
              |  TRUE AS recall_ok
              |FROM (
              |  SELECT c.vec_id, c.label,
              |    ${vectors.cosineSimSql("c.emb", "q.qe")} AS similarity
              |  FROM corpus c CROSS JOIN q)
              |ORDER BY similarity DESC, vec_id
              |LIMIT 5""".stripMargin)) { (s, dir) =>
      import graft.operators.Quantize
      val corpus = embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val q = embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      // routing + residual codebooks fit on the same deterministic quarter
      // sample — both are once-offline passes at scale (ivfFit/pqFit docs)
      val sample = corpus.filter(col("vec_id") % 4 === 1)
      val model = AnnIndex.ivfFit(sample, "emb", nLists = 16)
      val cb = Quantize.pqFit(Quantize.ivfResiduals(model, sample, "emb"),
        "__res", dim = 64, m = 8, nCentroids = 32, maxIter = 2)
      val approx = Quantize.ivfPqTopK(model, corpus, "emb", cb, q, k = 5,
          nProbe = 4, overFetch = 32, tieBreak = Seq("vec_id"))
        .select(col("vec_id"), lit(1L).as("pq_hit"))
      val marked = exactTop5(corpus, q)
        .join(broadcast(approx), Seq("vec_id"), "left")
      marked.crossJoin(broadcast(
          marked.agg(coalesce(sum("pq_hit"), lit(0L)).as("nhit"))))
        .select(col("vec_id"), col("label"), col("sim_x10k"),
          (col("nhit") >= 3).as("recall_ok"))
        .orderBy(desc("sim_x10k"), col("vec_id"))
    },

    Q("q_ivfpq_tuning",
      "IVFPQ dial sweep (Quantize.ivfPqTuning — q_ivf_tuning's measure-" +
        "before-committing discipline extended to the PQ dials " +
        "q_ivfpq_topk fixes by spec): m in {2,8} bytes/vector x " +
        "overFetch in {1,4,32,512}, recall@5 vs the exact cosine top-5 " +
        "per cell, probing ALL 16 lists so the sweep isolates what code " +
        "resolution alone costs (nProbe is q_ivf_tuning's dial). One " +
        "pass over the corpus after the codebook fits: each budget keeps " +
        "one ADC page that every overFetch re-ranks a prefix of, and the " +
        "exact baseline is one more cell of that pass. Codebooks are engine-specific, so the gate pins the " +
        "THEOREM-backed shape: for fixed m the ADC ranking is fixed, so " +
        "overFetch prefixes are nested candidate sets and n_hits is " +
        "non-decreasing (overfetch_monotone_ok); recovery_ok derives its " +
        "saturation bound from the MEASURED corpus count — whenever " +
        "k*overFetch >= n_corpus the re-rank IS brute force and n_hits " +
        "= 5 exactly, any m (at the shipped SFs that's the 512 column; " +
        "a bigger corpus makes the row vacuously true instead of " +
        "asserting a theorem that no longer applies); dial_ok pins the " +
        "published serving dial (m=8, overFetch=32 recovering >= 3/5). " +
        "Measured cells asserted in ModulesSpec. TRIAGE: a false row on " +
        "new data means code budget vs corpus variance, not an engine " +
        "bug",
      Some("""SELECT CAST(m AS BIGINT) AS m,
             |  CAST(overfetch AS BIGINT) AS overfetch,
             |  TRUE AS overfetch_monotone_ok, TRUE AS recovery_ok,
             |  TRUE AS dial_ok
             |FROM (VALUES (2), (8)) t(m),
             |     (VALUES (1), (4), (32), (512)) u(overfetch)
             |ORDER BY m, overfetch""".stripMargin)) { (s, dir) =>
      import graft.operators.Quantize
      val corpus = embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
      val q = embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      // same quarter-sample routing + codebook fits as q_ivfpq_topk — the
      // sweep measures the dials of the EXACT serving layout
      val sample = corpus.filter(col("vec_id") % 4 === 1)
      val model = AnnIndex.ivfFit(sample, "emb", nLists = 16)
      val rep = Quantize.ivfPqTuning(model, corpus, "emb", "vec_id",
        sample, q, k = 5, dim = 64, ms = Seq(2, 8),
        overFetches = Seq(1, 4, 32, 512))
      // 8-row report -> one array; monotonicity via the q_ivf_tuning HOF
      // pattern, guarded to adjacent cells of the SAME code budget
      rep.agg(sort_array(collect_list(struct(
          col("m"), col("overfetch"), col("n_hits"), col("n_corpus")))).as("a"))
        .select(explode(expr(
          """transform(a, (x, i) -> named_struct(
            |  'm', x.m, 'overfetch', x.overfetch,
            |  'overfetch_monotone_ok',
            |  CASE WHEN i = 0 OR element_at(a, i).m <> x.m THEN true
            |       ELSE x.n_hits >= element_at(a, i).n_hits END,
            |  'recovery_ok',
            |  CASE WHEN x.overfetch * 5 >= x.n_corpus THEN x.n_hits = 5
            |       ELSE true END,
            |  'dial_ok',
            |  CASE WHEN x.m = 8 AND x.overfetch = 32 THEN x.n_hits >= 3
            |       ELSE true END))""".stripMargin)).as("r"))
        .select(col("r.m").as("m"), col("r.overfetch").as("overfetch"),
          col("r.overfetch_monotone_ok").as("overfetch_monotone_ok"),
          col("r.recovery_ok").as("recovery_ok"),
          col("r.dial_ok").as("dial_ok"))
        .orderBy("m", "overfetch")
    },

    Q("q_geo_density",
      "Geo density grid — the heatmap backing every map view of the " +
        "reference's service/housing layers: point counts and exact " +
        "balance cents per 0.1-degree cell, top-20 cells. The cell key " +
        "is pure floor arithmetic on the coordinates, so the rollup is " +
        "one map-side-combined aggregate — the same shape at 100 TB, " +
        "and the cell key doubles as the Z-order / partition key the " +
        "Maintenance layouts cluster by",
      Some(s"""SELECT CAST(floor(lat * 10) AS BIGINT) AS cell_lat,
              |  CAST(floor(lon * 10) AS BIGINT) AS cell_lon,
              |  count(*) AS n,
              |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
              |    AS bal_cents
              |FROM (SELECT ${geo.synthLatSql("c_custkey")} AS lat,
              |        ${geo.synthLonSql("c_custkey")} AS lon, c_acctbal
              |      FROM customer)
              |GROUP BY 1, 2
              |ORDER BY n DESC, cell_lat, cell_lon
              |LIMIT 20""".stripMargin)) { (s, dir) =>
      customer(s, dir)
        .select(geo.synthLat(col("c_custkey")).as("lat"),
          geo.synthLon(col("c_custkey")).as("lon"), col("c_acctbal"))
        .groupBy(floor(col("lat") * 10).cast("long").as("cell_lat"),
          floor(col("lon") * 10).cast("long").as("cell_lon"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("c_acctbal") * 100).cast("long")).cast("long")
            .as("bal_cents"))
        .orderBy(desc("n"), col("cell_lat"), col("cell_lon"))
        .limit(20)
    },

    Q("q_wow_change",
      "Week-over-week trend deltas — the growth report on top of " +
        "q_event_trend's counts: weekly volume per event type plus the " +
        "absolute delta and ratio vs the previous week (first week " +
        "compares to itself: delta 0, ratio 1). The lag window is " +
        "PARTITIONED by event type — state per key is weeks-sized, " +
        "never events-sized; weeks ship as date strings per the " +
        "type-bridge rule",
      Some(s"""WITH w AS (
              |  SELECT event_type,
              |    strftime(CAST(date_trunc('week', ts) AS DATE), '%Y-%m-%d')
              |      AS wk,
              |    CAST(count(*) AS BIGINT) AS n
              |  FROM events GROUP BY 1, 2)
              |SELECT event_type, wk, n,
              |  CAST(n - coalesce(lag(n) OVER (PARTITION BY event_type
              |    ORDER BY wk), n) AS BIGINT) AS delta,
              |  ${text.fixedPoint(
                  "CAST(n AS DOUBLE) / greatest(coalesce(lag(n) OVER " +
                    "(PARTITION BY event_type ORDER BY wk), n), 1)",
                  4)} AS ratio_x10k
              |FROM w ORDER BY event_type, wk""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("event_type").orderBy("wk")
      events(s, dir)
        .groupBy(col("event_type"),
          date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("wk"))
        .agg(count(lit(1)).as("n"))
        .withColumn("prev", coalesce(lag("n", 1).over(w), col("n")))
        .select(col("event_type"), col("wk"), col("n"),
          (col("n") - col("prev")).cast("long").as("delta"),
          expr(text.fixedPoint(
            "CAST(n AS DOUBLE) / greatest(prev, 1)", 4)).as("ratio_x10k"))
        .orderBy("event_type", "wk")
    },

    Q("q_embedding_norm_audit",
      "Vector-store hygiene audit — the check every ANN deployment runs " +
        "before trusting cosine math: corpus size, zero-vector count " +
        "(cosine against a zero vector is pinned to 0.0 by the kernel, " +
        "but a corpus FULL of them means the embedder upstream broke), " +
        "and the norm distribution (min / max / mean). Norms quantize " +
        "x10k PER ROW before aggregating, so the sums are exact BIGINTs " +
        "under any partitioning — an avg() of raw doubles would hash " +
        "differently per shuffle layout. One scan-side projection + one " +
        "scalar aggregate",
      Some(s"""SELECT count(*) AS n_vecs,
              |  CAST(sum(CASE WHEN qn = 0 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_zero,
              |  CAST(min(qn) AS BIGINT) AS min_norm_x10k,
              |  CAST(max(qn) AS BIGINT) AS max_norm_x10k,
              |  ${text.fixedPoint(
                  "CAST(sum(qn) AS DOUBLE) / count(*)", 0)} AS mean_norm_x10k
              |FROM (
              |  SELECT CAST(floor(sqrt(list_dot_product(
              |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
              |    * 10000.0 + 0.5) AS BIGINT) AS qn
              |  FROM embeddings)
              |ORDER BY n_vecs""".stripMargin)) { (s, dir) =>
      embeddings(s, dir)
        .select((floor(vectors.l2Norm(col("embedding")) * 10000.0 + 0.5))
          .cast("long").as("qn"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("qn") === 0, 1).otherwise(0)).cast("long").as("n_zero"),
          min("qn").cast("long").as("min_norm_x10k"),
          max("qn").cast("long").as("max_norm_x10k"),
          expr(text.fixedPoint("CAST(sum(qn) AS DOUBLE) / count(*)", 0))
            .as("mean_norm_x10k"))
        .orderBy("n_vecs")
    },

    Q("q_mmr_rerank",
      "Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998 — " +
        "the diversity stage after any of the ANN searches): from the " +
        "exact cosine top-12 candidate page, greedily pick 5 results " +
        "maximizing 0.7*sim(q,d) - 0.3*max_sim(d, already-picked), ties " +
        "to the smallest vec_id, first pick scored with an empty penalty " +
        "term. The 5 selection rounds are UNROLLED IN THE PLAN (the " +
        "q_kmeans_iter recipe): candidate page and its 12x12 pairwise-" +
        "similarity table are checkpointed once, every round is anti-join " +
        "+ broadcast max + top-1 over those tiny frames — the corpus " +
        "pays only the initial top-k scan, and identical float " +
        "expressions in both engines make every argmax replayable. The " +
        "oracle is the same 5 rounds as generated CTEs",
      Some {
        val cos = vectors.cosineSimSql("a.emb", "b.emb")
        val simq = vectors.cosineSimSql("c.emb", "q.qe")
        val sb = new StringBuilder
        sb ++= s"""WITH cand AS (
                  |  SELECT vec_id, emb, simq FROM (
                  |    SELECT c.vec_id, c.emb, $simq AS simq
                  |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                  |          FROM embeddings WHERE vec_id <> 0) c
                  |    CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS qe
                  |                FROM embeddings WHERE vec_id = 0) q)
                  |  ORDER BY simq DESC, vec_id LIMIT 12),
                  |pairs AS (SELECT a.vec_id AS a, b.vec_id AS b, $cos AS s
                  |          FROM cand a, cand b),
                  |s1 AS (SELECT vec_id, 1 AS rank, simq, 0.7 * simq AS mmr
                  |       FROM cand ORDER BY simq DESC, vec_id LIMIT 1)""".stripMargin
        for (i <- 2 to 5) {
          val prev = (1 until i).map(j => s"SELECT vec_id FROM s$j")
            .mkString(" UNION ALL ")
          sb ++= s""",
                    |s$i AS (SELECT vec_id, $i AS rank, simq, mmr FROM (
                    |  SELECT c.vec_id, c.simq,
                    |    0.7 * c.simq - 0.3 * max(p.s) AS mmr
                    |  FROM cand c JOIN pairs p ON p.a = c.vec_id
                    |  WHERE p.b IN ($prev) AND c.vec_id NOT IN ($prev)
                    |  GROUP BY c.vec_id, c.simq)
                    |ORDER BY mmr DESC, vec_id LIMIT 1)""".stripMargin
        }
        sb ++= s"""
                  |SELECT rank, vec_id, ${text.fixedPoint("simq", 4)} AS sim_x10k,
                  |  ${text.fixedPoint("mmr", 4)} AS mmr_x10k
                  |FROM (${(1 to 5).map(j => s"SELECT * FROM s$j")
                      .mkString(" UNION ALL ")})
                  |ORDER BY rank""".stripMargin
        sb.toString
      }) { (s, dir) =>
      val emb = embeddings(s, dir).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val q = embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("qe"))
      // iterative loop (graft.plans.Shared): every greedy pick re-reads
      // cand and pairs
      val cand = emb.crossJoin(broadcast(q))
        .withColumn("simq", vectors.cosineSim(col("emb"), col("qe")))
        .orderBy(desc("simq"), col("vec_id"))
        .limit(12)
        .select("vec_id", "simq", "emb")
        .localCheckpoint(true)
      val pairs = cand.select(col("vec_id").as("a"), col("emb").as("ea"))
        .crossJoin(broadcast(cand.select(col("vec_id").as("b"),
          col("emb").as("eb"))))
        .withColumn("s", vectors.cosineSim(col("ea"), col("eb")))
        .select("a", "b", "s")
        .localCheckpoint(true)
      var sel = cand.orderBy(desc("simq"), col("vec_id")).limit(1)
        .select(col("vec_id"), lit(1).as("rank"), col("simq"),
          (lit(0.7) * col("simq")).as("mmr"))
      for (i <- 2 to 5) {
        val picked = sel.select(col("vec_id").as("sv"))
        val pick = cand
          .join(broadcast(picked), col("vec_id") === col("sv"), "left_anti")
          .join(broadcast(pairs), col("vec_id") === col("a"))
          .join(broadcast(picked), col("b") === col("sv"))
          .groupBy(col("vec_id"), col("simq"))
          .agg(max("s").as("ms"))
          .withColumn("mmr", lit(0.7) * col("simq") - lit(0.3) * col("ms"))
          .orderBy(desc("mmr"), col("vec_id"))
          .limit(1)
          .select(col("vec_id"), lit(i).as("rank"), col("simq"), col("mmr"))
        sel = sel.union(pick)
      }
      sel.select(col("rank"), col("vec_id"),
          expr(text.fixedPoint("simq", 4)).as("sim_x10k"),
          expr(text.fixedPoint("mmr", 4)).as("mmr_x10k"))
        .orderBy("rank")
    },

    Q("q_embed_stub",
      "G7 deterministic embedder: hashing-TF embed of each doc, cosine vs " +
        "doc 0's embedding — the offline stand-in for the reference's " +
        "Vertex AI embedding RPC (embeddings.py:47-73)",
      Some(s"""WITH emb AS (
              |  SELECT doc_id, ${vectors.embedStubSql(D, "text", 16)} AS e
              |  FROM documents WHERE doc_id < 100),
              |q AS (SELECT e AS qe FROM emb WHERE doc_id = 0)
              |SELECT doc_id, ${text.fixedPoint(vectors.cosineSimSql("e", "qe"), 4)} AS sim_x10k
              |FROM emb CROSS JOIN q
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val emb = documents(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), vectors.embedStub("text", 16).as("e"))
      val q = emb.filter(col("doc_id") === 0).select(col("e").as("qe"))
      emb.crossJoin(broadcast(q))
        .withColumn("sim", vectors.cosineSim(col("e"), col("qe")))
        .select(col("doc_id"), expr(text.fixedPoint("sim", 4)).as("sim_x10k"))
        .orderBy("doc_id")
    },

    Q("q_regex_extract",
      "X6: regex coordinate extraction 'Latitude X, Longitude Y' → doubles " +
        "(main.py:490-509); messages synthesized from synthetic coords, " +
        "extraction round-trips exactly",
      Some(s"""SELECT c_custkey,
              |  CAST(regexp_extract(msg, 'Latitude ([-+]?[0-9.]+), Longitude ([-+]?[0-9.]+)', 1) AS DOUBLE) AS lat,
              |  CAST(regexp_extract(msg, 'Latitude ([-+]?[0-9.]+), Longitude ([-+]?[0-9.]+)', 2) AS DOUBLE) AS lon
              |FROM (
              |  SELECT c_custkey,
              |    'I am at Latitude ' || ${D.castString(synthLatC)} ||
              |      ', Longitude ' || ${D.castString(synthLonC)} || ' right now' AS msg
              |  FROM customer WHERE c_custkey <= 300)
              |ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
      customer(s, dir).filter(col("c_custkey") <= 300)
        .select(col("c_custkey"),
          concat(lit("I am at Latitude "),
            geo.synthLat(col("c_custkey")).cast("string"),
            lit(", Longitude "),
            geo.synthLon(col("c_custkey")).cast("string"),
            lit(" right now")).as("msg"))
        .select(col("c_custkey"),
          regexp_extract(col("msg"),
            "Latitude ([-+]?[0-9.]+), Longitude ([-+]?[0-9.]+)", 1)
            .cast("double").as("lat"),
          regexp_extract(col("msg"),
            "Latitude ([-+]?[0-9.]+), Longitude ([-+]?[0-9.]+)", 2)
            .cast("double").as("lon"))
        .orderBy("c_custkey")
    },

    Q("q_json_extract",
      "X7: JSON field extraction from the events props blob + grouped agg " +
        "(chatbot.py:149-158 marker parse shape)",
      Some(s"""SELECT k_mod, count(*) AS n,
              |  ${text.fixedPoint("avg(value)", 2)} AS avg_val_x100
              |FROM (SELECT CAST(${D.jsonGet("props", "$.k")} AS BIGINT) % 10 AS k_mod, value
              |      FROM events)
              |GROUP BY k_mod
              |ORDER BY k_mod""".stripMargin)) { (s, dir) =>
      events(s, dir)
        .select((expr(S.jsonGet("props", "$.k")).cast("long") % 10).as("k_mod"),
          col("value"))
        .groupBy("k_mod")
        .agg(count(lit(1)).as("n"),
          expr(text.fixedPoint("avg(value)", 2)).as("avg_val_x100"))
        .orderBy("k_mod")
    },

    Q("q_marker_extract",
      "X7: RESOURCE_DATA marker pipeline (chatbot.py:149-158) — regex-extract " +
        "the embedded JSON payload, parse a field, strip the marker from the " +
        "text; markers synthesized around events.props",
      Some(s"""SELECT event_id,
              |  CAST(${D.jsonGet("regexp_extract(msg, '<!-- RESOURCE_DATA:(.*) -->', 1)", "$.k")}
              |    AS BIGINT) AS k,
              |  length(regexp_replace(msg, '<!-- RESOURCE_DATA:.* -->', '')) AS clean_len
              |FROM (SELECT event_id,
              |        'Results ready <!-- RESOURCE_DATA:' || props || ' --> end' AS msg
              |      FROM events WHERE event_id < 500)
              |ORDER BY event_id""".stripMargin)) { (s, dir) =>
      events(s, dir).filter(col("event_id") < 500)
        .select(col("event_id"),
          concat(lit("Results ready <!-- RESOURCE_DATA:"), col("props"),
            lit(" --> end")).as("msg"))
        .select(col("event_id"),
          expr(S.jsonGet("regexp_extract(msg, '<!-- RESOURCE_DATA:(.*) -->', 1)", "$.k"))
            .cast("long").as("k"),
          length(regexp_replace(col("msg"), "<!-- RESOURCE_DATA:.* -->", ""))
            .cast("long").as("clean_len"))
        .orderBy("event_id")
    },

    Q("q_hours_parse",
      "X8: hours-string parser '24/7'/'Closed'/'Always open'/'9:00 AM - " +
        "5:00 PM' → {is_24h, is_closed, open/close minutes} " +
        "(check_hours_availability.py:50-86); the '10:24 AM' case pins the " +
        "reference's own '24'-substring false positive, kept for parity, " +
        "and the 'varies' case pins the ANSI-safe unparseable path (one " +
        "bad row must NULL, not abort the scan)",
      Some {
        val h = "hours_str"
        s"""SELECT p_partkey, $h AS hours_str,
           |  ${hours.is24h(D, h)} AS is_24h,
           |  ${hours.isClosed(D, h)} AS is_closed,
           |  coalesce(${hours.rangeMinutes(D, h, 1)}, -1) AS open_min,
           |  coalesce(${hours.rangeMinutes(D, h, 2)}, -1) AS close_min
           |FROM (
           |  SELECT p_partkey, CASE CAST(p_partkey % 7 AS INT)
           |    WHEN 0 THEN '24/7' WHEN 1 THEN 'Closed'
           |    WHEN 2 THEN '9:00 AM - 5:00 PM' WHEN 3 THEN 'Always open'
           |    WHEN 4 THEN '10:24 AM - 6:00 PM' WHEN 5 THEN 'varies'
           |    ELSE '10:30 AM - 6:30 PM' END AS hours_str
           |  FROM part WHERE p_partkey <= 400)
           |ORDER BY p_partkey""".stripMargin
      }) { (s, dir) =>
      val h = "hours_str"
      part(s, dir).filter(col("p_partkey") <= 400)
        .withColumn(h, expr(
          """CASE CAST(p_partkey % 7 AS INT)
            |  WHEN 0 THEN '24/7' WHEN 1 THEN 'Closed'
            |  WHEN 2 THEN '9:00 AM - 5:00 PM' WHEN 3 THEN 'Always open'
            |  WHEN 4 THEN '10:24 AM - 6:00 PM' WHEN 5 THEN 'varies'
            |  ELSE '10:30 AM - 6:30 PM' END""".stripMargin))
        .select(col("p_partkey"), col(h),
          expr(hours.is24h(S, h)).as("is_24h"),
          expr(hours.isClosed(S, h)).as("is_closed"),
          expr(s"coalesce(${hours.rangeMinutes(S, h, 1)}, -1)").as("open_min"),
          expr(s"coalesce(${hours.rangeMinutes(S, h, 2)}, -1)").as("close_min"))
        .orderBy("p_partkey")
    },

    Q("q_hours_open_now",
      "X8 evaluation step: \"is it open now?\" — the current-day/time " +
        "dispatch the reference runs on top of the hours parser " +
        "(check_hours_availability.py:36-47,140-150; " +
        "format_availability_response:183-188). A synthesized weekly " +
        "schedule (7 rows per resource) is joined to the day name of a " +
        "PARAMETER timestamp (current_timestamp() could never " +
        "oracle-match), then the surviving day's hours string is evaluated " +
        "at that timestamp's minutes-since-midnight: TRUE/FALSE/NULL plus " +
        "the reference's verbatim status strings. The '7:00 PM - 6:00 AM' " +
        "case pins the overnight-wrap branch, 'varies' pins the " +
        "is_open=None \"verify with resource\" path. Scale shape: the day " +
        "filter prunes the schedule 7x before evaluation and everything " +
        "is one codegen'd projection — no join, no shuffle",
      Some {
        val ts = "TIMESTAMP '2024-01-10 14:30:00'" // a Wednesday, 02:30 PM
        val nowMin = s"(extract(HOUR FROM $ts) * 60 + extract(MINUTE FROM $ts))"
        val h = "hours_str"
        s"""WITH sched AS (
           |  SELECT p_partkey, dow,
           |    CASE CAST(dow AS INT)
           |      WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
           |      WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
           |      WHEN 5 THEN 'Friday' ELSE 'Saturday' END AS day_name,
           |    CASE CAST((p_partkey + dow) % 7 AS INT)
           |      WHEN 0 THEN '24/7' WHEN 1 THEN 'Closed'
           |      WHEN 2 THEN '9:00 AM - 5:00 PM' WHEN 3 THEN 'Always open'
           |      WHEN 4 THEN 'varies' WHEN 5 THEN '7:00 PM - 6:00 AM'
           |      ELSE '10:30 AM - 6:30 PM' END AS hours_str
           |  FROM part, (SELECT unnest(generate_series(0, 6)) AS dow)
           |  WHERE p_partkey <= 200),
           |parsed AS (
           |  SELECT p_partkey, hours_str,
           |    ${hours.is24h(D, h)} AS is24,
           |    ${hours.isClosed(D, h)} AS iscl,
           |    ${hours.rangeMinutes(D, h, 1)} AS open_min,
           |    ${hours.rangeMinutes(D, h, 2)} AS close_min
           |  FROM sched
           |  WHERE day_name = ${D.dayName(ts)}),
           |decided AS (
           |  SELECT p_partkey, hours_str, is24, iscl,
           |    coalesce(CAST(${hours.isOpenFromParts("is24", "iscl", "open_min", "close_min", nowMin)} AS INT), -1) AS is_open
           |  FROM parsed)
           |SELECT p_partkey,
           |  ${D.dayName(ts)} AS current_day,
           |  ${D.time12(ts)} AS current_time,
           |  hours_str,
           |  is_open,
           |  ${hours.statusFromOpen("is24", "iscl", "is_open")} AS status
           |FROM decided
           |ORDER BY p_partkey""".stripMargin
      }) { (s, dir) =>
      val ts = "TIMESTAMP '2024-01-10 14:30:00'"
      val nowMin = s"(extract(HOUR FROM $ts) * 60 + extract(MINUTE FROM $ts))"
      val h = "hours_str"
      part(s, dir).filter(col("p_partkey") <= 200)
        .select(col("p_partkey"), explode(sequence(lit(0), lit(6))).as("dow"))
        .withColumn("day_name", expr(
          """CASE CAST(dow AS INT)
            |  WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday'
            |  WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday'
            |  WHEN 5 THEN 'Friday' ELSE 'Saturday' END""".stripMargin))
        .withColumn(h, expr(
          """CASE CAST((p_partkey + dow) % 7 AS INT)
            |  WHEN 0 THEN '24/7' WHEN 1 THEN 'Closed'
            |  WHEN 2 THEN '9:00 AM - 5:00 PM' WHEN 3 THEN 'Always open'
            |  WHEN 4 THEN 'varies' WHEN 5 THEN '7:00 PM - 6:00 AM'
            |  ELSE '10:30 AM - 6:30 PM' END""".stripMargin))
        .filter(expr(s"day_name = ${S.dayName(ts)}"))
        // parser staged ONCE into columns; the decision CASEs below run
        // over these references — see hours.isOpenFromParts for why the
        // fully-inlined form costs seconds of codegen
        .withColumn("is24", expr(hours.is24h(S, h)))
        .withColumn("iscl", expr(hours.isClosed(S, h)))
        .withColumn("open_min", expr(hours.rangeMinutes(S, h, 1)))
        .withColumn("close_min", expr(hours.rangeMinutes(S, h, 2)))
        // tri-state encoded 1/0/-1: a NULL BOOLEAN bridges as None on the
        // Spark side and NaN on the DuckDB/pandas side and false-fails
        // the compare (same stance as q_hours_parse's coalesce(-1))
        .withColumn("is_open", expr("coalesce(CAST(" +
          hours.isOpenFromParts("is24", "iscl", "open_min", "close_min", nowMin) +
          " AS INT), -1)"))
        .select(col("p_partkey"),
          expr(S.dayName(ts)).as("current_day"),
          expr(S.time12(ts)).as("current_time"),
          col(h),
          col("is_open"),
          expr(hours.statusFromOpen("is24", "iscl", "is_open")).as("status"))
        .orderBy("p_partkey")
    },

    Q("q_safe_sleep_advice",
      "X20: the reference's literal lookup tables — weather-advisory dict " +
        "and safety-tips list (safe_places_to_sleep.py:180-196,246-262), " +
        "strings verbatim in functions/advice and rendered as the same " +
        "CASE/array-literal text for both engines; 'snow' pins the dict's " +
        ".get(..., default) fallback. tools/ref_parity.py §7 closes the " +
        "chain to the reference's own functions. Scale shape: constants " +
        "folded into one codegen'd projection — a broadcast-map join for " +
        "a 4-entry static dict would be strictly worse",
      Some {
        val cond = "CASE CAST(p_partkey % 5 AS INT) WHEN 0 THEN 'rain' " +
          "WHEN 1 THEN 'heat' WHEN 2 THEN 'cold' WHEN 3 THEN 'clear' " +
          "ELSE 'snow' END"
        s"""SELECT p_partkey, condition,
           |  ${advice.weatherCaseSql("condition")} AS weather_recommendation,
           |  ${advice.tipSql(D, s"CAST(p_partkey % ${advice.nTips} AS INT) + 1")} AS safety_tip
           |FROM (SELECT p_partkey, $cond AS condition
           |      FROM part WHERE p_partkey <= 300)
           |ORDER BY p_partkey""".stripMargin
      }) { (s, dir) =>
      part(s, dir).filter(col("p_partkey") <= 300)
        .withColumn("condition", expr(
          """CASE CAST(p_partkey % 5 AS INT) WHEN 0 THEN 'rain'
            |WHEN 1 THEN 'heat' WHEN 2 THEN 'cold' WHEN 3 THEN 'clear'
            |ELSE 'snow' END""".stripMargin))
        .select(col("p_partkey"), col("condition"),
          expr(advice.weatherCaseSql("condition")).as("weather_recommendation"),
          expr(advice.tipSql(S, s"CAST(p_partkey % ${advice.nTips} AS INT) + 1"))
            .as("safety_tip"))
        .orderBy("p_partkey")
    },

    Q("q_reminder_explode",
      "T4/D4: reminder-schedule generation — 7 days x per-med reminder times " +
        "cross product via explode (health_api.py:478-497, the reference's one " +
        "generator-shaped operator)",
      Some(s"""SELECT p_partkey, ${D.addHours("day", "h")} AS scheduled
              |FROM (
              |  SELECT p_partkey, day, unnest(hrs) AS h
              |  FROM (
              |    SELECT p_partkey, hrs,
              |      unnest(generate_series(TIMESTAMP '2024-01-01',
              |                             TIMESTAMP '2024-01-07', INTERVAL 1 DAY)) AS day
              |    FROM (SELECT p_partkey,
              |            ${D.slice("[8, 13, 20]", "1", "1 + CAST(p_partkey % 3 AS INT)")} AS hrs
              |          FROM part WHERE p_partkey <= 20)))
              |ORDER BY p_partkey, scheduled""".stripMargin)) { (s, dir) =>
      part(s, dir).filter(col("p_partkey") <= 20)
        .select(col("p_partkey"),
          expr(S.slice("array(8, 13, 20)", "1", "1 + CAST(p_partkey % 3 AS INT)")).as("hrs"))
        .withColumn("day", explode(expr(
          "sequence(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-07', INTERVAL 1 DAY)")))
        .withColumn("h", explode(col("hrs")))
        .select(col("p_partkey"), expr(S.addHours("day", "h")).as("scheduled"))
        .orderBy("p_partkey", "scheduled")
    },

    Q("q_adherence",
      "A2/A3: per-user conditional counts + adherence percentage " +
        "(health_api.py:517-555): purchases/total*100, one pass, no N+1",
      Some(s"""SELECT user_id, count(*) AS n_events,
              |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
              |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
              |  ${text.fixedPoint(
                   "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / count(*)",
                   1)} AS adherence_x10
              |FROM events
              |WHERE user_id < 100
              |GROUP BY user_id
              |ORDER BY user_id""".stripMargin)) { (s, dir) =>
      events(s, dir).filter(col("user_id") < 100)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).cast("long").as("n_purchase"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("n_error"),
          expr(text.fixedPoint(
            "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0 / count(*)",
            1)).as("adherence_x10"))
        .orderBy("user_id")
    },

    Q("q_sessionize",
      "T1/T2 batch twin: 30-min-gap sessionization via lag + running sum " +
        "window, then per-user session stats (the chat-loop keyed state, " +
        "main.py:512-610, as a batch plan)",
      Some(s"""SELECT user_id, count(*) AS n_events,
              |  CAST(max(session_id) AS BIGINT) AS n_sessions
              |FROM (
              |  SELECT user_id, ts,
              |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              |  FROM (
              |    SELECT user_id, ts, event_id,
              |      CASE WHEN ${D.epochSeconds("ts")} -
              |        ${D.epochSeconds("lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)")}
              |        > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              |      THEN 1 ELSE 0 END AS is_new
              |    FROM events WHERE user_id < 200))
              |GROUP BY user_id
              |ORDER BY user_id""".stripMargin)) { (s, dir) =>
      val byTs = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).filter(col("user_id") < 200)
        .withColumn("prev_ts", lag(col("ts"), 1).over(byTs))
        .withColumn("is_new",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(run))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(col("session_id")).cast("long").as("n_sessions"))
        .orderBy("user_id")
    },

    Q("q_daily_window",
      "T3: tumbling daily window aggregation over the event stream " +
        "(batch twin of the Structured Streaming pipeline in graft.streaming)",
      // day ships as a 'yyyy-MM-dd' STRING: DATE/TIMESTAMP outputs reach the
      // comparer through different type bridges (DuckDB DATE → pandas
      // Timestamp, Spark date32 → datetime.date) and hash apart
      Some(s"""SELECT strftime(CAST(${D.dayTrunc("ts")} AS DATE), '%Y-%m-%d') AS day,
              |  event_type, count(*) AS n,
              |  ${text.fixedPoint("avg(value)", 2)} AS avg_val_x100
              |FROM events
              |GROUP BY 1, 2
              |ORDER BY day, event_type""".stripMargin)) { (s, dir) =>
      events(s, dir)
        .groupBy(date_format(expr(S.dayTrunc("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr(text.fixedPoint("avg(value)", 2)).as("avg_val_x100"))
        .orderBy("day", "event_type")
    },

    Q("q_ohlc_resample",
      "Time-series resampling to OHLC bars (the telemetry/finance " +
        "downsample every metrics store runs): per (event_type, hour) " +
        "the first/max/min/last value plus the event count, cents-exact. " +
        "Open/close are defined by (ts, event_id) order — the unique " +
        "tie-break the determinism contract requires — via two windows " +
        "PARTITIONED by the (type, bucket) key, so a key-hour's bar " +
        "builds inside one partition and the downsample output is " +
        "bars-sized, not events-sized. Hour buckets ship as strings " +
        "(the q_daily_window type-bridge rule)",
      Some("""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
             |    ts, event_id, CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |r AS (SELECT *,
             |    row_number() OVER (PARTITION BY event_type, bucket
             |      ORDER BY ts, event_id) AS rn_a,
             |    row_number() OVER (PARTITION BY event_type, bucket
             |      ORDER BY ts DESC, event_id DESC) AS rn_d
             |  FROM e)
             |SELECT event_type,
             |  strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_h,
             |  CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_c,
             |  CAST(max(cents) AS BIGINT) AS high_c,
             |  CAST(min(cents) AS BIGINT) AS low_c,
             |  CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_c,
             |  count(*) AS n_events
             |FROM r GROUP BY event_type, bucket
             |ORDER BY event_type, bucket_h""".stripMargin)) { (s, dir) =>
      val e = events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket"),
          col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("event_type", "bucket")
      e.withColumn("rn_a",
          row_number().over(w.orderBy(col("ts"), col("event_id"))))
        .withColumn("rn_d",
          row_number().over(w.orderBy(col("ts").desc, col("event_id").desc)))
        .groupBy(col("event_type"),
          date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket_h"))
        .agg(max(when(col("rn_a") === 1, col("cents"))).cast("long").as("open_c"),
          max("cents").cast("long").as("high_c"),
          min("cents").cast("long").as("low_c"),
          max(when(col("rn_d") === 1, col("cents"))).cast("long").as("close_c"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type", "bucket_h")
    },

    Q("q_sliding_window",
      "Sliding-window aggregation: 2-day windows sliding 1 day (each event " +
        "lands in two windows) — the trend-smoothing sibling of " +
        "q_daily_window's tumbling windows; Spark's window() generator " +
        "checked against an explicit two-window unnest in the oracle",
      Some(s"""SELECT strftime(ws, '%Y-%m-%d') AS win_start, event_type, count(*) AS n
              |FROM (
              |  SELECT event_type,
              |    unnest([date_trunc('day', ts),
              |            date_trunc('day', ts) - INTERVAL 1 DAY]) AS ws
              |  FROM events)
              |GROUP BY ws, event_type
              |ORDER BY win_start, event_type""".stripMargin)) { (s, dir) =>
      events(s, dir)
        .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("win_start"),
          col("event_type"), col("n"))
        .orderBy("win_start", "event_type")
    },

    Q("q_gap_fill",
      "Time-series gap fill: daily counts of rare events (value > 200) per " +
        "type, with MISSING (day, type) combinations restored as explicit " +
        "zeros over the observed day span — the resample/reindex step every " +
        "monitoring dashboard needs before plotting or anomaly-scoring a " +
        "sparse series. One scan builds the tiny daily aggregate " +
        "(shared — bounded by days x types, never by raw rows); " +
        "the day spine and type list derive from it without re-reading " +
        "events, and the fill join is broadcast",
      Some(s"""WITH f AS (
              |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type
              |  FROM events WHERE value > 200.0),
              |daily AS (SELECT day, event_type, count(*) AS n FROM f GROUP BY 1, 2),
              |span AS (SELECT CAST(unnest(generate_series(min(day), max(day),
              |                 INTERVAL 1 DAY)) AS DATE) AS day FROM daily),
              |types AS (SELECT DISTINCT event_type AS etype FROM daily)
              |SELECT strftime(s.day, '%Y-%m-%d') AS day, t.etype AS event_type,
              |       CAST(COALESCE(d.n, 0) AS BIGINT) AS n
              |FROM span s CROSS JOIN types t
              |LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.etype
              |ORDER BY day, event_type""".stripMargin)) { (s, dir) =>
      val daily = share(events(s, dir)
        .filter(col("value") > 200.0)
        .groupBy(to_date(expr(S.dayTrunc("ts"))).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n")))
      val span = daily.agg(min("day").as("d0"), max("day").as("d1"))
        .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val types = daily.select("event_type").distinct()
      span.crossJoin(types)
        .join(broadcast(daily), Seq("day", "event_type"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("day", "event_type")
    },

    Q("q_vital_rules",
      "X16: per-type threshold rule dispatch → abnormality flag + grouped " +
        "counts (health_api.py:500-514 when-chain)",
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CASE
             |    WHEN event_type = 'click' AND value > 80 THEN 1
             |    WHEN event_type = 'view' AND value > 90 THEN 1
             |    WHEN event_type = 'purchase' AND value < 10 THEN 1
             |    WHEN event_type = 'error' AND value > 50 THEN 1
             |    WHEN event_type = 'signup' AND (value < 20 OR value > 80) THEN 1
             |    ELSE 0 END) AS BIGINT) AS n_abnormal
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)) { (s, dir) =>
      events(s, dir)
        .withColumn("abnormal",
          when(col("event_type") === "click" && col("value") > 80, 1)
            .when(col("event_type") === "view" && col("value") > 90, 1)
            .when(col("event_type") === "purchase" && col("value") < 10, 1)
            .when(col("event_type") === "error" && col("value") > 50, 1)
            .when(col("event_type") === "signup" && (col("value") < 20 || col("value") > 80), 1)
            .otherwise(0))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("abnormal")).cast("long").as("n_abnormal"))
        .orderBy("event_type")
    },

    Q("q_approx_distinct",
      "A5/A9 scale variant: approx_count_distinct (HLL++ sketch, map-side " +
        "mergeable — one narrow pass where the exact distinct is a full " +
        "shuffle of the key universe). Oracle-checkable form: the raw " +
        "estimate is engine-specific, so the output carries the EXACT " +
        "counts plus `*_ok = |est - exact| <= 3*rsd*exact` booleans; the " +
        "DuckDB twin computes the same exact counts and literal TRUE, and " +
        "the hash matches iff every sketch landed inside its advertised " +
        "3-sigma bound (Spark's HLL++ is seed-free/deterministic per " +
        "dataset, so the booleans are stable). Default rsd (0.05): " +
        "tightening to 0.01 multiplies the register file 32x and " +
        "benchmarked ~8x slower per sketch for 5x tighter error — counts " +
        "that gate a curation run don't need 1%. Exact + approx are two " +
        "separate 1-row aggregates cross-joined, NOT one combined agg: " +
        "Catalyst's distinct-rewrite would group by the distinct key " +
        "and drag every HLL buffer along PER KEY (unbounded at 100 TB); " +
        "the exact side exists only to grade the sketch — at 100 TB a " +
        "user runs the approx pass alone. TRIAGE: a *_ok=false on new " +
        "data/SF means the sketch exceeded its advertised bound (a sketch " +
        "property, tune rsd), NOT an engine bug — the exact columns beside " +
        "it would still hash-match",
      Some("""SELECT count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps,
             |  count(DISTINCT l_orderkey) AS n_orders,
             |  TRUE AS parts_ok, TRUE AS supps_ok, TRUE AS orders_ok
             |FROM lineitem""".stripMargin)) { (s, dir) =>
      val li = lineitem(s, dir)
      val approx = li.agg(
        approx_count_distinct(col("l_partkey")).as("a_parts"),
        approx_count_distinct(col("l_suppkey")).as("a_supps"),
        approx_count_distinct(col("l_orderkey")).as("a_orders"))
      val exact = li.agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      def ok(a: String, e: String): Column =
        abs(col(a) - col(e)) <= col(e) * (3 * 0.05)
      exact.crossJoin(broadcast(approx))
        .select(col("n_parts"), col("n_supps"), col("n_orders"),
          ok("a_parts", "n_parts").as("parts_ok"),
          ok("a_supps", "n_supps").as("supps_ok"),
          ok("a_orders", "n_orders").as("orders_ok"))
    },

    Q("q_revenue_by_nation",
      "A1/J1 at star-schema scale (TPC-H Q5 shape): lineitem ⋈ orders ⋈ " +
        "customer ⋈ supplier ⋈ nation ⋈ region with local-supplier " +
        "condition and a year window. The plan the 100 TB story rides on: " +
        "region/nation/supplier broadcast (no shuffle for dims), the one " +
        "big fact shuffle keyed by orderkey, cents-exact revenue sum",
      Some("""SELECT n_name, count(*) AS n_items,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |JOIN orders   ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation   ON c_nationkey = n_nationkey
             |JOIN region   ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND c_nationkey = s_nationkey
             |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
             |GROUP BY n_name
             |ORDER BY revenue_cents DESC, n_name""".stripMargin)) { (s, dir) =>
      val o = orders(s, dir).filter(
        col("o_orderdate") >= expr("TIMESTAMP '1997-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP '1998-01-01 00:00:00'"))
      lineitem(s, dir)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier(s, dir)), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey") &&
          col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_items"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy(desc("revenue_cents"), col("n_name"))
    },

    Q("q_quantiles",
      "Exact quantiles per group: p25/p50/p75 of l_quantity by returnflag. " +
        "Dyadic fractions over integer-valued doubles make linear " +
        "interpolation bit-exact in both engines; non-dyadic fractions or " +
        "fractional values would need the fixed-point trick. The 100 TB " +
        "variant is q_approx_quantiles (mergeable sketch, no global sort)",
      Some("""SELECT l_returnflag, count(*) AS n,
             |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
             |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.50) AS p50,
             |  quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(CAST(l_quantity AS DOUBLE), 0.25)").as("p25"),
          expr("percentile(CAST(l_quantity AS DOUBLE), 0.50)").as("p50"),
          expr("percentile(CAST(l_quantity AS DOUBLE), 0.75)").as("p75"))
        .orderBy("l_returnflag")
    },

    Q("q_approx_quantiles",
      "Quantiles at 100 TB: approx_percentile (GK sketch, map-side " +
        "combinable, no global sort — the exact percentile buffers every " +
        "value of the group on one thread, which is exactly what cannot " +
        "happen at scale; the exact twin is the grouped q_quantiles). " +
        "Oracle-checkable form: sketch VALUES are engine-specific, but the " +
        "GK rank guarantee is not — the output is scalar booleans " +
        "`*_ok` = the estimate's exact rank lies within 2*(1/accuracy) of " +
        "the requested quantile (GK guarantees 1/accuracy; 2x absorbs the " +
        "< vs <= rank-definition edge), graded by a second counting pass " +
        "over the 1-row broadcast estimates. GK is deterministic per " +
        "dataset, so TRUE is stable and the DuckDB twin is literal TRUE. " +
        "Scalar columns, not the r2 array output — the driver's pandas " +
        "comparator cannot hash arrays (VERDICT r2 item 1). TRIAGE: a " +
        "*_ok=false on new data means the sketch exceeded its rank bound " +
        "(tune accuracy), NOT an engine bug",
      Some("""SELECT count(*) AS n,
             |  TRUE AS price_p50_ok, TRUE AS price_p95_ok,
             |  TRUE AS price_p99_ok, TRUE AS qty_p50_ok
             |FROM lineitem""".stripMargin)) { (s, dir) =>
      val acc = 10000
      val eps = 2.0 / acc
      val li = lineitem(s, dir)
      val est = li.agg(
          expr(s"approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), $acc)")
            .as("pe"),
          expr(s"approx_percentile(l_quantity, 0.5, $acc)").as("qe"))
        .select(col("pe")(0).as("e50"), col("pe")(1).as("e95"),
          col("pe")(2).as("e99"), col("qe"))
      // rank check: #(x < est) <= (phi+eps)n  AND  #(x <= est) >= (phi-eps)n
      def lt(c: String, e: String) = sum(when(col(c) < col(e), 1L).otherwise(0L))
      def le(c: String, e: String) = sum(when(col(c) <= col(e), 1L).otherwise(0L))
      def rankOk(ltc: String, lec: String, phi: Double): Column =
        col(ltc) <= (lit(phi) + eps) * col("n") &&
          col(lec) >= (lit(phi) - eps) * col("n")
      li.crossJoin(broadcast(est))
        .agg(count(lit(1)).as("n"),
          lt("l_extendedprice", "e50").as("lt50"), le("l_extendedprice", "e50").as("le50"),
          lt("l_extendedprice", "e95").as("lt95"), le("l_extendedprice", "e95").as("le95"),
          lt("l_extendedprice", "e99").as("lt99"), le("l_extendedprice", "e99").as("le99"),
          lt("l_quantity", "qe").as("ltq"), le("l_quantity", "qe").as("leq"))
        .select(col("n"),
          rankOk("lt50", "le50", 0.50).as("price_p50_ok"),
          rankOk("lt95", "le95", 0.95).as("price_p95_ok"),
          rankOk("lt99", "le99", 0.99).as("price_p99_ok"),
          rankOk("ltq", "leq", 0.50).as("qty_p50_ok"))
    },

    Q("q_corr_stats",
      "Exact-integer correlation + regression slope of (quantity, price) " +
        "per returnflag: the five raw moments accumulate as DECIMAL/HUGEINT " +
        "(sum of squared cents passes 2^63 already at sf0.1 — a naive " +
        "BIGINT sum silently wraps), then the corr/slope doubles are " +
        "computed from the EXACT integer moments with the identical " +
        "expression in both engines, so no accumulation-order noise can " +
        "flip a digit. Map-side combinable one-pass moments — the " +
        "shuffle carries 6 numbers per group, never the rows",
      Some(s"""WITH s AS (
              |  SELECT l_returnflag, count(*) AS n,
              |    sum(CAST(l_quantity AS BIGINT)) AS sx,
              |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
              |    sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
              |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              |        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
              |    sum(CAST(l_quantity AS BIGINT)
              |        * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
              |  FROM lineitem GROUP BY 1)
              |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
              |  ${text.fixedPoint(CorrExpr, 6)} AS corr_x1m,
              |  ${text.fixedPoint(SlopeExpr, 6)} AS slope_x1m
              |FROM s ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
      val x = col("l_quantity").cast("decimal(18,0)")
      val y = round(col("l_extendedprice") * 100).cast("decimal(18,0)")
      lineitem(s, dir)
        .select(col("l_returnflag"), x.as("x"), y.as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          expr(text.fixedPoint(CorrExpr, 6)).as("corr_x1m"),
          expr(text.fixedPoint(SlopeExpr, 6)).as("slope_x1m"))
        .orderBy("l_returnflag")
    },

    Q("q_group_topk",
      "Per-group top-3 orders by price via the mergeable bounded-buffer " +
        "Aggregator (operators/TopK): the shuffle carries at most k rows " +
        "per group per map partition, where the window-rank formulation " +
        "(the oracle here, and q_latest_per_group/q_source_cap's shape) " +
        "sorts entire groups after the exchange — one hot group at 100 TB " +
        "is millions of buffered rows on one task for a 3-row answer. " +
        "Ties break by orderkey, so both formulations agree exactly",
      Some("""SELECT o_orderpriority, rank, o_orderkey, price_cents FROM (
             |  SELECT o_orderpriority, o_orderkey,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY round(o_totalprice * 100) DESC, o_orderkey) AS rank
             |  FROM orders)
             |WHERE rank <= 3
             |ORDER BY o_orderpriority, rank""".stripMargin)) { (s, dir) =>
      val tk = graft.operators.TopK.topK(3)
      orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"),
          // cents as exact integer-valued doubles: Scored.score compares
          // them exactly (< 2^53), and the cast back to long is lossless
          round(col("o_totalprice") * 100).as("score"))
        .groupBy("o_orderpriority")
        .agg(tk(col("o_orderkey"), col("score")).as("tk"))
        .select(col("o_orderpriority"), posexplode(col("tk")))
        .select(col("o_orderpriority"),
          (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("o_orderkey"),
          col("col.score").cast("long").as("price_cents"))
        .orderBy("o_orderpriority", "rank")
    },

    Q("q_rollup",
      "Hierarchical totals via ROLLUP(returnflag, linestatus): detail rows, " +
        "per-flag subtotals and the grand total in ONE pass (Spark expands " +
        "grouping sets before the exchange, so partial aggregation still " +
        "applies — no second scan for the totals); cents-exact revenue",
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)) { (s, dir) =>
      lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).as("revenue_cents"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("revenue_cents"))
        .orderBy("returnflag", "linestatus")
    },

    Q("q_cube",
      "CUBE(returnflag, linestatus): all four grouping levels (detail, " +
        "each single-dimension margin, grand total) in one pass — the " +
        "margin rows a dashboard wants without re-scanning per level; " +
        "same grouping-set expansion before the exchange as q_rollup",
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  count(*) AS n,
             |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty
             |FROM lineitem
             |GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)) { (s, dir) =>
      lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"))
        .orderBy("returnflag", "linestatus")
    },

    Q("q_pivot",
      "Pivot: per-user event-type counts as columns (Spark's pivot operator " +
        "with an EXPLICIT value list — an unlisted-values pivot needs a " +
        "distinct-collect pre-pass to the driver, which is a hidden extra " +
        "job at scale; the oracle states the same table as conditional " +
        "aggregation, the form pivot compiles to)",
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events
             |WHERE user_id < 50
             |GROUP BY user_id
             |ORDER BY user_id""".stripMargin)) { (s, dir) =>
      events(s, dir).filter(col("user_id") < 50)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "purchase", "view"))
        .count()
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("purchase"), lit(0L)).as("purchase"),
          coalesce(col("view"), lit(0L)).as("view"))
        .orderBy("user_id")
    },

    Q("q_salted_join",
      "Skew-mitigated join: events ⋈ customer with the events shuffle key " +
        "salted 8 ways (deterministic pmod(hash(event_id), 8) salt, customer " +
        "side replicated x8) then grouped by segment — results are exactly " +
        "the unsalted join's, which is what the plain-SQL oracle checks; at " +
        "100 TB this is how one hot user stops holding an executor hostage",
      Some(s"""SELECT c_mktsegment, count(*) AS n,
              |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_val_x100
              |FROM events JOIN customer ON user_id = c_custkey
              |GROUP BY c_mktsegment
              |ORDER BY c_mktsegment""".stripMargin)) { (s, dir) =>
      graft.operators.Skew.saltedJoin(
          events(s, dir), "user_id", "event_id",
          customer(s, dir).select("c_custkey", "c_mktsegment"), "c_custkey", n = 8)
        .groupBy("c_mktsegment")
        // cents trick, not a fixed-point of sum(double): per-row rounding
        // then integer sum is independent of accumulation order, which the
        // salted shuffle deliberately changes
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).cast("long").as("sum_val_x100"))
        .orderBy("c_mktsegment")
    },

    Q("q_last_location",
      "T1 batch twin: last-known-location carry-forward — every 7th event " +
        "carries 'Latitude X, Longitude Y' text, regex-parsed (X6) and " +
        "carried forward per user with last(_, ignoreNulls) over the " +
        "(ts, event_id) window (main.py:549-552's mutable conversation " +
        "state as one declarative window; the streaming twin is " +
        "EventsStream.withLastKnownLocation, same fold as keyed state)",
      Some {
        val latE = geo.synthLatSql("(user_id + event_id)")
        val lonE = geo.synthLonSql("(user_id + event_id)")
        val win = "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        s"""SELECT event_id,
           |  coalesce(${text.fixedPoint(s"last_value(lat IGNORE NULLS) $win", 4)}, -1) AS last_lat_x10k,
           |  coalesce(${text.fixedPoint(s"last_value(lon IGNORE NULLS) $win", 4)}, -1) AS last_lon_x10k
           |FROM (
           |  SELECT event_id, user_id, ts,
           |    CAST(nullif(regexp_extract(msg, 'Latitude ([-+]?[0-9.]+), Longitude ([-+]?[0-9.]+)', 1), '') AS DOUBLE) AS lat,
           |    CAST(nullif(regexp_extract(msg, 'Latitude ([-+]?[0-9.]+), Longitude ([-+]?[0-9.]+)', 2), '') AS DOUBLE) AS lon
           |  FROM (
           |    SELECT event_id, user_id, ts,
           |      CASE WHEN event_id % 7 = 0
           |           THEN 'at Latitude ' || CAST($latE AS VARCHAR) ||
           |                ', Longitude ' || CAST($lonE AS VARCHAR)
           |           ELSE 'no location in this message' END AS msg
           |    FROM events WHERE user_id < 50))
           |ORDER BY event_id""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.expressions.{Window => W}
      val msgs = events(s, dir).filter(col("user_id") < 50)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_id") % 7 === 0,
            concat(lit("at Latitude "),
              geo.synthLat(col("user_id") + col("event_id")).cast("string"),
              lit(", Longitude "),
              geo.synthLon(col("user_id") + col("event_id")).cast("string")))
            .otherwise(lit("no location in this message")).as("msg"))
      val parsed = graft.streaming.EventsStream.parseLocations(msgs, "msg")
      val w = W.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      parsed
        .withColumn("last_lat", last(col("lat"), ignoreNulls = true).over(w))
        .withColumn("last_lon", last(col("lon"), ignoreNulls = true).over(w))
        .select(col("event_id"),
          coalesce(expr(text.fixedPoint("last_lat", 4)), lit(-1L)).as("last_lat_x10k"),
          coalesce(expr(text.fixedPoint("last_lon", 4)), lit(-1L)).as("last_lon_x10k"))
        .orderBy("event_id")
    },

    Q("q_asof_join",
      "As-of join (operators/AsOfJoin): each purchase event matched to the " +
        "user's most recent click at-or-before it. Spark has no asof " +
        "operator; the union+tagged-window implementation is one shuffle + " +
        "one partitioned window (no per-row history scan), and the oracle " +
        "is DuckDB's NATIVE ASOF LEFT JOIN — two independent algorithms, " +
        "same rows. Right side pre-aggregated to one row per (user, ts) " +
        "per the operator's uniqueness contract",
      Some(s"""WITH purchases AS (
              |  SELECT event_id, user_id, ts FROM events
              |  WHERE event_type = 'purchase' AND user_id < 200),
              |clicks AS (
              |  SELECT user_id, ts, max(value) AS click_value FROM events
              |  WHERE event_type = 'click' GROUP BY user_id, ts)
              |SELECT p.event_id,
              |  coalesce(${D.epochSeconds("p.ts")} - ${D.epochSeconds("c.ts")}, -1) AS lag_s,
              |  coalesce(${text.fixedPoint("c.click_value", 2)}, -1) AS click_value_x100
              |FROM purchases p ASOF LEFT JOIN clicks c
              |  ON p.user_id = c.user_id AND p.ts >= c.ts
              |ORDER BY p.event_id""".stripMargin)) { (s, dir) =>
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase" && col("user_id") < 200)
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts")
        .agg(max(col("value")).as("click_value"))
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"), col("click_value"))
      graft.operators.AsOfJoin
        .asOfLatest(purchases, clicks, "user_id", "ts", "ts",
          payloadCols = Seq("click_ts", "click_value"))
        .select(col("event_id"),
          coalesce(unix_timestamp(col("ts")) - unix_timestamp(col("asof.click_ts")),
            lit(-1L)).as("lag_s"),
          coalesce(expr(text.fixedPoint("asof.click_value", 2)), lit(-1L))
            .as("click_value_x100"))
        .orderBy("event_id")
    },

    Q("q_interval_join",
      "Interval-containment join (IntervalJoin.containsJoin): per-user " +
        "campaign windows x the events inside them, blocked by 1-day time " +
        "buckets — intervals replicate to the buckets they span, events " +
        "stay in one home bucket, every qualifying pair meets exactly once " +
        "(the temporal gridPairs). Oracle states the same result as a " +
        "direct BETWEEN theta-join — the per-key cross product this " +
        "operator exists to avoid at scale",
      Some(s"""WITH iv AS (
              |  SELECT c_custkey AS user_id,
              |    TIMESTAMP '2024-01-01 00:00:00' + CAST(c_custkey % 20 AS BIGINT) * INTERVAL 1 DAY AS start_ts,
              |    TIMESTAMP '2024-01-01 00:00:00' + CAST(c_custkey % 20 + c_custkey % 3 + 1 AS BIGINT) * INTERVAL 1 DAY AS end_ts
              |  FROM customer WHERE c_custkey < 50)
              |SELECT iv.user_id, count(*) AS n_events,
              |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_val_x100
              |FROM iv JOIN events e
              |  ON e.user_id = iv.user_id
              | AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
              |GROUP BY iv.user_id
              |ORDER BY iv.user_id""".stripMargin)) { (s, dir) =>
      val iv = customer(s, dir).filter(col("c_custkey") < 50)
        .select(col("c_custkey").as("user_id"),
          expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0, CAST(c_custkey % 20 AS INT), 0,0,0)").as("start_ts"),
          expr("TIMESTAMP '2024-01-01 00:00:00' + make_interval(0,0,0, CAST(c_custkey % 20 + c_custkey % 3 + 1 AS INT), 0,0,0)").as("end_ts"))
      graft.operators.IntervalJoin
        .containsJoin(iv, events(s, dir), "user_id", "start_ts", "end_ts",
          "ts", bucketMinutes = 24 * 60)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("e_value") * 100).cast("long")).cast("long").as("sum_val_x100"))
        .orderBy("user_id")
    },

    Q("q_dashboard_counts",
      "Entry point 3 (health_api.py:421-471): the 7-query dashboard fan-out " +
        "collapsed into one row of independent scalar aggregates",
      Some("""SELECT
             |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'O') AS n_open_orders,
             |  (SELECT count(*) FROM events WHERE event_type = 'error') AS n_errors,
             |  (SELECT count(*) FROM customer WHERE c_mktsegment = 'BUILDING') AS n_building
             |""".stripMargin)) { (s, dir) =>
      val a = orders(s, dir).filter(col("o_orderstatus") === "O")
        .agg(count(lit(1)).as("n_open_orders"))
      val b = events(s, dir).filter(col("event_type") === "error")
        .agg(count(lit(1)).as("n_errors"))
      val c = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .agg(count(lit(1)).as("n_building"))
      a.crossJoin(b).crossJoin(c)
    },

    Q("q_rolling_dau",
      "Rolling 7-day active users per day — the engagement metric every " +
        "product dashboard wants and plain windows cannot express (neither " +
        "engine supports COUNT(DISTINCT) over a RANGE frame). Formulation: " +
        "the distinct-day spine (tiny — one row per calendar day, whatever " +
        "the corpus size) range-joins the events table on [day-6, day], " +
        "then one distinct-count per spine day. Scale shape: the spine " +
        "broadcasts, so the range join is a broadcast nested-loop over a " +
        "≤7-match predicate — events are scanned once, never self-joined; " +
        "the 7× row amplification is the bounded explode every " +
        "sliding-distinct formulation pays (q_sliding_window's stance). " +
        "Day arithmetic uses the shared addHours fragment (-144 h = -6 d) " +
        "so both engines compare identical TIMESTAMP values",
      Some {
        val eday = D.dayTrunc("e.ts")
        s"""WITH d AS (
           |  SELECT DISTINCT ${D.dayTrunc("ts")} AS day FROM events),
           |j AS (
           |  SELECT d.day, e.user_id
           |  FROM d JOIN events e
           |    ON $eday >= ${D.addHours("d.day", "-144")}
           |   AND $eday <= d.day)
           |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau_7d,
           |  CAST(count(*) AS BIGINT) AS n_events_7d
           |FROM j GROUP BY day ORDER BY day""".stripMargin
      }) { (s, dir) =>
      val ev = events(s, dir)
        .select(expr(S.dayTrunc("ts")).as("eday"), col("user_id"))
      val days = ev.select(col("eday").as("day")).distinct()
      ev.join(broadcast(days),
          col("eday") >= expr(S.addHours("day", "-144")) &&
            col("eday") <= col("day"))
        .groupBy("day")
        .agg(countDistinct(col("user_id")).cast("long").as("wau_7d"),
          count(lit(1)).cast("long").as("n_events_7d"))
        .orderBy("day")
    }
  )
}
