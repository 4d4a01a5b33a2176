package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Int8 scalar quantization for the embedding store.
  *
  * At 100 TB the embedding column IS the corpus cost: 768-dim float32 is
  * 3 KB/row; int8 codes + one float scale are ~770 B — a 4× cheaper scan
  * for every ANN probe, dedup pass, and export. Per-vector symmetric
  * quantization: `code[j] = round(127 * x[j] / max|x|)`, `scale =
  * max|x| / 127`, so `dot(a, b) ≈ scale_a * scale_b * Σ code_a·code_b`
  * with the integer sum exact in Long (127² × dim ≪ 2⁶³). Search runs
  * two-stage: approximate scores on codes over-fetch `overFetch × k`
  * candidates, exact float cosine re-ranks them ([[VectorSearch]] style) —
  * the same candidate/refine contract as every blocked operator here
  * (bbox → haversine, LSH band → Jaccard, bucket → cosine).
  *
  * All arithmetic is deterministic (round-half-up on exact doubles, int
  * accumulation), so codes and approximate scores replay identically on
  * any cluster size.
  */
object Quantize {

  /** code array + scale for one vector; zero vector → all-zero codes,
    * scale 0 (dequantizes to the zero vector, cosine guard handles it). */
  private[graft] def encode(emb: Array[Double]): (Array[Byte], Double) = {
    var maxAbs = 0.0
    var j = 0
    while (j < emb.length) {
      val a = math.abs(emb(j)); if (a > maxAbs) maxAbs = a; j += 1
    }
    val codes = new Array[Byte](emb.length)
    if (maxAbs > 0.0) {
      val f = 127.0 / maxAbs
      j = 0
      while (j < emb.length) {
        codes(j) = math.floor(emb(j) * f + 0.5).toByte
        j += 1
      }
    }
    (codes, if (maxAbs > 0.0) maxAbs / 127.0 else 0.0)
  }

  private val encodeUdf = udf { (emb: Array[Double]) =>
    if (emb == null) null else { val (c, s) = encode(emb); (c, s) }
  }

  private val approxDotUdf = udf {
    (a: Array[Byte], sa: java.lang.Double, b: Array[Byte], sb: java.lang.Double) =>
      if (a == null || b == null || sa == null || sb == null) null
      else {
        // a length mismatch means the persisted codes do not belong to
        // this embedding column (stale store, wrong column) — truncating
        // the dot would silently destroy recall; fail loudly instead
        if (a.length != b.length) throw new IllegalStateException(
          s"int8 code length mismatch: ${a.length} vs ${b.length} — " +
            "persisted q_codes do not match the query's embedding dimension")
        var acc = 0L
        var i = 0
        while (i < a.length) { acc += a(i).toLong * b(i).toLong; i += 1 }
        java.lang.Double.valueOf(acc * sa * sb)
      }
  }

  /** Adds `q_codes` (BINARY — Spark's Array[Byte] mapping, one byte per
    * dimension) + `q_scale` (double) next to the float column — the
    * compact store; callers may then drop or lazy-load the float column
    * and keep it only for re-ranking. A frame that ALREADY carries both
    * code columns (the persisted store this function exists to produce)
    * passes through untouched, so [[topK]] on a coded corpus reuses the
    * stored codes instead of recomputing — or refusing. Only a PARTIAL
    * clash (one of the two, or the `__q` scratch name) fails loudly:
    * that is caller data this function would silently overwrite.
    *
    * Freshness: fresh encodes also stamp `q_sig` — xxhash64 of the
    * (double-cast) embedding — next to the codes, and [[topK]] re-checks
    * it per candidate row on the re-rank page (where the float column is
    * being read anyway), so a store whose embeddings were re-generated
    * after encoding fails loudly instead of silently ranking on stale
    * codes. A store persisted WITHOUT `q_sig` (pre-token layout) still
    * reuses with the dimension-mismatch guard alone — the caller contract
    * documented here. */
  def withCodes(df: DataFrame, embCol: String): DataFrame = {
    val have = Seq("q_codes", "q_scale").filter(df.columns.contains)
    if (have.size == 2) return df
    val clash = have ++ Seq("__q", "q_sig").filter(df.columns.contains)
    require(clash.isEmpty,
      s"withCodes would overwrite existing column(s): ${clash.mkString(", ")}")
    df.withColumn("__q", encodeUdf(col(embCol).cast("array<double>")))
      .withColumn("q_codes", col("__q._1"))
      .withColumn("q_scale", col("__q._2"))
      .withColumn("q_sig", xxhash64(col(embCol).cast("array<double>")))
      .drop("__q")
  }

  /** The quantized point faces' loud 1-row query contract — ONE body
    * for the whole serving surface ([[AnnIndex.oneQueryRow]]), bound to
    * this file's fixed `qe` query column; two copies of the
    * load-bearing contract would drift independently. */
  private def oneQueryRow(query: DataFrame, what: String): DataFrame =
    AnnIndex.oneQueryRow(query, "qe", what)

  /** Two-stage top-k: approximate dot on int8 codes selects
    * `overFetch × k` candidates (narrow scan of codes+scale only), exact
    * float cosine re-ranks the survivors. Query comes as a 1-row frame
    * with column `qe` (array<double>), like [[VectorSearch.knnByExample]].
    */
  def topK(corpus: DataFrame, embCol: String, query: DataFrame,
           k: Int, overFetch: Int = 4, tieBreak: Seq[String] = Nil): DataFrame = {
    // helper/output names the join would clobber or make ambiguous —
    // internals, not a persistable contract, so loud failure is right
    val reserved = Seq("qe", "qq_codes", "qq_scale", "approx_sim", "similarity")
      .filter(corpus.columns.contains)
    require(reserved.isEmpty,
      s"topK reserves column name(s): ${reserved.mkString(", ")}")
    // ONE query row, checked loudly — the shared point-face contract
    // ([[AnnIndex.annTopKWideIndexed]] / [[AnnIndex.ivfTopKAssigned]]):
    // both ranking stages below are GLOBAL orderBy+limit, so a multi-row
    // frame would blend every query's candidates into one top-k with no
    // error; deriving everything from the one collected row also keeps a
    // non-deterministic 1-row plan from ranking with one embedding and
    // re-ranking with another.
    val qLocal = oneQueryRow(query, "topK")
    // query vectors are transient — drop their freshness stamp so it can't
    // collide with the corpus store's q_sig across the join
    val q = withCodes(qLocal.select(col("qe").cast("array<double>").as("qe")), "qe")
      .withColumnRenamed("q_codes", "qq_codes")
      .withColumnRenamed("q_scale", "qq_scale")
      .drop("q_sig")
    val coded = withCodes(corpus, embCol)
    val cand = coded.crossJoin(broadcast(q))
      .withColumn("approx_sim",
        approxDotUdf(col("q_codes"), col("q_scale"),
          col("qq_codes"), col("qq_scale")))
      .orderBy((desc("approx_sim") +: tieBreak.map(col)): _*)
      .limit(k * overFetch)
    // freshness re-check on the re-rank page only (the float column is in
    // hand here anyway; the approx stage above stays a narrow codes scan):
    // assert_true yields NULL when fine, so the coalesce(+0.0) keeps the
    // check load-bearing inside the similarity expression — an unused
    // check column would be pruned by the optimizer
    val sim = vectors.cosineSim(col(embCol), col("qe"))
    val checked =
      if (coded.columns.contains("q_sig"))
        sim + coalesce(assert_true(
          col("q_sig") === xxhash64(col(embCol).cast("array<double>")),
          lit(s"stale int8 store: q_sig does not match $embCol — the " +
            "corpus was re-embedded after q_codes were built; re-encode"))
          .cast("double"), lit(0.0))
      else sim
    cand
      .withColumn("similarity", checked)
      .orderBy((desc("similarity") +: tieBreak.map(col)): _*)
      .limit(k)
      .drop("q_codes", "q_scale", "q_sig", "qq_codes", "qq_scale", "qe",
        "approx_sim")
  }

  // --- Product quantization (PQ) -------------------------------------------
  //
  // The codebook step past int8: split each dim-vector into m subvectors,
  // k-means each subspace into nCentroids centroids, store one centroid id
  // (a byte) per subspace — m bytes per vector where int8 stores dim bytes
  // (dim=64, m=4: 64x smaller than float32, 16x smaller than int8). Search
  // uses the asymmetric-distance trick (ADC, Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI'11): per query, ONE
  // m×nCentroids table of exact query-to-centroid partial dots; a
  // candidate's approximate dot is then m table lookups instead of dim
  // multiplies. Shapes at 100 TB: codebooks are KBs (broadcast), encoding
  // is one projection over the corpus, search scans only the m-byte code
  // column + LUT — the float column is touched just for the final re-rank
  // page. Like IVF, k-means is engine-specific, so PQ is spec-pinned (ADC
  // consistency + two-stage recall), not DuckDB-oracled.

  /** per-subspace codebooks: (m, nCentroids, dim/m). Fit on a sample at
    * scale — codebook quality degrades gracefully with sampling, and so
    * does `maxIter`: on a small-corpus fit the cost is m × maxIter Spark
    * JOBS of launch overhead, not arithmetic, so a handful of Lloyd
    * iterations is the right trade when the fit runs inline (offline
    * codebook builds can afford the default).
    *
    * Concurrency policy (the engine's one statement of it): the m
    * per-subspace fits run as driver `Future`s — the only driver-side
    * concurrency in the engine. Everywhere else a query or operator
    * builds in one sequential code path, because overlapping independent
    * jobs changes no result and was never shown to pay in a whole-catalog
    * run. These fits stay concurrent because they are most of the
    * build-time jobs the benchmark exercises (q_pq_topk's m=8 fit: nearly
    * all of its ~70) and what serializing them would cost is unmeasured.
    * Failure contract: every fit settles before pqFit returns or throws,
    * so a failed subspace leaves no sibling job running and no checkpoint
    * block held; the first failure in subspace order is rethrown. */
  def pqFit(corpus: DataFrame, embCol: String, dim: Int, m: Int,
            nCentroids: Int = 16, seed: Long = 42L,
            maxIter: Int = 10): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    require(nCentroids <= 256, "codes are stored as one byte per subspace")
    val w = dim / m
    // null embeddings crash KMeans.fit; pqEncode null-guards the same rows,
    // so fitting must skip them too (codebooks fit on the non-null corpus)
    // — eagerly localCheckpoint'd for the duration (r13; was cache+count):
    // the m per-subspace fits would otherwise re-scan the source
    // m × iterations times, and each concurrent fit re-optimized the
    // cached plan's full lineage where the leaf is free to re-plan
    val clean = corpus.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<double>").as("__emb"))
      .localCheckpoint(true)
    // each fit's result depends only on (its subvectors, its seed), so
    // concurrency cannot change the codebooks (policy: scaladoc above)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fits = (0 until m).map { s => Future {
      val sub = clean.select(org.apache.spark.ml.functions.array_to_vector(
        slice(col("__emb"), s * w + 1, w)).as("__features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(nCentroids).setSeed(seed + s).setMaxIter(maxIter)
        // seeded random init, not k-means||: the parallel init alone is
        // ~5 extra distributed rounds PER SUBSPACE, which on an inline
        // small-sample fit is pure job-launch overhead; quality-critical
        // offline builds can still pre-cluster their own way and pass
        // custom codebooks to pqEncode
        .setInitMode("random")
        .setFeaturesCol("__features")
        .fit(sub).clusterCenters.map(_.toArray)
    } }
    // the codebooks are driver arrays, so nothing references the fit
    // corpus after this returns — release its checkpoint blocks
    // deterministically (incl. on a failed fit) rather than leaving one
    // corpus copy pinned per pqFit call until driver GC. Settle EVERY
    // future before releasing (Future.sequence fails fast on the first
    // error, but sibling fits may still be mid-job against the checkpoint
    // blocks — releasing under them turns one clean KMeans failure into a
    // cascade of confusing block-fetch errors), then rethrow the first
    // failure in subspace order.
    import scala.util.Try
    val settled = Await.result(
      Future.sequence(fits.map(f => f.transform(Try(_)))), Duration.Inf)
    Dedup.releaseLocalCheckpoint(clean)
    settled.map(_.get).toArray
  }

  /** nearest-centroid id for one subvector (ties → lowest id; exact
    * doubles, so assignment replays identically anywhere) */
  private def nearest(cb: Array[Array[Double]], v: Array[Double],
                      off: Int): Byte = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      var d = 0.0; var j = 0
      while (j < cb(c).length) {
        val t = v(off + j) - cb(c)(j); d += t * t; j += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best.toByte
  }

  /** corpus + `pq_codes` (BINARY, m bytes) + `pq_norm` (the vector's true
    * L2 norm, one float) — the persistable code columns. The norm lets
    * the ADC stage rank by approximate COSINE (adc_dot / (pq_norm ×
    * q_norm)) instead of raw dot, so differing vector lengths cannot leak
    * into the candidate ranking when the ground truth is cosine (a no-op
    * on unit-norm corpora, load-bearing on anything else). Resolution is
    * the recall lever: on the near-uniform test embeddings m=4/nC=16
    * recalled 0.2 of the cosine top-5, m=8/nC=32 recalls 0.8
    * (ModulesSpec) — budget m×log2(nC) bits against how tightly the
    * corpus's similarity gaps bunch. */
  /** Deterministic codebook fingerprint (FNV-1a over the raw double bits):
    * stamped next to the codes at encode time, compared at reuse time, so
    * persisted `pq_codes` from a DIFFERENT codebook fit — even one with
    * the same m/nCentroids, which the shape guards cannot see — fail
    * loudly instead of silently ranking on the wrong centroids. */
  private[graft] def cbFingerprint(cb: Array[Array[Array[Double]]]): Long = {
    var h = 1469598103934665603L
    var s = 0
    while (s < cb.length) {
      var c = 0
      while (c < cb(s).length) {
        var j = 0
        while (j < cb(s)(c).length) {
          val bits = java.lang.Double.doubleToLongBits(cb(s)(c)(j))
          var i = 0
          while (i < 8) {
            h = (h ^ ((bits >>> (8 * i)) & 0xffL)) * 1099511628211L; i += 1
          }
          j += 1
        }
        c += 1
      }
      s += 1
    }
    h
  }

  def pqEncode(df: DataFrame, embCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    // same reuse-or-fail-loudly contract as [[withCodes]]: a frame already
    // carrying both persisted code columns passes through; a partial clash
    // is caller data that would be silently overwritten
    val sig = cbFingerprint(codebooks)
    val have = Seq("pq_codes", "pq_norm").filter(df.columns.contains)
    if (have.size == 2) {
      // freshness token check (when the store carries one): assert_true is
      // folded into pq_norm so the optimizer cannot prune it — pq_norm is
      // load-bearing in every downstream ADC ranking. Pre-token stores
      // (no pq_cb_sig) keep the documented shape-guard-only contract.
      if (!df.columns.contains("pq_cb_sig")) return df
      return df.withColumn("pq_norm", col("pq_norm") +
        coalesce(assert_true(col("pq_cb_sig") === lit(sig),
          lit("stale PQ store: pq_cb_sig does not match these codebooks — " +
            "pq_codes were built from a different fit; re-encode"))
          .cast("double"), lit(0.0)))
    }
    val clash = have ++ Seq("pq_cb_sig").filter(df.columns.contains)
    require(clash.isEmpty,
      s"pqEncode would overwrite existing column(s): ${clash.mkString(", ")}")
    val w = codebooks(0)(0).length
    val fullDim = codebooks.length * w
    val enc = udf { (emb: Array[Double]) =>
      if (emb == null) null
      else {
        // loud dimension contract (the int8 approxDot discipline): a
        // mismatched corpus/codebook pairing would otherwise silently
        // encode only a PREFIX of each vector (recall collapses with no
        // error) or die with a bare AIOOBE on a short row
        require(emb.length == fullDim,
          s"pqEncode: embedding dim ${emb.length} does not match the " +
            s"codebooks' m*w = $fullDim — these codebooks were fit for a " +
            "different column or dim")
        codebooks.indices.map(s => nearest(codebooks(s), emb, s * w)).toArray
      }
    }
    df.withColumn("pq_codes", enc(col(embCol).cast("array<double>")))
      .withColumn("pq_norm", vectors.l2Norm(col(embCol).cast("array<double>")))
      .withColumn("pq_cb_sig", lit(sig))
  }

  /** the ADC lookup table for one query: LUT[s * nCentroids + c] = exact
    * dot(query-subvector-s, centroid c of subspace s) */
  private[graft] def adcTable(codebooks: Array[Array[Array[Double]]],
                              q: Array[Double]): Array[Double] = {
    val m = codebooks.length
    val k = codebooks(0).length
    val w = codebooks(0)(0).length
    // pqEncode's loud dimension contract on the query side: a prefix LUT
    // would silently rank on a truncated dot product
    require(q.length == m * w,
      s"adcTable: query dim ${q.length} does not match the codebooks' " +
        s"m*w = ${m * w}")
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < k) {
        var acc = 0.0; var j = 0
        while (j < w) { acc += q(s * w + j) * codebooks(s)(c)(j); j += 1 }
        lut(s * k + c) = acc
        c += 1
      }
      s += 1
    }
    lut
  }

  /** null query → null LUT; adc/approx_sim go null and desc ordering
    * drops them to the tail (mirrors the int8 path's encodeUdf guard) */
  private def lutUdfFor(codebooks: Array[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (q: Array[Double]) =>
      if (q == null) null else adcTable(codebooks, q)
    }

  private def adcUdfFor(codebooks: Array[Array[Array[Double]]])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val m = codebooks.length
    val nC = codebooks(0).length
    udf { (codes: Array[Byte], lut: Array[Double]) =>
      if (codes == null || lut == null) null
      else {
        // persisted pq_codes from DIFFERENT codebooks (other m/nC) would
        // index outside their LUT rows or silently sum wrong slots —
        // validate shape per row and fail loudly (cheap: two compares)
        if (codes.length != m) throw new IllegalStateException(
          s"pq_codes have ${codes.length} subspaces, codebooks have $m — " +
            "persisted codes were built with different codebooks")
        var acc = 0.0; var s = 0
        while (s < codes.length) {
          val c = codes(s) & 0xff
          if (c >= nC) throw new IllegalStateException(
            s"pq code $c out of range for nCentroids=$nC — persisted codes " +
              "were built with different codebooks")
          acc += lut(s * nC + c); s += 1
        }
        java.lang.Double.valueOf(acc)
      }
    }
  }

  /** Two-stage PQ top-k: ADC approximate dot (m lookups/row over the
    * m-byte code column) over-fetches `overFetch × k`, exact float cosine
    * re-ranks. Same contract as [[topK]]; query is a 1-row frame with
    * `qe` (array<double>). */
  def pqTopK(corpus: DataFrame, embCol: String,
             codebooks: Array[Array[Array[Double]]],
             query: DataFrame, k: Int, overFetch: Int = 4,
             tieBreak: Seq[String] = Nil): DataFrame = {
    val nC = codebooks(0).length
    val reserved = Seq("qe", "__lut", "__qn", "approx_sim", "similarity")
      .filter(corpus.columns.contains)
    require(reserved.isEmpty,
      s"pqTopK reserves column name(s): ${reserved.mkString(", ")}")
    val qLocal = oneQueryRow(query, "pqTopK")
    val coded = pqEncode(corpus, embCol, codebooks)
    val lutUdf = lutUdfFor(codebooks)
    val adcUdf = adcUdfFor(codebooks)
    val q = qLocal.select(col("qe").cast("array<double>").as("qe"))
      .withColumn("__lut", lutUdf(col("qe")))
      .withColumn("__qn", vectors.l2Norm(col("qe")))
    coded.crossJoin(broadcast(q))
      .withColumn("approx_sim",
        when(col("pq_norm") === 0.0 || col("__qn") === 0.0, lit(0.0))
          .otherwise(adcUdf(col("pq_codes"), col("__lut")) /
            (col("pq_norm") * col("__qn"))))
      .orderBy((desc("approx_sim") +: tieBreak.map(col)): _*)
      .limit(k * overFetch)
      .withColumn("similarity", vectors.cosineSim(col(embCol), col("qe")))
      .orderBy((desc("similarity") +: tieBreak.map(col)): _*)
      .limit(k)
      .drop("pq_codes", "pq_norm", "pq_cb_sig", "qe", "__lut", "__qn",
        "approx_sim")
  }

  /** Bounded top-`cap` candidate heap keyed by (approx_sim DESC,
    * neighbor_id ASC) — the typed Aggregator behind [[pqJoinIndexed]]'s
    * map-side candidate reduction. The buffer is kept SORTED (best
    * first), so `reduce` is an O(cap) ordered insert that rejects a row
    * worse than the current floor in O(1) once the buffer is full, and
    * `merge` is a sorted merge-take. Deterministic total order (ties
    * break on the smaller id), so the final candidate page equals the
    * global top-cap by (approx_sim DESC, id ASC) exactly — replayable
    * closed-form by an oracle's row_number. Input rows are
    * (query_id, neighbor_id, approx_sim, emb); the candidate keeps the
    * embedding so the exact re-rank never re-scans the store. */
  private final class TopCandAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double, Seq[Double]),
        List[(Long, Double, Seq[Double])],
        Seq[(Long, Double, Seq[Double])]] {
    private def beats(aSim: Double, aId: Long,
                      bSim: Double, bId: Long): Boolean =
      aSim > bSim || (aSim == bSim && aId < bId)
    def zero: List[(Long, Double, Seq[Double])] = Nil
    def reduce(b: List[(Long, Double, Seq[Double])],
               a: (Long, Long, Double, Seq[Double]))
        : List[(Long, Double, Seq[Double])] = {
      val cand = (a._2, a._3, a._4)
      if (b.length >= cap && !beats(cand._2, cand._1, b.last._2, b.last._1)) b
      else {
        val (better, worse) =
          b.span(e => beats(e._2, e._1, cand._2, cand._1))
        (better ::: cand :: worse).take(cap)
      }
    }
    def merge(b1: List[(Long, Double, Seq[Double])],
              b2: List[(Long, Double, Seq[Double])])
        : List[(Long, Double, Seq[Double])] = {
      val out = List.newBuilder[(Long, Double, Seq[Double])]
      var (x, y) = (b1, b2); var n = 0
      while (n < cap && (x.nonEmpty || y.nonEmpty)) {
        if (y.isEmpty ||
            (x.nonEmpty && beats(x.head._2, x.head._1,
              y.head._2, y.head._1))) { out += x.head; x = x.tail }
        else { out += y.head; y = y.tail }
        n += 1
      }
      out.result()
    }
    def finish(r: List[(Long, Double, Seq[Double])])
        : Seq[(Long, Double, Seq[Double])] = r
    def bufferEncoder
        : org.apache.spark.sql.Encoder[List[(Long, Double, Seq[Double])]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder
        : org.apache.spark.sql.Encoder[Seq[(Long, Double, Seq[Double])]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** [[pqTopK]]'s batch face over the persisted code table — the
    * [[AnnIndex.ivfJoinIndexed]] serving shape for the PQ family: a
    * query TABLE answered in ONE plan, where per-query [[pqTopK]] loops
    * a full code-table scan (plus a global TakeOrdered) per query. The
    * PQ table is FLAT by design (ADC is a whole-table code scan — no
    * routing layout to prune, which is exactly what [[ivfPqTopK]] adds),
    * so the scale shape is: queries broadcast WITH their ADC lookup
    * tables (each m×nC doubles — the only per-query state), the store
    * scans ONCE for the whole batch with the ADC kernel evaluated
    * against every (row, query) cell, and the over-fetch page is
    * reduced MAP-SIDE by a bounded candidate heap ([[TopCandAgg]],
    * partial-aggregated before the exchange) — the store's rows never
    * cross a shuffle, only ≤ queries × partitions × (k·overFetch)
    * aggregated candidate buffers do (the batch generalization of
    * [[pqTopK]]'s TakeOrderedAndProject map-side top-k; a per-query
    * window here would shuffle the whole |store|×|queries| scored
    * product). Exact cosine then re-ranks each query's candidate page
    * (the candidates carry their embeddings — no second store scan) in
    * one window keyed by query id. Candidate page = the global top
    * (k·overFetch) by (approx_sim DESC, id ASC) per query, exactly
    * [[pqTopK]]'s page at the same tieBreak, so the two faces serve
    * identical rows for identical dials (ModulesSpec pins it).
    *
    * `store` is [[pqEncode]] output (`pq_codes`/`pq_norm`/`pq_cb_sig` +
    * id and embedding columns), verified against these codebooks by the
    * shared [[AnnIndex.requireStoreSig]] gate amortized over the batch.
    * Ids must be integral (the typed candidate heap encodes them as
    * long). Store rows with a null embedding or null codes never serve
    * (a null similarity never ranks); null-embedding queries are
    * dropped up front and duplicate/null query ids are refused loudly,
    * the [[AnnIndex.annJoinIndexed]] contract. Output
    * (query_id, neighbor_id, similarity, rank), rank ≤ k per query. */
  def pqJoinIndexed(queries: DataFrame, qIdCol: String, qEmbCol: String,
                    codebooks: Array[Array[Array[Double]]],
                    store: DataFrame, idCol: String, embCol: String,
                    k: Int, overFetch: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    import spark.implicits._
    AnnIndex.requireStoreSig(store, "pq_cb_sig", cbFingerprint(codebooks),
      allowEmpty = true, what = "pqJoinIndexed",
      staleDesc = "PQ store — pq_cb_sig does not match these codebooks " +
        "(the fit changed)")
    val q0 = queries.filter(col(qEmbCol).isNotNull)
      .select(col(qIdCol).cast("long").as("query_id"),
        col(qEmbCol).cast("array<double>").as("__qe"))
    AnnIndex.requireUniqueQueryIds(q0, "query_id", "pqJoinIndexed")
    val q = q0.withColumn("__lut", lutUdfFor(codebooks)(col("__qe")))
      .withColumn("__qn", vectors.l2Norm(col("__qe")))
    val cap = k * overFetch
    val adcUdf = adcUdfFor(codebooks)
    val scored = store
      .filter(col(embCol).isNotNull && col("pq_codes").isNotNull)
      .crossJoin(broadcast(q.select(col("query_id"), col("__lut"),
        col("__qn"))))
      .withColumn("approx_sim",
        when(col("pq_norm") === 0.0 || col("__qn") === 0.0, lit(0.0))
          .otherwise(adcUdf(col("pq_codes"), col("__lut")) /
            (col("pq_norm") * col("__qn"))))
      .select(col("query_id"), col(idCol).cast("long"),
        col("approx_sim").cast("double"),
        col(embCol).cast("array<double>"))
      .as[(Long, Long, Double, Seq[Double])]
    val cands = scored.groupByKey(_._1)
      .agg(new TopCandAgg(cap).toColumn.name("cands"))
      .toDF("query_id", "cands")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("similarity"), col("neighbor_id"))
    cands.select(col("query_id"), explode(col("cands")).as("c"))
      .select(col("query_id"), col("c._1").as("neighbor_id"),
        col("c._3").as("__ce"))
      .join(broadcast(q.select(col("query_id"), col("__qe"))),
        Seq("query_id"))
      .withColumn("similarity", vectors.cosineSim(col("__ce"), col("__qe")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("similarity"),
        col("rank"))
  }

  /** Incremental PQ-store maintenance — [[AnnIndex.ivfRefresh]]'s twin
    * for the code store: encode ONLY the new batch under the unchanged
    * codebooks and append it to the persisted store ([[pqEncode]] output,
    * which carries the `pq_cb_sig` freshness token per row). Because
    * encoding is a pure per-row function of (embedding, codebooks),
    * append-then-refresh equals a from-scratch re-encode exactly
    * (asserted in ModulesSpec). The gate is the shared
    * [[AnnIndex.requireStoreSig]] body every other store family
    * verifies with (r12 — bare min/max SKIP nulls, so a careless
    * stamped ∪ raw union store would pass and get appended to; the
    * shared gate's null-token count refuses it). Fails loudly — BEFORE
    * writing a row — on a missing token column, an EMPTY store,
    * NULL-token rows, or codebooks from a different fit (different
    * m/nC/seed — rebuild, don't append); the token scan is
    * maintenance-time, one column, never on the search path. */
  def pqRefresh(spark: org.apache.spark.sql.SparkSession,
                codebooks: Array[Array[Array[Double]]],
                storeDir: String, newBatch: DataFrame, embCol: String): Unit = {
    val store = spark.read.parquet(storeDir)
    AnnIndex.requireBatchStore(store, s"pqRefresh($storeDir)")
    AnnIndex.requireStoreSig(store, "pq_cb_sig",
      cbFingerprint(codebooks), allowEmpty = false,
      what = s"pqRefresh($storeDir)",
      staleDesc = "PQ store — pq_cb_sig does not match these codebooks " +
        "(the fit changed)")
    pqEncode(newBatch, embCol, codebooks)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(storeDir)
  }

  /** Seed a STREAMING PQ store: [[pqEncode]] output under an
    * `ingest_batch=-1` replay-ledger partition, ready for
    * [[pqStoreIngestBatch]] micro-batches. The PQ store has no data
    * partition layout (codes are scanned whole), so the ledger is its
    * ONLY partition level. */
  def seedPqIngestStore(corpus: DataFrame, embCol: String,
                        codebooks: Array[Array[Array[Double]]],
                        storeDir: String): Unit =
    pqEncode(corpus, embCol, codebooks)
      .withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").parquet(storeDir)

  /** One replay-idempotent micro-batch into a streaming PQ store —
    * [[graft.operators.AnnIndex.ivfStoreIngestBatch]]'s flat-layout twin
    * ([[pqRefresh]]'s blind append would double rows on a streaming
    * replay; the ledgered dynamic overwrite rewrites the batch's own
    * partition byte-identically instead). Same shared token gate; no
    * mine — the code table is the serving product ([[pqTopK]] reads it
    * with the ledger dropped, or graduated through
    * `compactPartitionedTo` — which needs partition columns, so a
    * graduated FLAT store goes through
    * [[graft.sources.Maintenance.compactTo]] after a plain
    * ledger-dropping rewrite, or simply stays ledgered: the extra
    * column prunes to nothing in a scan that never filters on it). */
  def pqStoreIngestBatch(spark: org.apache.spark.sql.SparkSession,
                         codebooks: Array[Array[Array[Double]]],
                         storeDir: String, batchId: Long,
                         batch: DataFrame, embCol: String): Unit =
    Dedup.storeIngestBatch(spark, storeDir, batchId,
      "pq_cb_sig", cbFingerprint(codebooks), "pqStoreIngestBatch",
      staleDesc = "PQ store — pq_cb_sig does not match these codebooks " +
        "(the fit changed)",
      pqEncode(batch, embCol, codebooks), pairsMine = None, Nil)

  /** IVF-residual view: [[AnnIndex.ivfAssign]]'s list assignment plus
    * `__res` = emb − centroid[list]. Residuals are what IVFPQ (Jégou et
    * al. 2011) quantizes: within one list every vector is near its
    * centroid, so residual magnitudes — and hence PQ quantization error —
    * are much smaller than raw-vector magnitudes at the same code budget.
    * The centroid table is driver-side (nLists × dim, tiny) and closes
    * over the kernel; the corpus never shuffles. */
  def ivfResiduals(model: org.apache.spark.ml.clustering.KMeansModel,
                   df: DataFrame, embCol: String): DataFrame = {
    require(!df.columns.contains("__res"),
      "ivfResiduals would overwrite an existing __res column")
    val centers = model.clusterCenters.map(_.toArray)
    val resUdf = udf { (emb: Array[Double], list: Int) =>
      if (emb == null) null
      else {
        val c = centers(list)
        require(c.length == emb.length,
          s"embedding dim ${emb.length} != centroid dim ${c.length}")
        val r = new Array[Double](emb.length)
        var i = 0
        while (i < emb.length) { r(i) = emb(i) - c(i); i += 1 }
        r
      }
    }
    AnnIndex.ivfAssign(model, df, embCol)
      .withColumn("__res",
        resUdf(col(embCol).cast("array<double>"), col("list_id")))
  }

  /** IVFPQ search — the two ANN layouts composed the way FAISS ships
    * them: IVF routes the query to `nProbe` lists (a partition-pruned
    * scan of the persisted index at scale), PQ's ADC ranks only the
    * probed lists' m-byte RESIDUAL codes, exact cosine re-ranks the
    * over-fetch. The residual identity q·emb = q·centroid + q·residual
    * splits the approximate score into a per-list scalar (computed once
    * on the probe page) plus the ADC lookup — one broadcast of nProbe
    * (list_id, q·c, LUT) rows is the entire query-side state. `codebooks`
    * must come from [[pqFit]] over [[ivfResiduals]] of the SAME model —
    * the adc shape guards catch an m/nC mismatch, and a wrong-model
    * residual shows up as recall collapse, which is why the catalog query
    * carries a recall bound. `nProbe = nLists` + a corpus-sized overFetch
    * degenerates to exact brute force (asserted in ModulesSpec). */
  /** The nLists × dim centroid table as a broadcastable frame — one
    * builder for [[ivfPqTopK]] and [[ivfPqTuning]]. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel): DataFrame = {
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("list_id", "centroid")
  }

  /** The IVFPQ probe page — the `n` nearest lists by centroid distance,
    * each carrying q·centroid, the residual ADC LUT (list-independent:
    * LUTs are linear in q), the query norm, and the query itself for
    * the exact re-rank. ONE builder shared by [[ivfPqTopK]] (n = nProbe)
    * and [[ivfPqTuning]] (n = nLists), so the sweep provably measures
    * the serving layout — two hand-maintained copies of the dist2
    * ranking could silently diverge. */
  private def probePage(q: DataFrame, cents: DataFrame,
                        codebooks: Array[Array[Array[Double]]],
                        n: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("dist2",
        vectors.dot(col("qe"), col("qe"))
          - lit(2.0) * vectors.dot(col("qe"), col("centroid"))
          + vectors.dot(col("centroid"), col("centroid")))
      .orderBy(col("dist2"), col("list_id"))
      .limit(n)
      .select(col("list_id"),
        vectors.dot(col("qe"), col("centroid")).as("__qdotc"),
        lutUdfFor(codebooks)(col("qe")).as("__lut"),
        vectors.l2Norm(col("qe")).as("__qn"), col("qe"))

  def ivfPqTopK(model: org.apache.spark.ml.clustering.KMeansModel,
                corpus: DataFrame, embCol: String,
                codebooks: Array[Array[Array[Double]]],
                query: DataFrame, k: Int, nProbe: Int, overFetch: Int = 4,
                tieBreak: Seq[String] = Nil): DataFrame = {
    val reserved = Seq("qe", "__lut", "__qn", "__qdotc", "__en", "__res",
      "list_id", "approx_sim", "similarity").filter(corpus.columns.contains)
    require(reserved.isEmpty,
      s"ivfPqTopK reserves column name(s): ${reserved.mkString(", ")}")
    // RAW embeddings only: this face encodes RESIDUALS in-plan, and a
    // flat PQ store's raw codes would pass pqEncode's reuse path (the
    // pq_cb_sig matches — same codebooks) and silently double-count the
    // centroid component in approx_sim (q·c + ADC(raw e)). The token
    // cannot distinguish raw-coded from residual-coded, so the loud
    // refusal has to be structural: no pre-coded columns at all.
    val precoded = Seq("pq_codes", "pq_norm", "pq_cb_sig")
      .filter(corpus.columns.contains)
    require(precoded.isEmpty,
      s"ivfPqTopK expects RAW embeddings, got a PQ-coded frame " +
        s"(${precoded.mkString(", ")}) — a flat store's raw codes are " +
        "not residual codes; serve a flat store through pqTopK, or pass " +
        "the raw embedding column here")
    val coded = pqEncode(ivfResiduals(model, corpus, embCol), "__res", codebooks)
      .withColumn("__en", vectors.l2Norm(col(embCol).cast("array<double>")))
    val cents = centroidFrame(corpus.sparkSession, model)
    // the probe page: nProbe nearest lists (shared builder, so the
    // tuning sweep measures EXACTLY the serving layout)
    val qLocal = oneQueryRow(query, "ivfPqTopK")
    val probes = probePage(
      qLocal.select(col("qe").cast("array<double>").as("qe")),
      cents, codebooks, nProbe)
    val adcUdf = adcUdfFor(codebooks)
    coded.join(broadcast(probes), "list_id")
      .withColumn("approx_sim",
        when(col("__en") === 0.0 || col("__qn") === 0.0, lit(0.0))
          .otherwise((col("__qdotc") + adcUdf(col("pq_codes"), col("__lut"))) /
            (col("__en") * col("__qn"))))
      .orderBy((desc("approx_sim") +: tieBreak.map(col)): _*)
      .limit(k * overFetch)
      .withColumn("similarity", vectors.cosineSim(col(embCol), col("qe")))
      .orderBy((desc("similarity") +: tieBreak.map(col)): _*)
      .limit(k)
      .drop("pq_codes", "pq_norm", "pq_cb_sig", "qe", "__lut", "__qn",
        "__qdotc", "__en", "__res", "list_id", "approx_sim")
  }

  /** IVFPQ dial sweep — [[AnnIndex.ivfTuning]]'s discipline applied to
    * the PQ dials [[ivfPqTopK]] fixes by spec: for every code budget `m`
    * (bytes per vector) and every `overFetch`, recall@k of the composed
    * path against the exact cosine top-k. The sweep probes ALL lists
    * (nProbe = nLists), deliberately: nProbe is [[AnnIndex.ivfTuning]]'s
    * dial — holding it at probe-everything isolates what the PQ stage
    * alone costs in recall, so a low row here means code resolution, not
    * routing. One-pass structure: the corpus pays ONE residual encode per
    * code budget (cached, shared by every overFetch dial — the
    * q_lsh_tuning discipline), and the exact top-k baseline is computed
    * once.
    *
    * Theorem-backed shape (what the oracle pins): for fixed m the ADC
    * ranking is fixed, so overFetch prefixes are NESTED candidate sets
    * and the exact re-rank of a superset can only gain true-top-k members
    * — n_hits is non-decreasing in overFetch; and once k·overFetch ≥
    * corpus the candidate set IS the corpus, so the re-rank is exactly
    * brute force and n_hits = k regardless of m. Across DIFFERENT m no
    * theorem holds (more bytes usually help, nothing guarantees it) —
    * that column is measurement, asserted in ModulesSpec. */
  def ivfPqTuning(model: org.apache.spark.ml.clustering.KMeansModel,
                  corpus: DataFrame, embCol: String, idCol: String,
                  fitSample: DataFrame, query: DataFrame,
                  k: Int, dim: Int, ms: Seq[Int], overFetches: Seq[Int],
                  nCentroids: Int = 32, maxIter: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the serving faces' loud collect-once 1-row contract and reserved
    // names — the sweep's cells are per-ONE-query globals across many
    // sub-plans, the exact hazard class annTuning documents
    val reserved = Seq("qe", "__lut", "__qn", "__qdotc", "__en", "__res",
      "__sim", "list_id", "pq_codes", "pq_norm", "pq_cb_sig",
      "approx_sim", "similarity").filter(corpus.columns.contains)
    require(reserved.isEmpty,
      s"ivfPqTuning reserves column name(s): ${reserved.mkString(", ")}")
    val q = oneQueryRow(query, "ivfPqTuning")
      .select(col("qe").cast("array<double>").as("qe"))
    // the ivfTuning/annTuning union-of-cells shape, built in order: the
    // exact ids, the corpus residual encode (computed ONCE and shared by
    // every code budget — residuals are model-only, m never enters
    // them), then per code budget the fit, the encode and the scored
    // page; the |ms|·|overFetches| cells are LAZY 1-row frames unioned
    // into the returned plan, so the one sink action schedules them
    // together. Each budget's scored frame is an eager localCheckpoint:
    // the returned plan references it, so per the checkpoint-release
    // policy the final leaves are the caller's to hold (corpus-sized,
    // the probe-all sweep's documented cost).
    //
    // the exact baseline really is computed ONCE: localCheckpoint — a
    // lazy plan here would re-run the full-corpus exact scan inside
    // every cell's left_semi probe (|ms|·|overFetches| scans)
    val exactIds = corpus.crossJoin(broadcast(q))
      .withColumn("__sim", vectors.cosineSim(col(embCol), col("qe")))
      .orderBy(desc("__sim"), col(idCol))
      .limit(k)
      .select(col(idCol))
      .localCheckpoint()
    val nCorpus = corpus.agg(count(lit(1)).as("n_corpus"))
    val nLists = model.clusterCenters.length
    val cents = centroidFrame(spark, model)
    val resid = ivfResiduals(model, corpus, embCol)
      .withColumn("__en", vectors.l2Norm(col(embCol).cast("array<double>")))
      .localCheckpoint(true)
    val residFit = ivfResiduals(model, fitSample, embCol)
    val cells = ms.flatMap { m =>
      // NAMED maxIter: the positional form bound maxIter into pqFit's
      // seed parameter (Int -> Long weak conformance compiled silently),
      // so the sweep fitted DIFFERENT codebooks (seed=maxIter, 10 Lloyd
      // iterations) than the serving face it claims to measure
      val cb = pqFit(residFit, "__res", dim, m, nCentroids, maxIter = maxIter)
      // probe-all page from the SHARED builder (n = nLists isolates code
      // resolution; nProbe is ivfTuning's dial)
      val probes = probePage(q, cents, cb, nLists)
      val adcUdf = adcUdfFor(cb)
      val scored = pqEncode(resid, "__res", cb)
        .join(broadcast(probes), "list_id")
        .withColumn("approx_sim",
          when(col("__en") === 0.0 || col("__qn") === 0.0, lit(0.0))
            .otherwise((col("__qdotc") + adcUdf(col("pq_codes"), col("__lut"))) /
              (col("__en") * col("__qn"))))
        .localCheckpoint(true)
      overFetches.map { of =>
        scored
          .orderBy(desc("approx_sim"), col(idCol))
          .limit(k * of)
          .withColumn("similarity", vectors.cosineSim(col(embCol), col("qe")))
          .orderBy(desc("similarity"), col(idCol))
          .limit(k)
          .select(col(idCol))
          .join(broadcast(exactIds), Seq(idCol), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(m.toLong).as("m"), lit(of.toLong).as("overfetch"),
            col("n_hits").cast("long").as("n_hits"))
      }
    }
    cells.reduce(_.unionByName(_))
      .crossJoin(broadcast(nCorpus))
      .select(col("m"), col("overfetch"), col("n_hits"),
        col("n_corpus").cast("long").as("n_corpus"))
      .orderBy("m", "overfetch")
  }
}
