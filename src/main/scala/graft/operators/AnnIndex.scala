package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}

/** IVF routing centroids ([[AnnIndex.ivfFit]]), indexed by `list_id`. */
final case class IvfModel(centers: Array[Array[Double]])

/** Approximate nearest-neighbor search over an embedding column.
  *
  * The reference's vector index is pgvector HNSW
  * (backend/migrate_pgvector.py:64-77) — a single-node graph index with no
  * Spark analog. The scale path here is random-hyperplane LSH: each vector
  * gets a `planes`-bit bucket id (sign of dot with `planes` deterministic
  * pseudo-random hyperplanes); search touches only the query's bucket, so
  * a 100 TB corpus partitions by bucket and a top-k probes one partition
  * group instead of scanning everything. Brute-force exact search stays in
  * [[VectorSearch.knn]] for oracle parity and small corpora.
  *
  * Hyperplane coefficients are deterministic integers
  * `((i*131 + j*37) % 7) - 3` (i = plane, j = dimension): identical in any
  * engine, no RNG, no seed drift between driver and executors. The mod-7
  * mix makes this LEGACY family periodic in both indices — at most 7
  * distinct planes, a 128-bucket selectivity ceiling; see
  * [[wideCoefSql]] for the prime-modulus family new stores should use
  * when they need finer blocking.
  */
object AnnIndex {

  /** SQL for the coefficient of plane i, dimension j (both engines). */
  def coefSql(i: String, j: String): String = s"((($i) * 131 + ($j) * 37) % 7 - 3)"

  /** ONE sign-LSH kernel body per engine, parameterized by the
    * coefficient function — both families (legacy and wide) derive
    * their Scala kernel AND their DuckDB rendering from here, so the
    * bit-parity contract (left-to-right double accumulation, identical
    * coefficients) lives in exactly two bodies instead of four copies
    * whose constants could drift independently. `coef` does its
    * arithmetic in Long, matching DuckDB's BIGINT semantics even at
    * dimensions where an Int product would wrap. */
  private def bucketUdfFor(coef: (Int, Int) => Int) =
    udf { (emb: Array[Double], dim: Int, planes: Int) =>
      // NULL and SHORT embeddings never join a bucket: a truncated array
      // (a dirty row) must not abort the whole job with an index error —
      // the one-dirty-row discipline of the streaming ingest filters.
      // Documented oracle divergence, like the NULL case: DuckDB's
      // out-of-range list index is NULL, which nulls the dot and files
      // the row under bucket 0 — oracle comparisons over a corpus with
      // dirty embedding rows must filter them on BOTH sides first (the
      // catalog queries do). NaN components diverge the same way (Java
      // NaN > 0 is false -> bit 0; DuckDB orders NaN above all values ->
      // bit 1); the fixtures carry neither.
      if (emb == null || emb.length < dim) null
      else {
        var bucket = 0L
        var i = 0
        while (i < planes) {
          var acc = 0.0
          var j = 0
          while (j < dim) {
            acc += coef(i, j) * emb(j)
            j += 1
          }
          if (acc > 0) bucket |= 1L << i
          i += 1
        }
        java.lang.Long.valueOf(bucket)
      }
    }

  private def bucketSqlFor(coefOf: (String, String) => String,
                           embCol: String, dim: Int, planes: Int): String = {
    val dot = (i: String) =>
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(generate_series(0, ${dim - 1}), j -> " +
        s"${coefOf(i, "j")} * (CAST($embCol AS DOUBLE[]))[j + 1])), (acc, x) -> acc + x)"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(0, ${planes - 1}), i -> " +
      s"CASE WHEN ${dot("i")} > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
      s"(acc, b) -> acc + b)"
  }

  /** `planes`-bit LSH bucket id for an embedding column. Compiled kernel
    * (interpreted HOF lambdas cost ~planes × dim evals per row; see
    * [[graft.functions.TextSig]] for the rationale). The j-loop accumulates
    * doubles left-to-right — the same order as the DuckDB rendering, so
    * every sign, and therefore every bucket id, matches exactly. */
  private val bucketUdf = bucketUdfFor((i, j) =>
    ((i.toLong * 131 + j.toLong * 37) % 7 - 3).toInt)

  def bucketExpr(embCol: String, dim: Int, planes: Int): Column =
    bucketExprOf(col(embCol), dim, planes)

  /** [[bucketExpr]] over an arbitrary embedding Column (a literal vector,
    * a transform result) rather than a named input column. */
  def bucketExprOf(emb: Column, dim: Int, planes: Int): Column = {
    require(planes > 0 && planes <= 62, s"planes=$planes out of range " +
      "(one Long bucket id; 1L << 63+ would wrap planes onto each other)")
    bucketUdf(emb.cast("array<double>"), lit(dim), lit(planes))
  }

  /** DuckDB rendering of [[bucketExpr]] for oracle SQL. */
  def bucketSqlDuck(embCol: String, dim: Int, planes: Int): String =
    bucketSqlFor(coefSql, embCol, dim, planes)

  /** Corpus with an LSH `bucket` column appended — persist this (partitioned
    * by bucket) as the "index build". */
  def withBucket(df: DataFrame, embCol: String, dim: Int, planes: Int): DataFrame =
    df.withColumn("bucket", bucketExpr(embCol, dim, planes))

  /** `bits`-bit COMPONENT-SIGN sketch of an embedding: bit j set iff
    * emb[j] > 0 — positive-scale-invariant like [[bucketExpr]] (a
    * rescaled copy carries the identical sketch), but a DIFFERENT hash
    * family, which is the point: the hyperplane coefficients
    * `((i*131 + j*37) % 7) - 3` repeat with period 7 in BOTH indices, so
    * the family holds at most 7 distinct hyperplanes and asking
    * [[bucketExpr]] for more planes adds no discrimination — it cannot
    * refine its own buckets. The sign sketch is the refinement key the
    * salvage tier ([[Dedup.embeddingSalvageEdges]]) uses to split an
    * oversized sign-LSH bucket by direction: axis-aligned hyperplanes,
    * independent of the coef family, trivially replayed by the oracle.
    * Compiled kernel, not a Catalyst HOF — the usual ladder
    * ([[graft.functions.TextSig]]): an interpreted aggregate() lambda
    * re-evaluates per element and dominated the salvage tier's mega
    * passes at the stress corpus. Zero (and NULL / out-of-range)
    * components contribute 0 bits — a zero or NULL vector sketches to
    * 0, matching the DuckDB rendering where an out-of-range list index
    * is NULL; `bits` ≤ 62 keeps the shift in range. */
  private val signSketchUdf = udf { (emb: Array[Double], bits: Int) =>
    if (emb == null) 0L
    else {
      var sk = 0L
      var j = 0
      val n = math.min(bits, emb.length)
      while (j < n) {
        if (emb(j) > 0) sk |= 1L << j
        j += 1
      }
      sk
    }
  }
  def signSketchExpr(embCol: String, bits: Int): Column = {
    require(bits > 0 && bits <= 62, s"signSketch bits=$bits out of range")
    signSketchUdf(col(embCol).cast("array<double>"), lit(bits))
  }

  /** Coefficient of WIDE-family plane i, dimension j (both engines).
    * The legacy [[coefSql]] family is periodic mod 7 in BOTH indices —
    * at most 7 distinct hyperplanes no matter how many planes are
    * requested, so the legacy bucket id caps at 2^7 = 128 effective
    * buckets (plane 7 mirrors plane 0, bit 7 always equals bit 0).
    * That ceiling is a real selectivity limit at corpus scale: a probe
    * can never touch less than ~1/128 of the data. This family uses a
    * prime modulus 2003 with multipliers coprime to it, so every plane
    * below the (guarded) planes ≤ 62 bound is a genuinely distinct
    * hyperplane and selectivity scales as 2^planes up to the Long
    * bucket id's width. Legacy stays the default everywhere it is
    * already oracle-pinned; NEW stores that need more than 128-way
    * blocking should build on [[wideBucketExpr]] (q_ann_plane_family
    * measures the two families side by side). */
  def wideCoefSql(i: String, j: String): String =
    s"((($i) * 7919 + ($j) * 104729) % 2003 - 1001)"

  /** [[bucketExpr]] on the wide coefficient family — same sign-LSH
    * semantics (positive-scale-invariant, compiled kernel, left-to-right
    * accumulation matching the DuckDB rendering bit for bit — BOTH
    * bodies derive from [[bucketUdfFor]]/[[bucketSqlFor]], so the
    * families cannot drift constant by constant). */
  private val wideBucketUdf = bucketUdfFor((i, j) =>
    ((i.toLong * 7919 + j.toLong * 104729) % 2003 - 1001).toInt)

  def wideBucketExpr(embCol: String, dim: Int, planes: Int): Column =
    wideBucketExprOf(col(embCol), dim, planes)

  def wideBucketExprOf(emb: Column, dim: Int, planes: Int): Column = {
    require(planes > 0 && planes <= 62, s"planes=$planes out of range " +
      "(one Long bucket id; 1L << 63+ would wrap planes onto each other)")
    wideBucketUdf(emb.cast("array<double>"), lit(dim), lit(planes))
  }

  /** DuckDB rendering of [[wideBucketExpr]] for oracle SQL. */
  def wideBucketSqlDuck(embCol: String, dim: Int, planes: Int): String =
    bucketSqlFor(wideCoefSql, embCol, dim, planes)

  /** DuckDB rendering of [[signSketchExpr]] for oracle SQL. */
  def signSketchSqlDuck(embCol: String, bits: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(0, ${bits - 1}), j -> " +
      s"CASE WHEN (CAST($embCol AS DOUBLE[]))[j + 1] > 0 " +
      s"THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
      s"(acc, b) -> acc + b)"

  /** The point faces' loud 1-row query contract, shared by
    * [[annTopKIndexed]], [[annTopKWideIndexed]] and `Quantize`'s
    * quantized faces: refuse a multi-row frame (the global
    * orderBy+limit would blend every query's candidates into one top-k
    * with no error) and a NULL embedding (it hashes to no bucket — every
    * search would silently return empty), and return a LOCAL 1-row
    * frame so a non-deterministic 1-row plan cannot hash with one
    * embedding and score with another across the sub-plans that read
    * it. */
  private[graft] def oneQueryRow(query: DataFrame, queryCol: String,
                                 what: String): DataFrame = {
    val qSlice = query.select(col(queryCol))
    val qRows = qSlice.limit(2).collect()
    require(qRows.length == 1,
      s"$what expects exactly ONE query row (column $queryCol) — a " +
        "multi-row frame would blend every query's candidates into one " +
        "global top-k; a query TABLE goes through the batch join face " +
        "(annJoinIndexed / ivfJoinIndexed)")
    require(!qRows(0).isNullAt(0),
      s"$what query embedding is NULL — it would hash to no bucket and " +
        "every search would silently return empty")
    query.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows(0)), qSlice.schema)
  }

  /** ANN top-k: restrict to the query's bucket, then exact cosine re-rank.
    * `query` is a 1-row frame with the query embedding in `queryCol`.
    * Buckets the raw corpus inline — convenient for one-off searches, but
    * every call re-evaluates the bucket UDF over the whole corpus; a
    * serving path should build the index once ([[withBucket]] + persist
    * partitioned by bucket) and search via [[annTopKIndexed]]. */
  def annTopK(corpus: DataFrame, embCol: String, dim: Int, planes: Int,
              query: DataFrame, queryCol: String, k: Int,
              tieBreak: Seq[String] = Nil): DataFrame =
    annTopKIndexed(withBucket(corpus, embCol, dim, planes), embCol, "bucket",
      dim, planes, query, queryCol, k, tieBreak)

  /** [[annTopK]] over a PRE-BUCKETED corpus (the persisted index build):
    * only the query embedding is hashed at search time, and when the
    * corpus is stored partitioned by `bucketCol` the bucket-equality join
    * becomes a partition-pruned read — this is the entry point where
    * "search touches only the query's bucket" actually holds.
    *
    * LEGACY-family stores only: a store stamped with `emb_sig` was
    * bucketed by the WIDE family ([[graft.operators.Dedup.embeddingBucketIndex]]),
    * and hashing the query with the legacy coefficients against it would
    * simply never match a bucket — every search would silently return
    * empty, the exact silent-family-mismatch class the token exists to
    * refuse. Serve those stores through [[annTopKWideIndexed]]. */
  def annTopKIndexed(indexed: DataFrame, embCol: String, bucketCol: String,
                     dim: Int, planes: Int,
                     query: DataFrame, queryCol: String, k: Int,
                     tieBreak: Seq[String] = Nil): DataFrame = {
    require(!indexed.columns.contains("emb_sig"),
      "this store carries an emb_sig token — it was bucketed by the WIDE " +
        "plane family and a legacy-family query hash would silently match " +
        "nothing; serve it through annTopKWideIndexed")
    val reserved = Seq("__qe").filter(indexed.columns.contains)
    require(reserved.isEmpty,
      s"annTopKIndexed reserves column name(s): ${reserved.mkString(", ")}")
    // ONE query row, loudly, from a local frame — and the query column
    // renamed to a reserved name so a store whose embedding column is
    // also `queryCol` (the natural call against a persisted store) does
    // not throw AMBIGUOUS_REFERENCE out of the cross join
    val qLocal = oneQueryRow(query, queryCol, "annTopKIndexed")
      .select(col(queryCol).as("__qe"))
    // the query's bucket, computed DRIVER-side from the local row with
    // the same kernel, lands as a STATIC literal partition filter — the
    // [[annTopKWideIndexed]] serving design: pruned at PLANNING time
    // against a bucket-partitioned store, no DPP machinery to trust (a
    // local-relation broadcast join stopped qualifying for DPP, which
    // would silently degrade this face to a full-store scan)
    val qb = withBucket(qLocal, "__qe", dim, planes)
      .select(col("bucket")).head()
    require(!qb.isNullAt(0),
      "annTopKIndexed query embedding is dirty (shorter than dim) — it " +
        "hashes to no bucket and every search would silently return empty")
    indexed
      .filter(col(bucketCol) === lit(qb.getLong(0)))
      .crossJoin(broadcast(qLocal))
      .withColumn("similarity", vectors.cosineSim(col(embCol), col("__qe")))
      .orderBy(desc("similarity") +: tieBreak.map(col): _*)
      .limit(k)
      .drop("__qe")
  }

  /** The bucket-geometry token stamped on WIDE-family stores
    * ([[graft.operators.Dedup.embeddingBucketIndex]]) and verified by
    * every consumer: 2003 (the family's prime modulus) tags the hash
    * family itself, so a legacy-family store can never masquerade as
    * wide or vice versa. */
  private[graft] def wideStoreSig(dim: Int, planes: Int): Long = {
    // the 1e8 family field holds dim*1000 + planes only while dim < 1e5:
    // past that, legacyStreamSig(dim + 100000, p) would collide exactly
    // with wideStoreSig(dim, p), silently defeating the disjoint-keyspace
    // guarantee the streaming state keys rest on (planes is range-checked
    // at ≤ 62 by every bucket builder; dim was not)
    require(dim > 0 && dim < 100000,
      s"dim=$dim out of the sig packing range (1 .. 99999)")
    2003L * 100000000L + dim.toLong * 1000L + planes
  }

  /** Geometry token for the LEGACY coefficient plane family. No
    * persisted store stamps it (only wide-family stores are built);
    * its one consumer is [[graft.streaming.EventsStream.embedNearDupStream]]'s
    * state KEY, where it keeps legacy-keyed and wide-keyed streaming
    * state in provably disjoint keyspaces — the two families emit
    * overlapping small bucket ids (legacy censuses at ≤128 buckets), so
    * a bare-bucket key would silently mix their state across a config
    * flip. Distinct leading constant from [[wideStoreSig]]'s 2003. */
  private[graft] def legacyStreamSig(dim: Int, planes: Int): Long = {
    require(dim > 0 && dim < 100000,
      s"dim=$dim out of the sig packing range (1 .. 99999)")
    2002L * 100000000L + dim.toLong * 1000L + planes
  }

  /** Refusal shared by every BATCH-cadence refresh ([[ivfRefresh]],
    * `Quantize.pqRefresh`, `Dedup.refreshStore`): a store carrying the
    * `ingest_batch` replay ledger is a STREAMING store — the inverse of
    * `storeIngestBatch`'s canonical-store refusal. A batch append
    * partitioned WITHOUT the ledger level would write `bucket=N/`
    * directories next to `ingest_batch=M/bucket=N/` and corrupt
    * partition discovery for every later read ("Conflicting directory
    * structures"), after a token gate that passed — so refuse BEFORE the
    * token check, while the store is still intact. */
  private[operators] def requireBatchStore(store: DataFrame,
                                           what: String): Unit =
    require(!store.columns.contains("ingest_batch"),
      s"$what: store carries an ingest_batch replay ledger — it is a " +
        "STREAMING store; append through its streaming writer " +
        "(EventsStream *StoreIngest) or graduate it first " +
        "(compactPartitionedTo with dropCols = Seq(\"ingest_batch\")); " +
        "a ledger-less batch append would corrupt the partition layout")

  /** The ONE persisted-store token gate behind EVERY consumer — the
    * serving faces ([[annTopKWideIndexed]], [[annJoinIndexed]] via
    * [[requireWideStoreSig]], [[ivfJoinIndexed]]) and every token-gated
    * refresh (`Dedup.refreshStore` behind embedding/hamming/minhash
    * appends; [[ivfRefresh]] and [[Quantize.pqRefresh]] since r12) —
    * a single body so the faces can never drift guard by guard:
    * presence of the token column, then one stats-pruned aggregate over
    * (row count, min, max, null-token count). The row count is what
    * closes the ALL-null hole: min/max over a store whose every token
    * is null come back null exactly like an empty store's, and a skip
    * keyed on min-is-null alone would silently serve a non-empty
    * all-raw store — the class the token exists to refuse.
    * `allowEmpty = true` is the serving stance (an empty store's top-k
    * is legitimately empty); maintenance appends refuse empty stores
    * outright. `staleDesc` names the geometry in the mismatch message
    * so the operator chases the right rebuild. Returns the row count it
    * measured, so a caller checking a PRUNED slice can tell "verified
    * nonempty" from "empty — ambiguous, escalate to the full store". */
  private[operators] def requireStoreSig(store: DataFrame, sigCol: String,
                                         sig: Long, allowEmpty: Boolean,
                                         what: String,
                                         staleDesc: String): Long = {
    require(store.columns.contains(sigCol),
      s"$what: store carries no $sigCol token — rebuild it before " +
        "using it")
    val r = store.agg(count(lit(1)), min(col(sigCol)),
      max(col(sigCol)), count(when(col(sigCol).isNull, lit(1)))).head()
    if (r.getLong(0) == 0L)
      require(allowEmpty, s"$what: store is empty — rebuild it before " +
        "appending increments")
    else {
      require(r.getLong(3) == 0L,
        s"$what: store carries rows with a NULL $sigCol token — a union " +
          "of stamped and raw rows; rebuild the store")
      require(r.getLong(1) == sig && r.getLong(2) == sig,
        s"$what: stale $staleDesc; the index geometry changed, rebuild " +
          "the store instead of using it")
    }
    r.getLong(0)
  }

  /** The batch serving faces' loud query-table contract
    * ([[annJoinIndexed]], [[ivfJoinIndexed]]): query ids must be
    * NON-NULL and UNIQUE, because per-query ranking is one window keyed
    * by query id — two rows sharing an id (an upstream join fan-out, a
    * re-used key) or a null id group would have their candidate pages
    * silently MERGED into one blended top-k capped at k: plausible
    * neighbors belonging to neither query, no error — the same
    * silent-blend class the 1-row faces ([[annTopKWideIndexed]],
    * [[annTuning]], [[ivfTopK]]) refuse loudly. One tiny eager
    * aggregate over the query side, which these faces broadcast anyway
    * (the accepted construction-time-job pattern). Call AFTER the
    * null-embedding filter: a dropped row's id never reaches a window. */
  private[operators] def requireUniqueQueryIds(q: DataFrame, idCol: String,
                                               what: String): Unit = {
    val r = q.agg(count(lit(1)), count(col(idCol)),
      countDistinct(col(idCol))).head()
    require(r.getLong(1) == r.getLong(0),
      s"$what: the query table carries NULL $idCol ids — the per-query " +
        "window would merge every null-id query's candidates into one " +
        "blended top-k; key the query table first")
    require(r.getLong(2) == r.getLong(0),
      s"$what: duplicate $idCol ids in the query table — the per-query " +
        "window would merge their candidate pages into one blended " +
        "top-k capped at k; deduplicate or re-key the query table")
  }

  /** The wide-family store's stale text: the mismatch [[requireStoreSig]]
    * names for an `emb_sig` token from another (dim, planes). */
  private[operators] def wideStale(dim: Int, planes: Int): String =
    s"wide-family store — emb_sig does not match dim=$dim/planes=$planes"

  /** [[requireStoreSig]] bound to the wide-family `emb_sig` token. */
  private[operators] def requireWideStoreSig(store: DataFrame,
                                             dim: Int, planes: Int,
                                             allowEmpty: Boolean,
                                             what: String): Long =
    requireStoreSig(store, "emb_sig", wideStoreSig(dim, planes), allowEmpty,
      what, staleDesc = wideStale(dim, planes))

  /** [[annTopKIndexed]] for a persisted WIDE-family store
    * (`Dedup.embeddingBucketIndex` output, written partitioned by
    * `bucket`): the query is hashed with [[wideBucketExpr]] at the
    * store's geometry, and the store's `emb_sig` token is verified AT
    * CALL TIME over the PROBED SLICE — the partition-pruned rows this
    * query reads anyway, so the check costs the probed fraction, not a
    * full-store column scan per query (the r11 stress measurement
    * caught the full check dominating the serve and growing with the
    * corpus). NOT an assert riding the candidate page: a mismatched
    * geometry's buckets may simply never join, so a row-level assert
    * there would never evaluate and the search would silently return
    * empty — which is why an EMPTY probed slice (ambiguous: legitimately
    * empty buckets, or a foreign-family store) is disambiguated by one
    * O(1) sampled token row that ends in the loud verdict. The aggregate also
    * counts NULL tokens (min/max skip nulls, so a careless union of
    * stamped and raw rows would otherwise pass while the raw rows sit in
    * wrong-family buckets). An EMPTY store passes (its top-k is
    * legitimately empty); rows outside the probed buckets are the
    * maintenance gate's job ([[graft.operators.Dedup.embeddingIndexRefresh]]).
    *
    * `probeBits` is [[annJoin]]'s multi-probe radius — the dial
    * [[annTuning]] prices: 0 reads only the query's own bucket, 1 adds
    * every one-sign-flip neighbor, 2 the C(planes, 2) double flips. The
    * probed bucket ids are computed ONCE through the shared
    * [[probeSetExpr]] builder (one tiny 1-row job — the call already
    * pays two driver jobs for the contracts below) and applied as a
    * STATIC `bucket IN (...)` filter, so on a store written partitioned
    * by `bucket` the scan carries literal partition filters — pruned at
    * planning, visible in the plan, no dynamic-pruning machinery to
    * trust — and the candidate page needs no bucket join at all: every
    * surviving row belongs to this one query (ModulesSpec pins the
    * pruned-scan shape and that probed serving recall EQUALS the tuning
    * sweep's measured cell). On an unpersisted store the same IN filter
    * evaluates the bucket kernel exactly once per row (the projection
    * that would re-run it is pruned away with the dropped column), so
    * the [[graft.operators.Dedup.pairJoin]] re-evaluation trap cannot
    * apply here.
    *
    * The query embedding must be NON-NULL: a null would hash to a null
    * bucket and silently match nothing — the silent-empty class this
    * entry point exists to refuse (the check rides the same collected
    * 1-row probe, so it costs nothing extra). */
  def annTopKWideIndexed(store: DataFrame, embCol: String,
                         dim: Int, planes: Int,
                         query: DataFrame, queryCol: String, k: Int,
                         tieBreak: Seq[String] = Nil,
                         probeBits: Int = 0): DataFrame = {
    // everything downstream derives from ONE collected row: the probe
    // buckets and the similarity scoring must see the SAME embedding
    val qLocal = oneQueryRow(query, queryCol, "annTopKWideIndexed")
    val probes: Seq[Long] = qLocal
      .select(wideBucketExprOf(col(queryCol), dim, planes).as("__qb0"))
      .selectExpr(s"${probeSetExpr(planes, probeBits)} AS __probes")
      .head().getSeq[Long](0)
    val pruned = store.filter(col("bucket").isin(probes: _*))
    // token check over the PROBED slice — the rows this query reads
    // anyway, so serving cost stays the probed fraction instead of a
    // full-store column scan per query (the r11 stress row measured the
    // full check DOMINATING the serve and growing with the corpus). An
    // EMPTY slice is ambiguous — legitimately empty buckets (the COMMON
    // case for a novel query on a sparse geometry: the 20-plane census
    // occupies ~847 of 2^20 buckets, so most probe sets hit nothing), or
    // a foreign-family store whose buckets never match — disambiguated
    // by ONE sampled row's token, O(1), never a full-store scan per
    // query: a sampled mismatch is a definite loud verdict, a sampled
    // match means this store answers to this geometry and its probed
    // buckets are genuinely empty. (A mixed-token store could pass the
    // sample while its foreign half hides the query's true buckets —
    // and because the limit(1) sample is arbitrary, the verdict on such
    // a store is nondeterministic run-to-run. Accepted: a mixed store
    // is already a rebuild-worthy corruption the maintenance gate
    // [[graft.operators.Dedup.embeddingIndexRefresh]] refuses to
    // create, the rows this query DID read were all verified, and the
    // deterministic alternative — the full-store aggregate — is exactly
    // the per-query scan the r11 stress measurement evicted from this
    // path; the empty slice is the COMMON case on a sparse geometry,
    // not a rare escalation.)
    if (requireWideStoreSig(pruned, dim, planes, allowEmpty = true,
        what = "annTopKWideIndexed") == 0L) {
      val sample = store.select(col("emb_sig")).limit(1).collect()
      require(sample.isEmpty || (!sample(0).isNullAt(0) &&
          sample(0).getLong(0) == wideStoreSig(dim, planes)),
        "annTopKWideIndexed: stale wide-family store — a sampled emb_sig " +
          s"does not match dim=$dim/planes=$planes (or is NULL); the " +
          "bucket geometry changed or the store carries raw rows, rebuild " +
          "it")
    }
    pruned
      .crossJoin(broadcast(qLocal))
      .withColumn("similarity", vectors.cosineSim(col(embCol), col(queryCol)))
      .orderBy(desc("similarity") +: tieBreak.map(col): _*)
      .limit(k)
      .drop("emb_sig", "bucket")
  }

  /** The multi-probe bucket set over a `__qb0` query-bucket column: the
    * origin bucket, plus every single-sign-flip neighbor at probeBits ≥ 1,
    * plus every DOUBLE-flip neighbor at probeBits = 2 — 1, planes+1, or
    * 1 + planes + C(planes, 2) distinct buckets. All flips of the origin
    * are distinct by construction, so no array_distinct pass is needed
    * beyond the origin union and a corpus row meets a query at most once.
    * Shared by [[annJoin]] and [[annTuning]], so the probe geometry (and
    * therefore the tuning measurement) can never drift from the serving
    * join. */
  private[graft] def probeSetExpr(planes: Int, probeBits: Int): String = {
    require(probeBits >= 0 && probeBits <= 2, "probeBits 0, 1 or 2 supported")
    require(probeBits < 2 || planes >= 2,
      s"probeBits=2 needs planes >= 2 (got $planes): there is no double " +
        "sign flip in a 1-plane family — and Spark would evaluate the " +
        "empty flip range sequence(0, -1) as a DESCENDING [0, -1], " +
        "emitting a probe bucket outside the 2^1 bucket space where the " +
        "DuckDB twin's generate_series(0, -1) is empty")
    val flip = (b: String) => s"CAST(pow(2, $b) AS BIGINT)"
    val f1 = s"transform(sequence(0, ${planes - 1}), i -> __qb0 ^ ${flip("i")})"
    // sequence(i+1, planes-1) is never descending: i tops out at planes-2
    val f2 = s"flatten(transform(sequence(0, ${planes - 2}), i -> " +
      s"transform(sequence(i + 1, ${planes - 1}), j -> " +
      s"__qb0 ^ ${flip("i")} ^ ${flip("j")})))"
    probeBits match {
      case 0 => "array(__qb0)"
      case 1 => s"array_union(array(__qb0), $f1)"
      case 2 => s"array_union(array(__qb0), array_union($f1, $f2))"
    }
  }

  /** DuckDB rendering of [[probeSetExpr]] over a query-bucket column —
    * the oracle twin, defined NEXT TO the Spark builder (the
    * [[bucketUdfFor]]/[[bucketSqlFor]] discipline) so the probe
    * geometry can never drift between the serving join, the tuning
    * sweep, and their oracles: a probe-set change edits exactly two
    * adjacent bodies, not N inline oracle strings. */
  def probeSetSqlDuck(qbCol: String, planes: Int, probeBits: Int): String = {
    require(probeBits >= 0 && probeBits <= 2, "probeBits 0, 1 or 2 supported")
    require(probeBits < 2 || planes >= 2,
      s"probeBits=2 needs planes >= 2 (got $planes) — the same guard as " +
        "probeSetExpr, so Spark and the oracle refuse the degenerate " +
        "geometry identically instead of diverging on it")
    val f1 = s"list_transform(generate_series(0, ${planes - 1}), " +
      s"i -> xor($qbCol, CAST(pow(2, i) AS BIGINT)))"
    val f2 = s"flatten(list_transform(generate_series(0, ${planes - 2}), " +
      s"i -> list_transform(generate_series(i + 1, ${planes - 1}), " +
      s"j -> xor(xor($qbCol, CAST(pow(2, i) AS BIGINT)), " +
      s"CAST(pow(2, j) AS BIGINT)))))"
    probeBits match {
      case 0 => s"[$qbCol]"
      case 1 => s"list_append($f1, $qbCol)"
      case 2 => s"list_append(list_concat($f1, $f2), $qbCol)"
    }
  }

  /** ANN KNN JOIN: for EVERY query row, the k most-cosine-similar corpus
    * rows sharing its LSH bucket — the batch-search operator ([[annTopK]]
    * serves one query; this serves a whole query table in one plan). The
    * geo analog is [[GeoSearch.nearestK]]: same shape, bucket equality
    * standing in for the bounding box, a per-query window standing in for
    * the per-left-row rank. Shuffles are keyed by bucket (corpus never
    * pairs beyond its bucket) then by query id (the window) — both
    * partition-parallel at any corpus size. Approximate exactly like
    * [[annTopK]]: a true neighbor hashed to another bucket is missed;
    * raise recall with fewer planes or multi-probe.
    *
    * `probeBits` is the multi-probe radius: 0 probes only the query's own
    * bucket (cheapest, weakest recall — measured ~0.17 top-3 recall on the
    * near-random test embeddings at 4 planes), 1 additionally probes every
    * bucket one sign-flip away (planes+1 buckets; recall floor asserted in
    * ModulesSpec), 2 adds the C(planes, 2) double-flip buckets — the dial
    * that makes HIGH plane counts servable (at wide-family planes=20, probe
    * 2 touches 211 of 2^20 partitions ≈ 0.02% of the corpus; q_ann_wide_tuning
    * measures what recall that buys). The standard LSH trade: each extra
    * bit multiplies probed buckets, touching C(planes, ≤probeBits) of the
    * 2^planes partitions — still partition-pruned reads of a persisted
    * index, never a full scan. Queries replicate (the small side); a
    * (query, neighbor) pair meets at most once since probed buckets are
    * distinct per query.
    *
    * The WIDE prime-modulus family ([[wideBucketExpr]]) is the DEFAULT
    * (r11 — the documented new-store guidance, now the path of least
    * resistance): planes > 7 only buy selectivity on the wide family
    * (the legacy census caps at 128 buckets), and a wide join uses the
    * same bucketing a persisted
    * [[graft.operators.Dedup.embeddingBucketIndex]] store was built
    * with. `wide = false` selects the LEGACY coefficient family and
    * exists for the callers whose oracles/fixtures pin that geometry
    * (q_knn_join, the measured legacy recall floor) — a NEW caller
    * passing it should be able to say why. Note annJoin itself always
    * re-hashes the raw embeddings INLINE on both sides — the
    * store-consuming, emb_sig-checked, partition-pruned serving paths
    * are [[annTopKWideIndexed]] and [[annJoinIndexed]]. The probe set
    * is family-agnostic (bit flips of whatever bucket id the family
    * produced).
    *
    * QUERY-ID CONTRACT: `qIdCol` must be non-null and unique per query —
    * per-query ranking is one window keyed by it, so two rows sharing an
    * id would have their candidate pages silently merged into one
    * blended top-k. The store-consuming batch faces ([[annJoinIndexed]],
    * [[ivfJoinIndexed]]) enforce this with a loud require (their query
    * side is broadcast-bound, so the check is one tiny job); here the
    * query side may be arbitrarily large — an eager uniqueness pass
    * would turn a lazy transform into a full scan — so the contract is
    * documented, not checked.
    *
    * NULL embeddings are dropped on both sides up front, and the bucket
    * keys compare NULL-SAFELY (`<=>`): plain `=` makes Catalyst infer
    * `isnotnull(bucket)` and push it below the projection, re-running
    * the whole bucket UDF once per key per branch — the measured
    * [[graft.operators.Dedup.pairJoin]] trap (planes × dim multiplies
    * per row, paid twice per side). Dropping nulls first preserves
    * `=`'s semantics exactly: a null embedding never joined anyway. */
  def annJoin(queries: DataFrame, qIdCol: String, qEmbCol: String,
              corpus: DataFrame, cIdCol: String, cEmbCol: String,
              dim: Int, planes: Int, k: Int, probeBits: Int = 0,
              wide: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bucketOf(c: String): Column =
      if (wide) wideBucketExpr(c, dim, planes) else bucketExpr(c, dim, planes)
    val q0 = queries.filter(col(qEmbCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qEmbCol).as("__qe"),
        bucketOf(qEmbCol).as("__qb0"))
    val q =
      if (probeBits == 0) q0.withColumn("__qb", col("__qb0")).drop("__qb0")
      else q0.withColumn("__qb",
          explode(expr(probeSetExpr(planes, probeBits))))
        .drop("__qb0")
    val c = corpus.filter(col(cEmbCol).isNotNull)
      .select(col(cIdCol).as("neighbor_id"), col(cEmbCol).as("__ce"),
        bucketOf(cEmbCol).as("__cb"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("similarity"), col("neighbor_id"))
    q.join(c, col("__qb") <=> col("__cb"))
      .withColumn("similarity", vectors.cosineSim(col("__ce"), col("__qe")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("similarity"), col("rank"))
  }

  /** [[annJoin]]'s batch face over a PERSISTED wide-family store — the
    * serving path a query TABLE takes against a
    * [[graft.operators.Dedup.embeddingBucketIndex]] build (columns
    * `id, emb, nrm, bucket, emb_sig`, written partitioned by `bucket`):
    * the corpus is NEVER re-bucketed — only the query side hashes, at
    * the store's geometry, verified at call time by the
    * [[annTopKWideIndexed]] min/max + null-count aggregate (the
    * [[ivfRefresh]] stance; a mismatched family would join cleanly and
    * silently return nothing). Queries drop null embeddings up front,
    * hash with [[wideBucketExpr]], explode the [[probeSetExpr]] probe
    * set (the SAME builder [[annJoin]] and [[annTuning]] use, so the
    * batch path's geometry cannot drift from the tuning measurement),
    * and BROADCAST: the store side stays in place — no shuffle touches
    * it (PlanGuardSpec pins that), and the broadcast equality on the
    * partition column keeps the scan prunable (dynamic partition
    * pruning on a partitioned store; the store-side `bucket` is a DATA
    * column here, so the `isnotnull` Catalyst infers from `=` lands on
    * the scan — the [[graft.operators.Dedup.pairJoin]] UDF re-evaluation
    * trap needs a bucket-kernel projection on the join side, which a
    * persisted store doesn't have; an INLINE-built store should join
    * through [[annJoin]] instead). Per-query ranking is one window keyed
    * by query id, exactly [[annJoin]]'s shape. The token check here is
    * the FULL-store aggregate, unlike [[annTopKWideIndexed]]'s
    * probed-slice check: a batch join's queries probe a data-dependent
    * bucket set that is not knowable driver-side, and the join itself
    * already scans every matched bucket — one extra single-column pass
    * amortized over the whole batch is noise where the same scan per
    * single query dominated (the r11 stress measurement). */
  def annJoinIndexed(queries: DataFrame, qIdCol: String, qEmbCol: String,
                     store: DataFrame, dim: Int, planes: Int, k: Int,
                     probeBits: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireWideStoreSig(store, dim, planes, allowEmpty = true,
      what = "annJoinIndexed")
    val q0 = queries.filter(col(qEmbCol).isNotNull)
      .select(col(qIdCol).as("query_id"), col(qEmbCol).as("__qe"),
        wideBucketExprOf(col(qEmbCol), dim, planes).as("__qb0"))
    requireUniqueQueryIds(q0, "query_id", "annJoinIndexed")
    val q =
      if (probeBits == 0) q0.withColumn("__qb", col("__qb0")).drop("__qb0")
      else q0.withColumn("__qb",
          explode(expr(probeSetExpr(planes, probeBits))))
        .drop("__qb0")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("similarity"), col("id"))
    store
      .join(broadcast(q), col("bucket") === col("__qb"))
      .withColumn("similarity", vectors.cosineSim(col("emb"), col("__qe")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("similarity"), col("rank"))
  }

  /** WIDE-family sign-LSH dial sweep — [[ivfTuning]]'s measure-before-
    * committing discipline applied to the hyperplane serving path: for
    * each (planes, probeBits) cell, the candidate volume a probe touches
    * (rows in the probed buckets — the partition-pruned read of a
    * persisted wide-bucket store at 100 TB) and recall@k against the
    * exact cosine top-k, over ONE shared corpus. The selectivity formula
    * says what a cell COSTS (≈ (1 + probeBits·planes)/2^planes of the
    * corpus); only the sweep says what recall it BUYS on your vectors —
    * without it a new store gets planes from folklore, exactly the
    * unmeasured-default class the legacy family's 128-bucket ceiling
    * turned out to be. `probeBits` is [[annJoin]]'s multi-probe radius
    * (0 = own bucket, 1 = plus every one-sign-flip neighbor — planes+1
    * buckets); at fixed planes the probe sets are NESTED, so both
    * n_candidates and n_hits are non-decreasing in probeBits (the
    * ModulesSpec-pinned property), while ACROSS planes nothing is
    * ordered — that trade-off surface is the measurement. One row per
    * cell: (planes, probe_bits, n_candidates, n_corpus, n_hits,
    * recall_x10k, cand_frac_x10k). One [[gridPass]]: each row hashes
    * once per distinct `planes` ([[wideBucketExpr]], as [[annJoin]]
    * serves) and joins every cell whose [[probeSetExpr]] set holds its
    * bucket; a null embedding joins only the exact cell. `idCol` must be
    * a unique bigint (both checked). */
  def annTuning(corpus: DataFrame, embCol: String, idCol: String,
                query: DataFrame, queryCol: String, dim: Int, k: Int,
                cells: Seq[(Int, Int)]): DataFrame = {
    val planes = cells.map(_._1).distinct
    requireSweepInput(corpus, idCol, Seq("__qe", "__sim") ++
      cells.indices.map(i => s"__pr$i") ++ planes.map(p => s"__cb$p"),
      "annTuning")
    val q0 = oneQueryRow(query, queryCol, "annTuning")
      .select(col(queryCol).as("__qe"))
    val q = cells.zipWithIndex.foldLeft(q0) { case (df, ((p, probeBits), i)) =>
      df.withColumn("__qb0", wideBucketExprOf(col("__qe"), dim, p))
        .withColumn(s"__pr$i", expr(probeSetExpr(p, probeBits)))
    }.drop("__qb0")
    val rows = planes.foldLeft(corpus.crossJoin(broadcast(q))
        .withColumn("__sim", vectors.cosineSim(col(embCol), col("__qe")))) {
      (df, p) => df.withColumn(s"__cb$p", wideBucketExpr(embCol, dim, p))
    }
    // probe buckets compare null-safely, as annJoin's `<=>` join does
    val g = gridPass(rows, idCol, cells.zipWithIndex.map { case ((p, _), i) =>
      (col(embCol).isNotNull &&
        exists(col(s"__pr$i"), _ <=> col(s"__cb$p")), col("__sim"))
    }, page = k)
    tuningReport(g, Seq("planes", "probe_bits"),
      cells.map { case (p, probeBits) => Seq(p.toLong, probeBits.toLong) },
      idCol, k, "annTuning")
  }

  /** A sweep's input: a bigint `idCol` (the pages bind ids as Long;
    * [[gridHits]] asserts uniqueness in-plan) and none of `reserved`. */
  private[graft] def requireSweepInput(df: DataFrame, idCol: String,
      reserved: Seq[String], what: String): Unit = {
    val idType = df.schema(idCol).dataType
    require(idType == org.apache.spark.sql.types.LongType,
      s"$what needs a bigint idCol: `$idCol` is ${idType.simpleString}")
    val taken = reserved.filter(df.columns.contains)
    require(taken.isEmpty,
      s"$what reserves column name(s): ${taken.mkString(", ")}")
  }

  /** The dial sweeps' one pass: every row of `rows` joins the exact cell
    * (-1, ranked by `__sim`) and each cell `i` it qualifies for
    * (`cells(i)`: condition, score). ONE groupBy(cell) aggregate keeps
    * each cell's count, the exact cell's distinct ids, and a page of its
    * best `page` rows by (score DESC, id ASC) — entries (id, score,
    * `__sim`), combined map-side ([[TopK.TopKAgg]]); a null score
    * ranks last, as `orderBy(desc)` ranks it. The cells fold into ONE row
    * (`__g`, read by [[gridCell]]), so a report never self-joins. */
  private[graft] def gridPass(rows: DataFrame, idCol: String,
                              cells: Seq[(Column, Column)],
                              page: Int): DataFrame = {
    def last(score: Column) = coalesce(score, lit(Double.NegativeInfinity))
    val joined = struct(lit(-1).as("c"), last(col("__sim")).as("s")) +:
      cells.zipWithIndex.map { case ((ok, score), i) =>
        when(ok, struct(lit(i).as("c"), last(score).as("s")))
      }
    val pageOf = TopK.topKWithPayload[Double](page)
    rows.select(col(idCol).as("__id"), last(col("__sim")).as("__sim"),
        explode(filter(array(joined: _*), _.isNotNull)).as("__e"))
      .groupBy(col("__e.c").as("cell"))
      .agg(count(lit(1)).as("n"),
        count_distinct(when(col("__e.c") === -1, col("__id"))).as("n_ids"),
        pageOf(col("__id"), col("__e.s"), col("__sim")).as("page"))
      .agg(collect_list(struct(col("cell"), col("n"), col("n_ids"),
        col("page"))).as("__g"))
  }

  /** [[gridPass]]'s cell `i` (-1 = exact): (cell, n, n_ids, page), or
    * null when no row joined it. */
  private[graft] def gridCell(i: Int): Column =
    get(filter(col("__g"), _("cell") === i), lit(0))

  /** The first `k` ids of a [[gridPass]] page (null stays null). */
  private def pageIds(page: Column, k: Int): Column =
    transform(slice(page, 1, k), _("_1"))

  /** |ids ∩ exact top-k| (0 for a cell no row joined), with the unique-id
    * assert folded in: a duplicate would silently miscount the SET. */
  private[graft] def gridHits(ids: Column, k: Int, idCol: String,
                              what: String): Column = {
    val exact = gridCell(-1)
    val unique = coalesce(assert_true(
        coalesce(exact("n_ids") === exact("n"), lit(true)),
        lit(s"$what needs unique non-null ids: `$idCol` repeats a value " +
          "or holds a null — n_hits intersects id sets")).cast("long"),
      lit(0L))
    when(ids.isNull || exact.isNull, lit(0L))
      .otherwise(size(array_intersect(ids, pageIds(exact("page"), k)))
        .cast("long")) + unique
  }

  /** One report row per cell `i`, keyed by `cells(i)`: n_candidates,
    * n_corpus (the exact cell's count), n_hits and the x10k ratios. */
  private def tuningReport(g: DataFrame, keys: Seq[String],
                           cells: Seq[Seq[Long]], idCol: String, k: Int,
                           what: String): DataFrame =
    g.select(explode(array(cells.zipWithIndex.map { case (key, i) =>
        val c = gridCell(i)
        struct(keys.zip(key).map { case (n, v) => lit(v).as(n) } :+
          coalesce(c("n"), lit(0L)).as("n_candidates") :+
          gridHits(pageIds(c("page"), k), k, idCol, what).as("n_hits"): _*)
      }: _*)).as("__r"), coalesce(gridCell(-1)("n"), lit(0L)).as("n_corpus"))
      .select(keys.map(n => col(s"__r.$n")) ++ Seq(col("__r.n_candidates"),
        col("n_corpus"), col("__r.n_hits")): _*)
      .withColumn("recall_x10k",
        expr(text.fixedPoint(s"CAST(n_hits AS DOUBLE) / $k", 4)))
      .withColumn("cand_frac_x10k", expr(text.fixedPoint(
        "CAST(n_candidates AS DOUBLE) / greatest(n_corpus, 1)", 4)))
      .orderBy(keys.map(col): _*)

  // --- IVF (inverted-file) variant -----------------------------------------
  //
  // The centroid-routed alternative to the sign-LSH buckets above, the other
  // standard ANN layout (FAISS's IVF-Flat): k-means centroids partition the
  // corpus into `nLists` inverted lists; a query probes only the `nProbe`
  // nearest lists and exact-reranks inside them. Versus LSH: data-adaptive
  // (centroids follow the corpus distribution, so list sizes stay balanced
  // where fixed hyperplanes can carve empty/mega buckets), at the cost of a
  // training pass. At 100 TB: fit on a sample, persist the corpus
  // partitioned by `list_id`, and a probe reads nProbe/nLists of the data.
  // No oracle — k-means is engine-specific — so the spec pins the exact
  // contract instead: probing ALL lists must equal brute force exactly.

  /** Fit the routing centroids. At scale, fit on `corpus.sample(...)` —
    * centroid quality degrades gracefully with sampling, recall does not
    * depend on seeing every row at training time. Spark ML's KMeans
    * (k-means||, 10 iterations at most): 11 fixed jobs plus one per
    * iteration. pqFit's Lloyd loop (2 + 10 jobs, lower distortion) lost
    * the q_ivf_topk, q_ivf_tuning and q_ivfpq_topk recall gates at seed
    * 42 at sf0.1, so this fit stays. Null rows are skipped; a null
    * element or a length mismatch fails the fit (a SparkException). Fit,
    * [[ivfAssign]] ([[Quantize.nearest]]) and the probes ([[routeDist2]],
    * then `list_id`) all break ties to the lowest list id. */
  def ivfFit(corpus: DataFrame, embCol: String, nLists: Int,
             seed: Long = 42L): IvfModel =
    IvfModel(new org.apache.spark.ml.clustering.KMeans()
      .setK(nLists).setSeed(seed).setMaxIter(10).setFeaturesCol("__features")
      .fit(corpus.filter(col(embCol).isNotNull)
        .select(org.apache.spark.ml.functions.array_to_vector(
          col(embCol).cast("array<double>")).as("__features")))
      .clusterCenters.map(_.toArray))

  /** Corpus with its inverted-list assignment (`list_id`, the nearest
    * center by [[Quantize.nearest]]) — persist partitioned by `list_id`
    * as the index build. */
  def ivfAssign(model: IvfModel, df: DataFrame, embCol: String): DataFrame =
    // NULL (or null-element) embeddings cannot be routed: dropping them
    // gives the whole IVF family (store build, refresh, residual encode,
    // serving) one verdict — an unroutable row is not in the index.
    df.filter(routable(embCol))
      .withColumn("list_id", listOf(model, embCol))

  /** Routable: a non-null embedding with no null element. */
  private[graft] def routable(embCol: String): Column =
    col(embCol).isNotNull && !exists(col(embCol), x => x.isNull)

  /** A routable row's nearest list ([[Quantize.nearest]]). */
  private[graft] def listOf(model: IvfModel, embCol: String): Column = {
    val centers = model.centers
    val dim = centers(0).length
    val route = udf { (emb: Array[Double]) =>
      require(emb.length == dim, s"ivfAssign: embedding dim ${emb.length} " +
        s"does not match the centroids' dim $dim")
      Quantize.nearest(centers, emb, 0)
    }
    route(col(embCol).cast("array<double>"))
  }

  /** Deterministic fingerprint of the routing centroids ([[Quantize.cbFingerprint]]
    * over the center matrix): the IVF store's freshness token. */
  private[graft] def ivfModelSig(model: IvfModel): Long =
    Quantize.cbFingerprint(Array(model.centers))

  /** The IVF store's stale text: the mismatch every `ivf_sig` gate names. */
  private val ivfStale = "IVF store — ivf_sig does not match this model's " +
    "centroids (the routing fit changed)"

  /** The streaming IVF store's [[Dedup.StoreFormat]] under `model`. */
  private def ivfFormat(model: IvfModel, embCol: String): Dedup.StoreFormat =
    Dedup.StoreFormat("ivf_sig", ivfModelSig(model), ivfStale,
      Seq("list_id"), ivfStore(model, _, embCol))

  /** The PERSISTABLE IVF store: [[ivfAssign]] output + `ivf_sig`, the
    * routing-fit fingerprint stamped per row — write partitioned by
    * `list_id`. The token is what turns "this store looks plausible" into
    * a checkable contract: [[ivfRefresh]] refuses a store built under a
    * different fit, the same loud-failure stance as the int8 `q_sig` and
    * PQ `pq_cb_sig` tokens. */
  def ivfStore(model: IvfModel, df: DataFrame, embCol: String): DataFrame = {
    require(!df.columns.contains("ivf_sig"),
      "ivfStore would overwrite an existing ivf_sig column")
    ivfAssign(model, df, embCol).withColumn("ivf_sig", lit(ivfModelSig(model)))
  }

  /** Incremental index maintenance — the cheap remedy the freshness
    * tokens' loud failure points to: assign ONLY the new batch under the
    * unchanged routing model and APPEND it to the persisted store
    * (the [[Dedup.minhashBandIndex]] pattern). Per-batch cost is |batch|
    * assignments + one partitioned write; the existing lists are never
    * rescanned or rewritten, which is the whole incremental story at
    * 100 TB — and because assignment is a pure per-row function of
    * (embedding, centroids), append-then-refresh equals a from-scratch
    * rebuild exactly (asserted in ModulesSpec). The gate is the shared
    * [[requireStoreSig]] body every other store family verifies with
    * (r12 — this and [[Quantize.pqRefresh]] were the two maintenance
    * gates still on bare min/max, which SKIP nulls: a careless
    * stamped ∪ raw union store would pass and get appended to, the
    * exact mixed-store hole the shared gate's null-token count closes).
    * Refuses loudly — BEFORE writing a row — a store with no `ivf_sig`
    * token, an EMPTY store, NULL-token rows, or a token from a
    * different routing fit (rebuild, don't append). The token scan is
    * maintenance-time, one column, stats-pruned — never on the search
    * path. */
  def ivfRefresh(spark: org.apache.spark.sql.SparkSession,
                 model: IvfModel,
                 storeDir: String, newBatch: DataFrame, embCol: String): Unit = {
    val store = spark.read.parquet(storeDir)
    requireBatchStore(store, s"ivfRefresh($storeDir)")
    requireStoreSig(store, "ivf_sig",
      ivfModelSig(model), allowEmpty = false,
      what = s"ivfRefresh($storeDir)", staleDesc = ivfStale)
    ivfStore(model, newBatch, embCol)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("list_id").parquet(storeDir)
  }

  /** Seed a STREAMING IVF store: the [[ivfStore]] list layout under an
    * `ingest_batch=-1` replay-ledger partition, ready for
    * [[ivfStoreIngestBatch]] micro-batches
    * ([[graft.operators.Dedup.seedEmbedIngestStore]]'s contract on the
    * serving-store family). */
  def seedIvfIngestStore(model: IvfModel, corpus: DataFrame, embCol: String,
                         storeDir: String): Unit =
    Dedup.seedIngestStore(ivfFormat(model, embCol), corpus, storeDir)

  /** One replay-idempotent micro-batch into a streaming IVF store — the
    * APPEND-ONLY shape of
    * [[graft.operators.Dedup.embedStoreIngestBatch]]'s ledger contract:
    * [[ivfRefresh]]'s blind append is correct under a run-each-batch-once
    * driver, but a streaming engine replays the last uncommitted
    * micro-batch after a crash and would double its rows; here the
    * batch's assignments land as a dynamic partition overwrite of its own
    * (ingest_batch, list_id) partitions — pure function of the batch, so
    * replay rewrites byte-identical partitions. Same token gate, run over
    * the store minus the batch's own ledger slice, refused before a row
    * is written. There is no mine: the IVF store is the serving product
    * itself ([[ivfTopK]] / [[ivfJoinIndexed]] — both read it with the
    * ledger column dropped, or after the
    * [[graft.sources.Maintenance.compactPartitionedTo]]
    * `dropCols = Seq("ingest_batch")` graduation). */
  def ivfStoreIngestBatch(spark: org.apache.spark.sql.SparkSession,
                          model: IvfModel,
                          storeDir: String, batchId: Long,
                          batch: DataFrame, embCol: String): Unit =
    Dedup.storeIngestBatch(spark, storeDir, batchId,
      ivfFormat(model, embCol), "ivfStoreIngestBatch", batch,
      pairsMine = None)

  /** IVF top-k: route the query to its `nProbe` nearest centroids, scan only
    * those lists, exact cosine re-rank. `nProbe = nLists` degenerates to
    * exact brute force (asserted in ModulesSpec).
    *
    * `query` must be a 1-row frame, like [[annTopK]]'s: the routing
    * orderBy+limit and the final top-k are global, so a multi-row query
    * batch would silently merge every query's probes and results into one
    * ranking — a query TABLE goes through [[ivfJoinIndexed]] (r12), which
    * serves every query in one plan with per-query windows and refuses
    * duplicate ids loudly. */
  def ivfTopK(model: IvfModel, corpus: DataFrame, embCol: String,
              query: DataFrame, queryCol: String,
              k: Int, nProbe: Int, tieBreak: Seq[String] = Nil): DataFrame =
    ivfTopKAssigned(model, ivfAssign(model, corpus, embCol), embCol,
      query, queryCol, k, nProbe, tieBreak)

  /** The nLists × dim centroid table as a broadcastable frame — the one
    * builder for [[probeLists]], [[ivfJoinIndexed]], the IVFPQ faces and
    * the catalog's own routing pages, so the routing geometry lives
    * exactly once (the [[probeSetExpr]]/[[probeSetSqlDuck]]
    * adjacent-bodies discipline: a routing change edits one builder,
    * not N inlined copies that silently drift apart). */
  private[graft] def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                                   model: IvfModel): DataFrame = {
    import spark.implicits._
    model.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
  }

  /** Squared euclidean query→centroid distance via the staged-dot
    * identity — the ONE routing score the single-query [[probeLists]],
    * the batch [[ivfJoinIndexed]] and the IVFPQ probe page rank by (always
    * tie-broken by `list_id`, so probe sets are nested deterministic
    * prefixes on both faces and batch serving can never drift from the
    * single-query routing or the [[ivfTuning]] measurement). */
  private[graft] def routeDist2(qe: Column, centroid: Column): Column =
    vectors.dot(qe, qe) - lit(2.0) * vectors.dot(qe, centroid) +
      vectors.dot(centroid, centroid)

  /** The `nProbe` nearest inverted lists to the query, by centroid
    * distance — [[ivfTopKAssigned]]'s routing stage; [[ivfTuning]] ranks
    * every list in the same order. Squared euclidean via the staged-dot
    * identity; centroid count is tiny, so this is a broadcast cross join
    * + TakeOrderedAndProject. Deterministic total order (dist2, list_id),
    * so probe sets are NESTED prefixes across nProbe values — the
    * property [[ivfTuning]]'s monotonicity checks rest on. */
  private def probeLists(model: IvfModel, query: DataFrame, queryCol: String,
                         nProbe: Int): DataFrame = {
    val spark = query.sparkSession
    query.select(col(queryCol).cast("array<double>").as("__q"))
      .crossJoin(broadcast(centroidFrame(spark, model)))
      .withColumn("dist2", routeDist2(col("__q"), col("centroid")))
      .orderBy(col("dist2"), col("list_id"))
      .limit(nProbe)
      .select(col("list_id"))
  }

  /** `sim` + the `ivf_sig` token assert when `assigned` carries one (in
    * the load-bearing score, so the optimizer cannot prune it). */
  private def sigChecked(model: IvfModel, assigned: DataFrame,
                         sim: Column): Column =
    if (!assigned.columns.contains("ivf_sig")) sim
    else sim + coalesce(assert_true(
      col("ivf_sig") === lit(ivfModelSig(model)),
      lit(s"stale $ivfStale; rebuild the store"))
      .cast("double"), lit(0.0))

  /** [[ivfTopK]] over a PRE-ASSIGNED corpus (the persisted index build —
    * [[ivfAssign]] output stored partitioned by `list_id`): only the query
    * routes through the centroids at search time, and the list join prunes
    * partitions instead of re-running assignment over the whole corpus. */
  def ivfTopKAssigned(model: IvfModel, assigned: DataFrame, embCol: String,
                      query: DataFrame, queryCol: String,
                      k: Int, nProbe: Int,
                      tieBreak: Seq[String] = Nil): DataFrame = {
    // ONE query row, checked loudly — the [[annTopKWideIndexed]] contract
    // this face's docs promise: [[probeLists]]' orderBy+limit is GLOBAL,
    // so a multi-row frame would mix every query's centroid distances
    // into one probe set and every candidate into one blended top-k —
    // plausible neighbors belonging to no query, no error (a query TABLE
    // goes through [[ivfJoinIndexed]]). Everything downstream derives
    // from the one collected row, so a non-deterministic 1-row plan
    // (limit/sample over a larger frame) cannot route with one embedding
    // and score against another.
    val qLocal = oneQueryRow(query, queryCol, "ivfTopKAssigned")
    require(!assigned.columns.contains("__qe"),
      "ivfTopKAssigned reserves column name: __qe")
    val probes = probeLists(model, qLocal, queryCol, nProbe)
    // a store stamped by [[ivfStore]] is token-checked on the probe page
    // (assert_true folded into the load-bearing similarity, the Quantize
    // recipe — an unused check column would be optimizer-pruned); stores
    // from bare [[ivfAssign]] keep the unchecked contract. The query
    // column rides the join under the reserved name __qe so a store
    // whose embedding column is also `queryCol` (the natural call
    // against a persisted store) cannot throw AMBIGUOUS_REFERENCE.
    val checked = sigChecked(model, assigned,
      vectors.cosineSim(col(embCol), col("__qe")))
    assigned
      .join(broadcast(probes), "list_id")
      .crossJoin(broadcast(qLocal.select(col(queryCol).as("__qe"))))
      .withColumn("similarity", checked)
      .orderBy(desc("similarity") +: tieBreak.map(col): _*)
      .limit(k)
      .drop("ivf_sig", "__qe")
  }

  /** [[annJoinIndexed]]'s IVF sibling — the batch serving face over a
    * PERSISTED [[ivfStore]] build (written partitioned by `list_id`):
    * for EVERY query row, the k most-cosine-similar store rows within
    * that query's own `nProbe` nearest inverted lists. This closes the
    * serving matrix the r11 verdict left open: [[ivfTopK]] /
    * [[ivfTopKAssigned]] enforce a loud 1-row query contract, so a
    * query TABLE against the centroid-routed layout previously meant
    * per-query invocation — N driver round-trips for N queries — where
    * the wide-family store already had [[annJoinIndexed]].
    *
    * Shape: the store is NEVER re-assigned and never shuffles — only
    * the query side routes (one broadcast cross join against the
    * nLists × dim centroid table, then one window keyed by query id
    * picking each query's `nProbe` best lists by squared euclidean —
    * the SAME (dist2, list_id) total order [[probeLists]] serves one
    * query with, so batch and single-query probe sets can never
    * drift), and the exploded (query, list) probe pairs BROADCAST into
    * the list join, keeping a `list_id`-partitioned store prunable.
    * Per-query ranking is one window keyed by query id, exactly
    * [[annJoinIndexed]]'s shape. `nProbe = nLists` probes everything,
    * so it equals the exact per-query brute force (ModulesSpec pins
    * it). Null query embeddings are dropped up front (a null routes
    * nowhere and scores nothing — the [[annJoin]] discipline).
    *
    * The store must carry the `ivf_sig` token ([[ivfStore]] output —
    * this is the store-consuming face; an inline [[ivfAssign]] frame
    * should go through [[ivfTopKAssigned]] per query instead), verified
    * by the FULL-store [[requireStoreSig]] aggregate at call time: a
    * batch's probed lists are data-dependent and the join scans every
    * matched list anyway, so one single-column stats-pruned pass
    * amortized over the whole batch is noise — the [[annJoinIndexed]]
    * stance. */
  def ivfJoinIndexed(queries: DataFrame, qIdCol: String, qEmbCol: String,
                     model: IvfModel,
                     store: DataFrame, idCol: String, embCol: String,
                     k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    requireStoreSig(store, "ivf_sig", ivfModelSig(model), allowEmpty = true,
      what = "ivfJoinIndexed", staleDesc = ivfStale)
    val q = queries.filter(col(qEmbCol).isNotNull)
      .select(col(qIdCol).as("query_id"),
        col(qEmbCol).cast("array<double>").as("__qe"))
    requireUniqueQueryIds(q, "query_id", "ivfJoinIndexed")
    val routeW = Window.partitionBy("query_id")
      .orderBy(col("dist2"), col("list_id"))
    val probes = q.crossJoin(broadcast(centroidFrame(queries.sparkSession, model)))
      .withColumn("dist2", routeDist2(col("__qe"), col("centroid")))
      .withColumn("__r", row_number().over(routeW))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("__qe"), col("list_id"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(desc("similarity"), col(idCol))
    store
      .join(broadcast(probes), Seq("list_id"))
      .withColumn("similarity", vectors.cosineSim(col(embCol), col("__qe")))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("similarity"), col("rank"))
  }

  /** IVF dial sweep — [[Dedup]]'s LSH-tuning pattern applied to ANN
    * serving: for each `nProbe`, the candidate volume a probe scans
    * (rows in the probed lists — the partition-pruned read at 100 TB)
    * and recall@k against the exact cosine top-k, over ONE shared
    * assignment of the corpus. This is the measurement that justifies a
    * fixed nProbe before committing it to a serving config: the
    * (1/nLists)·nProbe scan-fraction formula says what probing COSTS,
    * only the sweep says what recall it BUYS on your corpus. One row per
    * dial: (nprobe, n_candidates, n_corpus, n_hits, recall_x10k,
    * cand_frac_x10k). Because probe sets are nested prefixes
    * ([[probeLists]]' deterministic total order) and the true top-k of a
    * candidate superset can only gain true-top-k members, both
    * n_candidates and n_hits are non-decreasing in nProbe, and
    * nProbe = nLists is exactly brute force — the theorem-backed
    * properties q_ivf_tuning's oracle pins. One [[gridPass]]: the query
    * ranks every list once in [[probeLists]]' order; a row joins each
    * dial whose nProbe covers its list's rank, scored as
    * [[ivfTopKAssigned]] scores it. `idCol`: a unique bigint (checked). */
  def ivfTuning(model: IvfModel,
                assigned: DataFrame, embCol: String, idCol: String,
                query: DataFrame, queryCol: String,
                k: Int, nProbes: Seq[Int]): DataFrame = {
    requireSweepInput(assigned, idCol, Seq("__qe", "__sim", "__order", "__rank"),
      "ivfTuning")
    // every list in probeLists' order, as one broadcast row
    val order = oneQueryRow(query, queryCol, "ivfTuning")
      .select(col(queryCol).cast("array<double>").as("__qe"))
      .crossJoin(centroidFrame(query.sparkSession, model))
      .groupBy(col("__qe"))
      .agg(transform(sort_array(collect_list(struct(
          routeDist2(col("__qe"), col("centroid")).as("d"), col("list_id")))),
        _("list_id")).as("__order"))
    val rows = assigned.crossJoin(broadcast(order))
      .withColumn("__sim", vectors.cosineSim(col(embCol), col("__qe")))
      .withColumn("__rank", array_position(col("__order"), col("list_id")))
    val checked = sigChecked(model, assigned, col("__sim"))
    val g = gridPass(rows, idCol,
      nProbes.map(np => (col("__rank").between(1, np), checked)), page = k)
    tuningReport(g, Seq("nprobe"), nProbes.map(np => Seq(np.toLong)),
      idCol, k, "ivfTuning")
  }
}
