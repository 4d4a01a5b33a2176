package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.functions.{text, DuckDialect => D, SparkDialect => S}
import graft.operators.Dedup
import graft.plans.Shared.share

/** Training-data-pipeline queries over the `documents` corpus: the dedup
  * ladder (exact / n-gram Jaccard / MinHash LSH / SimHash / embedding
  * cosine), language-ID, quality scoring, token counting and fingerprinting.
  *
  * The testdata corpus has no duplicates (500 unique synthetic texts), so
  * the dedup queries first build a deterministic duplicated corpus in-query:
  * every doc unioned with a copy (exact dup) or a copy with two appended
  * out-of-vocabulary tokens / a rescaled embedding (near dup), ids offset by
  * 10000. Both engines construct the corpus with identical SQL semantics, so
  * the oracle exercises the full operator path, not a special case.
  */
object TextQueries {

  /** Fixture directions for q_embed_cap_recall — three directions sharing
    * ONE coarse 8-plane bucket (every plane dot's |margin| ≥ 3, so the
    * positive integer rescales cannot flip a sign) with DISTINCT 16-bit
    * component-sign sketches; the ±0.1 at dims 1/2 is the sketch lever.
    * cos(D1, D2) ≈ 0.9995 (a true pair the salvage rep tier must
    * recover); cos(·, E) ≈ 0.949 (under the 0.99 threshold — the rep
    * tier must verify-reject it). Verified numerically at construction;
    * the oracle replays the same literals, so drift fails loudly. */
  private val capRecallBase: Array[Double] = Array(-0.5, 0.1, 0.1, 1.0,
    -1.0, -1.0, 1.0, 0.5, -0.5, -0.5, 1.0, 1.0, 1.0, -0.5, -0.5, -0.5,
    1.0, -1.0, -1.0, -0.5, -1.0, 0.5, -1.0, 0.5, 1.0, 1.0, 1.0, 1.0,
    1.0, -0.5, 0.5, -1.0, -1.0, -0.5, 1.0, -0.5, 0.5, 1.0, 0.5, 1.0,
    1.0, 0.5, 1.0, -0.5, 0.5, -1.0, 0.5, -0.5, 0.5, -1.0, -0.5, 0.5,
    0.5, -1.0, -1.0, 1.0, 1.0, -1.0, 0.5, -1.0, 1.0, -0.5, -1.0, 0.5)
  private val capRecallD2 = capRecallBase.updated(1, -0.1)
  private val capRecallE = capRecallBase.updated(2, -0.1).zipWithIndex
    .map { case (x, j) => if (j >= 32) x * 0.5 else x }
  /** Spark SQL array literal (D suffix: bare -0.5 parses as DECIMAL). */
  private def arrSpark(v: Array[Double]): String =
    v.map(x => s"${x}D").mkString("array(", ", ", ")")
  /** DuckDB list literal. */
  private def arrDuck(v: Array[Double]): String =
    v.mkString("[", ", ", "]::DOUBLE[]")

  /** near-dup text corpus: (doc_id, text, lang) ∪ (doc_id+10000, text+' xq', lang) */
  private def nearDupCorpus(df: DataFrame): DataFrame = {
    val base = df.select(col("doc_id"), col("text"), col("lang"))
    base.unionByName(base.select(
      (col("doc_id") + 10000).as("doc_id"),
      concat(col("text"), lit(" xq")).as("text"),
      col("lang")))
  }

  private val nearDupCorpusSql =
    """corpus AS (
      |  SELECT doc_id, text, lang FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' xq', lang FROM documents)""".stripMargin

  val all: Seq[Q] = Seq(

    Q("q_dedup_exact",
      "Exact dedup by content hash-groupBy (chatbot.py:315 generalized): one " +
        "survivor per distinct text + duplicate count; map-side combinable at 100 TB",
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM (SELECT doc_id, text FROM documents
             |      UNION ALL
             |      SELECT doc_id + 10000, text FROM documents)
             |GROUP BY text
             |ORDER BY keep_id""".stripMargin)) { (s, dir) =>
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = d.unionByName(d.select((col("doc_id") + 10000).as("doc_id"), col("text")))
      Dedup.exact(corpus, "doc_id", "text").orderBy("keep_id")
    },

    Q("q_dedup_ngram_jaccard",
      "Near-dup pairs by word 3-gram Jaccard >= 0.6, prefix-blocked " +
        "(16-char text prefix): blocks stay O(1)-sized at any corpus scale, " +
        "so the quadratic never materializes; MinHash LSH is the open-domain path",
      Some(s"""WITH $nearDupCorpusSql,
              |sh AS (SELECT doc_id, substr(text, 1, 16) AS blk,
              |         ${text.shingleHashes(D, "text", 3)} AS sh
              |       FROM corpus)
              |SELECT a_id, b_id, ${text.fixedPoint("jaccard", 4)} AS jaccard_x10k FROM (
              |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
              |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id)
              |WHERE jaccard >= 0.6
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      Dedup.ngramJaccardPairs(
          nearDupCorpus(documents(s, dir))
            .withColumn("blk", substring(col("text"), 1, 16)),
          "doc_id", "text", "blk", n = 3, threshold = 0.6)
        .select(col("a_id"), col("b_id"),
          expr(text.fixedPoint("jaccard", 4)).as("jaccard_x10k"))
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_prefix_filter",
      "Near-dup pairs by token-set Jaccard >= 4/5 via PPJoin-style prefix " +
        "filtering: tokens ranked rarest-first by document frequency, each " +
        "doc emits only its first |T|-ceil(0.8|T|)+1 tokens as candidate " +
        "keys — a LOSSLESS filter (prefix lemma), so unlike LSH the result " +
        "is exactly the true pairs. The threshold is the exact rational 4/5 " +
        "(integer prefix/verify arithmetic; double 0.8*|T| flips ceil at " +
        "multiples of 5 between IEEE and DECIMAL engines). df table is " +
        "vocab-sized and broadcast; candidate volume rides the RAREST " +
        "tokens, with maxBucket=64 bounding residual hot keys (mirrored in " +
        "the oracle's bucket exclusion)",
      Some(s"""WITH $nearDupCorpusSql,
              |tk AS (SELECT doc_id,
              |         ${D.arrayDistinct(text.shingleHashes(D, "text", 1))} AS ts
              |       FROM corpus),
              |ex AS (SELECT doc_id, CAST(${D.size("ts")} AS BIGINT) AS sz,
              |         unnest(ts) AS tok
              |       FROM tk WHERE ts IS NOT NULL),
              |dfreq AS (SELECT tok, count(*) AS dfreq FROM ex GROUP BY tok),
              |pos AS (SELECT doc_id, sz, tok,
              |          row_number() OVER (PARTITION BY doc_id
              |            ORDER BY dfreq, tok) AS pos
              |        FROM ex JOIN dfreq USING (tok)),
              |pref AS (SELECT doc_id, sz, tok FROM pos
              |         WHERE pos <= sz - ((4 * sz + 4) // 5) + 1),
              |big AS (SELECT tok FROM pref GROUP BY tok HAVING count(*) > 64),
              |pref2 AS (SELECT * FROM pref WHERE tok NOT IN (SELECT tok FROM big)),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              |         FROM pref2 a JOIN pref2 b ON a.tok = b.tok
              |           AND a.doc_id < b.doc_id
              |           AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4),
              |v AS (SELECT a_id, b_id,
              |        CAST(${D.size(D.arrayIntersect("ta.ts", "tb.ts"))} AS BIGINT) AS inter,
              |        CAST(${D.size(D.arrayUnion("ta.ts", "tb.ts"))} AS BIGINT) AS uni
              |      FROM cand
              |      JOIN tk ta ON ta.doc_id = a_id
              |      JOIN tk tb ON tb.doc_id = b_id)
              |SELECT a_id, b_id,
              |  ${text.fixedPoint("CAST(inter AS DOUBLE) / uni", 4)} AS jaccard_x10k
              |FROM v WHERE inter * 5 >= uni * 4
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val tk = share(Dedup.tokenSets(nearDupCorpus(documents(s, dir)),
        "doc_id", "text"))
      Dedup.prefixFilterJaccardPairsFromSets(tk,
          num = 4, den = 5, maxBucket = 64)
        .select(col("a_id"), col("b_id"),
          expr(text.fixedPoint("jaccard", 4)).as("jaccard_x10k"))
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_minhash",
      "MinHash LSH candidate pairs: 16-value signatures over 3-gram shingle " +
        "hashes, 4 bands x 4 rows; pairs sharing >= 1 band. THE near-dup shuffle " +
        "pattern at 100 TB: corpus shuffles keyed by (band_idx, band_hash) only",
      Some(s"""WITH $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j))
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
              |FROM bands a JOIN bands b
              |  ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id
              |GROUP BY 1, 2
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      Dedup.minhashLshPairs(nearDupCorpus(documents(s, dir)),
          "doc_id", "text", k = 16, bands = 4, shingleN = 3)
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_simhash",
      "SimHash near-dup pairs: 60-bit fingerprints over 3-gram shingle hashes, " +
        "hamming <= 3 via exact pigeonhole chunk-join (4 chunks of 15 bits — " +
        "32k-value chunks keep buckets tiny on PROSE at any corpus size — " +
        "but near-empty docs hash to all-zero fingerprints whose chunks " +
        "collapse into one mega-bucket on a real crawl, so maxBucket=64 is " +
        "ENGAGED and mirrored in the oracle's bucket exclusion; no fixture " +
        "bucket reaches it)",
      Some(s"""WITH $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |mx AS (SELECT doc_id, ${text.mixedHashes(D, "hs", text.Mix1)} AS m1,
              |              ${text.mixedHashes(D, "hs", text.Mix2)} AS m2
              |       FROM hs),
              |sigs AS (SELECT doc_id, ${text.simhashFromMixed(D, "m1", "m2", 60)} AS sh
              |         FROM mx),
              |ch AS (SELECT doc_id, sh, j,
              |         ${D.intDiv("sh", "CAST(pow(2, j*15) AS BIGINT)")} % 32768 AS cv
              |       FROM sigs, (SELECT unnest(generate_series(0, 3)) AS j)),
              |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
              |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
              |          SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
              |                a.sh AS a_sh, b.sh AS b_sh
              |         FROM ch2 a JOIN ch2 b
              |           ON a.j = b.j AND a.cv = b.cv AND a.doc_id < b.doc_id)
              |SELECT a_id, b_id,
              |  CAST(bit_count(xor(a_sh, b_sh)) AS BIGINT) AS hamming
              |FROM cand
              |WHERE bit_count(xor(a_sh, b_sh)) <= 3
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      Dedup.simhashPairs(nearDupCorpus(documents(s, dir)),
          "doc_id", "text", bits = 60, chunks = 4, maxHamming = 3, shingleN = 3,
          maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_embed",
      "Embedding-cosine near-dup pairs (>= 0.99) blocked by random-hyperplane " +
        "LSH bucket (AnnIndex, 8 planes): buckets stay small at any corpus " +
        "size, and positive rescaling preserves the bucket, so the x2-rescaled " +
        "dup copies (cosine-invariant, sim = 1.0 exactly) are always found",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 10000,
              |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
              |  FROM embeddings),
              |bucketed AS (SELECT vec_id, emb,
              |  ${graft.operators.AnnIndex.bucketSqlDuck("emb", 64, 8)} AS bucket,
              |  sqrt(list_dot_product(emb, emb)) AS nrm
              |  FROM corpus)
              |SELECT a_id, b_id, round(cosine, 4) AS cosine FROM (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |         ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END AS cosine
              |  FROM bucketed a JOIN bucketed b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |WHERE cosine >= 0.99
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val e = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val corpus = e.unionByName(e.select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("emb"), x => x * 2.0).as("emb")))
        .withColumn("bucket", graft.operators.AnnIndex.bucketExpr("emb", 64, 8))
      Dedup.embeddingPairs(corpus, "vec_id", "emb", "bucket", threshold = 0.99)
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_embed_wide",
      "q_dedup_embed on the WIDE prime-modulus plane family " +
        "(AnnIndex.wideBucketExpr, 20 planes): the engine's own census " +
        "(q_ann_plane_family) proves the legacy blocking family holds " +
        "at most 7 distinct hyperplanes — a selectivity ceiling the " +
        "corpus census confirms directly (sf0.1 doubled corpus, 4000 " +
        "rows: legacy occupies 116 buckets whether 8, 12 or 16 planes " +
        "are requested, max block 168, 118k pairs inside oversized " +
        "blocks; wide at 20 planes occupies 847, max block 98, 46k — " +
        "SCALE.md), so asking legacy for more planes adds nothing " +
        "while wide keeps splitting down to the same-SIGN mass no " +
        "hyperplane family can separate (the salvage tier's job, " +
        "q_embed_cap_recall). Positive rescales still share their " +
        "original's bucket (sign-LSH scale-invariance holds for ANY " +
        "coefficient family), so the x2-rescaled twins are always " +
        "found. This is the blocking NEW embedding stores should use; " +
        "q_dedup_embed stays oracle-pinned on the legacy default",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 10000,
              |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
              |  FROM embeddings),
              |bucketed AS (SELECT vec_id, emb,
              |  ${graft.operators.AnnIndex.wideBucketSqlDuck("emb", 64, 20)} AS bucket,
              |  sqrt(list_dot_product(emb, emb)) AS nrm
              |  FROM corpus)
              |SELECT a_id, b_id, round(cosine, 4) AS cosine FROM (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |         ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END AS cosine
              |  FROM bucketed a JOIN bucketed b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |WHERE cosine >= 0.99
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val e = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val corpus = e.unionByName(e.select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("emb"), x => x * 2.0).as("emb")))
        .withColumn("bucket",
          graft.operators.AnnIndex.wideBucketExpr("emb", 64, 20))
      Dedup.embeddingPairs(corpus, "vec_id", "emb", "bucket", threshold = 0.99)
        .orderBy("a_id", "b_id")
    },

    Q("q_embed_neardup_incremental",
      "Incremental embedding near-dup mining " +
        "(Dedup.embeddingIncrementalPairs), completing the incremental " +
        "matrix — MinHash bands (q_dedup_incremental), hamming chunks " +
        "(q_image/audio/video_neardup_incremental), now the vector " +
        "face: the x2-rescaled copies arrive as a NEW batch and pair " +
        "against the base corpus's prebuilt wide-family sign-bucket " +
        "store (Dedup.embeddingBucketIndex: buckets + staged norms + " +
        "the emb_sig geometry token) — new×corpus and new×new pairs " +
        "only, never corpus×corpus, so per-batch cost is independent " +
        "of corpus size where a full re-pair grows with its square. " +
        "The maxBucket=64 cap is ENGAGED with its population taken " +
        "over the full post-batch bucket. Oracle = the from-scratch " +
        "capped wide-bucket pair run restricted to pairs touching the " +
        "new batch: the incremental path must find EXACTLY what a " +
        "from-scratch run would",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 10000,
              |         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
              |  FROM embeddings),
              |bucketed AS (SELECT vec_id, emb,
              |  ${graft.operators.AnnIndex.wideBucketSqlDuck("emb", 64, 20)} AS bucket,
              |  sqrt(list_dot_product(emb, emb)) AS nrm
              |  FROM corpus),
              |big AS (SELECT bucket FROM bucketed GROUP BY bucket
              |  HAVING count(*) > 64),
              |sm AS (SELECT * FROM bucketed WHERE NOT EXISTS (
              |  SELECT 1 FROM big WHERE big.bucket = bucketed.bucket))
              |SELECT a_id, b_id, round(cosine, 4) AS cosine FROM (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |         ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END AS cosine
              |  FROM sm a JOIN sm b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |WHERE cosine >= 0.99
              |  AND (a_id >= 10000 OR b_id >= 10000)
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Dedup
      val base = embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val newBatch = base.select((col("vec_id") + 10000).as("vec_id"),
        transform(col("emb"), x => x * 2.0).as("emb"))
      val index = Dedup.embeddingBucketIndex(base, "vec_id", "emb",
        dim = 64, planes = 20)
      Dedup.embeddingIncrementalPairs(newBatch, index, "vec_id", "emb",
          dim = 64, planes = 20, threshold = 0.99, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_embed_cap_audit",
      "The measure-before-committing-a-cap step for the EMBEDDING pair " +
        "face (q_dedup_cap_audit's discipline on the vector family, now " +
        "that embeddingPairs carries the same maxBucket cap as every " +
        "other pair face): real embeddings + a planted 100-copy " +
        "i-rescaled flood of one synthetic vector — cosine 1.0 " +
        "pairwise, one sign-LSH bucket by scale-invariance, the viral-" +
        "embedding skew the cap exists for. Reports the bucket census, " +
        "exactly what cap 64 drops (oversized buckets, docs, the " +
        "n(n-1)/2 pairs avoided — the flood's quadratic), the surviving " +
        "capped pair count at >= 0.99, and that the flood bucket was " +
        "dropped. At 100 TB this census runs over the persisted bucket " +
        "layout BEFORE any pair join launches.",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id < 300
              |  UNION ALL
              |  SELECT vec_id + 100000,
              |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
              |  FROM embeddings WHERE vec_id < 10
              |  UNION ALL
              |  SELECT 200000 + i AS vec_id,
              |    list_transform(generate_series(1, 64), j ->
              |      (CASE WHEN j % 2 = 0 THEN 1.0 ELSE -0.5 END) * (i + 1))
              |      AS emb
              |  FROM (SELECT unnest(generate_series(0, 99)) AS i)),
              |bucketed AS (SELECT vec_id, emb,
              |  ${graft.operators.AnnIndex.bucketSqlDuck("emb", 64, 8)} AS bucket,
              |  sqrt(list_dot_product(emb, emb)) AS nrm
              |  FROM corpus),
              |census AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
              |  FROM bucketed GROUP BY bucket),
              |over AS (SELECT * FROM census WHERE n > 64),
              |small AS (SELECT b.* FROM bucketed b WHERE NOT EXISTS (
              |  SELECT 1 FROM over WHERE over.bucket = b.bucket)),
              |capped AS (SELECT CAST(count(*) AS BIGINT) AS n FROM (
              |  SELECT 1 FROM small a JOIN small b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |  WHERE (CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |    ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END)
              |    >= 0.99))
              |SELECT
              |  (SELECT CAST(count(*) AS BIGINT) FROM census) AS n_buckets,
              |  (SELECT CAST(count(*) AS BIGINT) FROM over) AS n_oversized,
              |  (SELECT COALESCE(CAST(sum(n) AS BIGINT), 0) FROM over)
              |    AS n_docs_dropped,
              |  (SELECT COALESCE(CAST(sum(n * (n - 1) // 2) AS BIGINT), 0)
              |    FROM over) AS n_pairs_avoided,
              |  (SELECT n FROM capped) AS n_capped_pairs,
              |  EXISTS(SELECT 1 FROM over o JOIN bucketed f
              |    ON o.bucket = f.bucket AND f.vec_id >= 200000)
              |    AS flood_dropped""".stripMargin)) { (s, dir) =>
      import s.implicits._
      val e300 = embeddings(s, dir).filter(col("vec_id") < 300)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // x2-rescale twins (the q_dedup_embed fixture): cosine 1.0 pairs in
      // SMALL buckets the cap must keep — the audit shows both faces
      val corpus = e300
        .unionByName(e300.filter(col("vec_id") < 10)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(col("emb"), x => x * 2.0).as("emb")))
        .unionByName(s.range(0, 100)
          .select((col("id") + 200000).as("vec_id"),
            expr("transform(sequence(1, 64), j -> " +
              "(CASE WHEN j % 2 = 0 THEN 1.0D ELSE -0.5D END) * (id + 1))")
              .as("emb")))
        .withColumn("bucket",
          graft.operators.AnnIndex.bucketExpr("emb", 64, 8))
        // driver-side reader (graft.plans.Shared): the scalar cells below
        // are driver-side actions
        .localCheckpoint(true)
      val census = corpus.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n")).localCheckpoint(true)
      val over = census.filter(col("n") > 64)
      val nBuckets = census.count()
      val Array(nOver, nDocs, nAvoided) = over
        .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L)),
          coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val nCapped = graft.operators.Dedup.embeddingPairs(
        corpus, "vec_id", "emb", "bucket", threshold = 0.99,
        maxBucket = 64).count()
      val floodDropped = over
        .join(corpus.filter(col("vec_id") >= 200000)
          .select(col("bucket")), "bucket", "left_semi")
        .limit(1).count() > 0
      Seq((nBuckets, nOver, nDocs, nAvoided, nCapped, floodDropped))
        .toDF("n_buckets", "n_oversized", "n_docs_dropped",
          "n_pairs_avoided", "n_capped_pairs", "flood_dropped")
    },

    Q("q_embed_cap_recall",
      "TRUE-PAIR RECALL under the embedding face's maxBucket cap, and " +
        "the salvage tier that closes the loss — completing the recall " +
        "trilogy (q_dedup_cap_recall: hamming, q_dedup_lsh_recall: " +
        "MinHash, now vectors). The grouping key the other salvage " +
        "tiers use (identical fingerprint/signature) has no float-safe " +
        "analog for vectors — a rescaled copy is a DIFFERENT array with " +
        "the same direction — and the sign-LSH hyperplane family cannot " +
        "refine its own buckets (7 distinct planes total), so " +
        "Dedup.embeddingSalvageEdges re-splits oversized buckets by the " +
        "scale-invariant component-SIGN sketch (an independent family): " +
        "verified pairs inside small sub-buckets, verified min-id STARS " +
        "inside still-oversized ones (same-direction floods, n-1 " +
        "verifications), verified REP PAIRS across <= maxReps groups. " +
        "Fixture: three 80-copy rescale floods sharing ONE coarse " +
        "bucket with distinct sketches — two at cosine 0.9995 of each " +
        "other (their cross pairs are TRUE pairs only the rep tier can " +
        "reconnect: member-rep-rep-member is exactly the 3-hop bound) " +
        "and one at 0.949 (the rep tier must verify-REJECT it). The " +
        "plain cap drops all 15 880 flood true pairs SILENTLY; the " +
        "salvage graph reconnects 100% of them. Healthy rows are " +
        "filtered away from the flood bucket so the oversized block is " +
        "exactly the planted skew.",
      Some(s"""WITH corpus AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              |  FROM embeddings WHERE vec_id < 120
              |  UNION ALL
              |  SELECT vec_id + 100000,
              |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
              |  FROM embeddings WHERE vec_id < 10
              |  UNION ALL
              |  SELECT 200000 + i, list_transform(${arrDuck(capRecallBase)},
              |    x -> x * (i + 1))
              |  FROM (SELECT unnest(generate_series(0, 79)) AS i)
              |  UNION ALL
              |  SELECT 210000 + i, list_transform(${arrDuck(capRecallD2)},
              |    x -> x * (i + 1))
              |  FROM (SELECT unnest(generate_series(0, 79)) AS i)
              |  UNION ALL
              |  SELECT 220000 + i, list_transform(${arrDuck(capRecallE)},
              |    x -> x * (i + 1))
              |  FROM (SELECT unnest(generate_series(0, 79)) AS i)),
              |bucketed0 AS (SELECT vec_id, emb,
              |  ${graft.operators.AnnIndex.bucketSqlDuck("emb", 64, 8)} AS bucket,
              |  sqrt(list_dot_product(emb, emb)) AS nrm
              |  FROM corpus),
              |floodb AS (SELECT bucket AS b FROM bucketed0 WHERE vec_id = 200000),
              |bucketed AS (SELECT * FROM bucketed0
              |  WHERE vec_id >= 200000 OR bucket <> (SELECT b FROM floodb)),
              |tp AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM bucketed a JOIN bucketed b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |  WHERE (CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |    ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END)
              |    >= 0.99),
              |over AS (SELECT bucket FROM bucketed GROUP BY bucket
              |  HAVING count(*) > 64),
              |sm AS (SELECT * FROM bucketed WHERE NOT EXISTS (
              |  SELECT 1 FROM over WHERE over.bucket = bucketed.bucket)),
              |capped AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM sm a JOIN sm b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |  WHERE (CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |    ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END)
              |    >= 0.99),
              |mega AS (SELECT b.*,
              |  ${graft.operators.AnnIndex.signSketchSqlDuck("emb", 16)} AS fine
              |  FROM bucketed b WHERE EXISTS (
              |    SELECT 1 FROM over WHERE over.bucket = b.bucket)),
              |fc AS (SELECT bucket, fine, count(*) AS fn
              |  FROM mega GROUP BY bucket, fine),
              |smf AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM mega a JOIN mega b
              |    ON a.bucket = b.bucket AND a.fine = b.fine
              |      AND a.vec_id < b.vec_id
              |  WHERE EXISTS (SELECT 1 FROM fc WHERE fc.bucket = a.bucket
              |      AND fc.fine = a.fine AND fc.fn <= 64)
              |    AND (CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |      ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END)
              |    >= 0.99),
              |rep AS (SELECT m.* FROM mega m JOIN (
              |    SELECT bucket, fine, min(vec_id) AS mid
              |    FROM mega GROUP BY bucket, fine) g
              |  ON m.bucket = g.bucket AND m.fine = g.fine
              |    AND m.vec_id = g.mid),
              |stars AS (SELECT r.vec_id AS a_id, m.vec_id AS b_id
              |  FROM mega m JOIN rep r
              |    ON m.bucket = r.bucket AND m.fine = r.fine
              |      AND m.vec_id <> r.vec_id
              |  WHERE EXISTS (SELECT 1 FROM fc WHERE fc.bucket = m.bucket
              |      AND fc.fine = m.fine AND fc.fn > 64)
              |    AND (CASE WHEN m.nrm = 0.0 OR r.nrm = 0.0 THEN 0.0
              |      ELSE list_dot_product(m.emb, r.emb) / (m.nrm * r.nrm) END)
              |    >= 0.99),
              |pairable AS (SELECT bucket FROM rep GROUP BY bucket
              |  HAVING count(*) <= 8),
              |reppairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              |  FROM rep a JOIN rep b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
              |  WHERE EXISTS (SELECT 1 FROM pairable p
              |      WHERE p.bucket = a.bucket)
              |    AND (CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
              |      ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) END)
              |    >= 0.99),
              |salv AS (SELECT a_id, b_id FROM capped
              |  UNION SELECT a_id, b_id FROM smf
              |  UNION SELECT a_id, b_id FROM stars
              |  UNION SELECT a_id, b_id FROM reppairs),
              |e1 AS (SELECT a_id AS s, b_id AS d FROM salv
              |  UNION SELECT b_id, a_id FROM salv),
              |r2 AS (SELECT s, d FROM e1
              |  UNION SELECT a.s, b.d FROM e1 a JOIN e1 b ON a.d = b.s),
              |r3 AS (SELECT s, d FROM r2
              |  UNION SELECT r2.s, e1.d FROM r2 JOIN e1 ON r2.d = e1.s)
              |SELECT
              |  (SELECT count(*) FROM tp) AS n_true_pairs,
              |  (SELECT count(*) FROM capped) AS n_capped_pairs,
              |  (SELECT count(*) FROM salv) AS n_salvage_pairs,
              |  (SELECT count(*) FROM tp WHERE EXISTS (SELECT 1 FROM r3
              |     WHERE r3.s = tp.a_id AND r3.d = tp.b_id))
              |    AS n_true_connected_salvaged,
              |  (SELECT count(*) FROM tp) = (SELECT count(*) FROM tp
              |     WHERE EXISTS (SELECT 1 FROM r3
              |       WHERE r3.s = tp.a_id AND r3.d = tp.b_id))
              |    AS salvage_full_recall""".stripMargin)) { (s, dir) =>
      import graft.operators.{AnnIndex, Dedup}
      val e120 = embeddings(s, dir).filter(col("vec_id") < 120)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      def flood(idBase: Long, v: Array[Double]) = s.range(0, 80)
        .select((col("id") + idBase).as("vec_id"),
          expr(s"transform(${arrSpark(v)}, x -> x * (id + 1))").as("emb"))
      val floodBucket = s.range(1)
        .select(AnnIndex.bucketExprOf(expr(arrSpark(capRecallBase)), 64, 8)
          .as("b")).head().getLong(0)
      // recall leg (graft.plans.Shared): one bucketed corpus feeds every
      // leg, and each pair frame is a leg
      val filtered = e120
        .unionByName(e120.filter(col("vec_id") < 10)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(col("emb"), x => x * 2.0).as("emb")))
        .unionByName(flood(200000, capRecallBase))
        .unionByName(flood(210000, capRecallD2))
        .unionByName(flood(220000, capRecallE))
        .withColumn("bucket", AnnIndex.bucketExpr("emb", 64, 8))
        .filter(col("vec_id") >= 200000 || col("bucket") =!= floodBucket)
        .localCheckpoint(true)
      val truePairs = Dedup.embeddingPairs(filtered, "vec_id", "emb",
          "bucket", threshold = 0.99)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val capped = Dedup.embeddingPairs(filtered, "vec_id", "emb",
          "bucket", threshold = 0.99, maxBucket = 64)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val salvageEdges = Dedup.embeddingSalvageEdges(filtered, "vec_id",
          "emb", "bucket", threshold = 0.99, maxBucket = 64, maxReps = 8)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      PipelineQueries.recallReport(truePairs, capped, salvageEdges)
    },

    Q("q_lang_id",
      "Language-ID by marker-token voting with deterministic argmax " +
        "(n-gram heuristic family; marker sets are demo stand-ins on synthetic text)",
      Some(s"""SELECT doc_id, lang, ${text.langPredict(D, "text")} AS pred_lang
              |FROM documents
              |WHERE doc_id < 200
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // Stage: one token array, then one ratio column per language, then the
      // argmax CASE over the column REFERENCES. The inlined langPredict form
      // re-expands tokens() (split+filter) ~40x across the CASE branches —
      // Catalyst has no cross-branch CSE, so it ran 3–6 s for 200 rows; the
      // staged form's multiply-referenced non-cheap aliases survive
      // CollapseProject (the hours-parser staging contract) and run ~0.2 s.
      val scoreCols = text.langMarkers.map { case (lang, _) => lang -> s"score_$lang" }
      val scored = text.langMarkers.foldLeft(
        documents(s, dir)
          .filter(col("doc_id") < 200)
          .withColumn("toks", expr(text.tokens(S, "text")))
      ) { case (df, (lang, ms)) =>
        df.withColumn(s"score_$lang",
          expr(text.markerRatioFromTokens(S, "toks", ms)))
      }
      scored
        .select(col("doc_id"), col("lang"),
          expr(text.argmaxCase(scoreCols)).as("pred_lang"))
        .orderBy("doc_id")
    },

    Q("q_lang_id_ngram",
      "Language-ID, the trained-model operator (Cavnar-Trenkle 1994 " +
        "char-n-gram family, naive-Bayes scoring with add-one smoothing): " +
        "char-trigram profiles learned per language from the doc_id%5==1 " +
        "split, applied to the held-out fifth, reported as the full " +
        "confusion matrix. Scoring is integer after fixed-point ln " +
        "quantization (the q_dsir/q_bm25 precedent): score = n_grams*w0 + " +
        "sum of per-gram (w - w0) deltas, so unseen grams cost the unseen " +
        "penalty and argmax (min over (-score, lang) structs) is engine-" +
        "exact. Measured at sf0.01: 29% held-out accuracy vs a 20% " +
        "5-class chance floor (41% majority-class) — chance-level, honestly " +
        "reported: the " +
        "generator draws every language from the SAME vocabulary, so the " +
        "label is unlearnable from text (the q_dq_audit stance — report " +
        "the data's truth). The machinery is the real operator; on a real " +
        "corpus the profiles carry the signal. Scale shape: profiles are " +
        "trigram-space-bounded (≤|charset|^3) and broadcast; the test " +
        "side pays one explode, one broadcast join, and two map-side-" +
        "combined aggregates keyed by doc",
      Some {
        val fpW = text.fixedPoint("ln((c + 1.0) / (tot + v))", 4)
        val fpW0 = text.fixedPoint("ln(1.0 / (tot + v))", 4)
        s"""WITH tg AS (
           |  SELECT doc_id, lang, unnest(${text.charGrams(D, "text", 3)}) AS g
           |  FROM documents),
           |prof AS (
           |  SELECT lang, g, CAST(count(*) AS BIGINT) AS c
           |  FROM tg WHERE doc_id % 5 = 1 GROUP BY lang, g),
           |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tot
           |        FROM prof GROUP BY lang),
           |v AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM prof),
           |w0 AS (SELECT lang, $fpW0 AS w0 FROM tot CROSS JOIN v),
           |delta AS (
           |  SELECT prof.lang, g, $fpW - $fpW0 AS dw
           |  FROM prof JOIN tot USING (lang) CROSS JOIN v),
           |te AS (SELECT doc_id, lang AS true_lang, g
           |       FROM tg WHERE doc_id % 5 = 0),
           |ds AS (SELECT doc_id, true_lang, CAST(count(*) AS BIGINT) AS n_g
           |       FROM te GROUP BY doc_id, true_lang),
           |sd AS (
           |  SELECT doc_id, delta.lang, CAST(sum(dw) AS BIGINT) AS sdw
           |  FROM te JOIN delta ON te.g = delta.g GROUP BY doc_id, delta.lang),
           |sc AS (
           |  SELECT ds.doc_id, ds.true_lang, w0.lang,
           |    ds.n_g * w0.w0 + COALESCE(sdw, 0) AS score
           |  FROM ds CROSS JOIN w0
           |  LEFT JOIN sd ON sd.doc_id = ds.doc_id AND sd.lang = w0.lang),
           |pred AS (
           |  SELECT doc_id, true_lang, lang AS pred_lang FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, lang) AS rn FROM sc) WHERE rn = 1)
           |SELECT true_lang AS lang, pred_lang,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM pred GROUP BY true_lang, pred_lang
           |ORDER BY lang, pred_lang""".stripMargin
      }) { (s, dir) =>
      val fpW = text.fixedPoint("ln((c + 1.0) / (tot + v))", 4)
      val fpW0 = text.fixedPoint("ln(1.0 / (tot + v))", 4)
      // lower(text) staged once — charGramsRaw's lambda reads it per gram
      // position, and an inlined lower would re-copy the doc per position
      val tg = documents(s, dir)
        .withColumn("lt", lower(col("text")))
        .select(col("doc_id"), col("lang"),
          explode(expr(text.charGramsRaw(S, "lt", 3))).as("g"))
      val prof = share(tg.filter(col("doc_id") % 5 === 1)
        .groupBy("lang", "g").agg(count(lit(1)).as("c")))
      val totDf = prof.groupBy("lang").agg(sum(col("c")).as("tot"))
      val vDf = prof.agg(countDistinct(col("g")).as("v"))
      val w0 = totDf.crossJoin(broadcast(vDf))
        .select(col("lang"), expr(fpW0).as("w0"))
      val delta = prof.join(totDf, "lang").crossJoin(broadcast(vDf))
        .select(col("lang"), col("g"), (expr(fpW) - expr(fpW0)).as("dw"))
      // the held-out gram stream is NOT checkpointed: its two consumers
      // re-run a cheap filtered explode, which measured identical to
      // materializing 300k rows — recompute wins ties (no memory held)
      val te = tg.filter(col("doc_id") % 5 === 0)
        .withColumnRenamed("lang", "true_lang")
      val ds = te.groupBy("doc_id", "true_lang")
        .agg(count(lit(1)).as("n_g"))
      val sd = te.join(broadcast(delta), "g")
        .groupBy("doc_id", "lang").agg(sum(col("dw")).as("sdw"))
      val sc = ds.crossJoin(broadcast(w0))
        .join(sd, Seq("doc_id", "lang"), "left")
        .select(col("doc_id"), col("true_lang"), col("lang"),
          (col("n_g") * col("w0") + coalesce(col("sdw"), lit(0L))).as("score"))
      // argmax as min over (-score, lang) structs — lexicographic struct
      // ordering IS (max score, tie lowest lang); no window, no regroup
      sc.groupBy("doc_id", "true_lang")
        .agg(min(struct((-col("score")).as("ns"), col("lang"))).as("m"))
        .select(col("true_lang"), col("m.lang").as("pred_lang"))
        .groupBy("true_lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
        .select(col("true_lang").as("lang"), col("pred_lang"), col("n_docs"))
        .orderBy("lang", "pred_lang")
    },

    Q("q_text_quality",
      "Per-doc quality scoring: token count, distinct ratio, stopword ratio, " +
        "avg token length, composite score (training-data filter shape). " +
        "Ratios ship as fixed-point BIGINT (floor trick) — round() on " +
        "integer-ratio doubles is not engine-stable",
      Some {
        def quality(d: graft.functions.Dialect) =
          s"${text.uniqRatio(d, "text")} * 0.5" +
            s" + least(CAST(${text.nTokens(d, "text")} AS DOUBLE) / 100.0, 1.0) * 0.3" +
            s" + (1.0 - ${text.markerRatio(d, "text", Seq("the", "a"))}) * 0.2"
        s"""SELECT doc_id,
           |  CAST(${text.nTokens(D, "text")} AS BIGINT) AS n_tokens,
           |  ${text.fixedPoint(text.uniqRatio(D, "text"), 4)} AS uniq_ratio_x10k,
           |  ${text.fixedPoint(text.markerRatio(D, "text", Seq("the", "a")), 4)} AS stop_ratio_x10k,
           |  ${text.fixedPoint(text.avgTokenLen(D, "text"), 2)} AS avg_tok_len_x100,
           |  ${text.fixedPoint(quality(D), 4)} AS quality_x10k
           |FROM documents
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      def quality =
        s"${text.uniqRatio(S, "text")} * 0.5" +
          s" + least(CAST(${text.nTokens(S, "text")} AS DOUBLE) / 100.0, 1.0) * 0.3" +
          s" + (1.0 - ${text.markerRatio(S, "text", Seq("the", "a"))}) * 0.2"
      documents(s, dir).select(
        col("doc_id"),
        expr(text.nTokens(S, "text")).cast("long").as("n_tokens"),
        expr(text.fixedPoint(text.uniqRatio(S, "text"), 4)).as("uniq_ratio_x10k"),
        expr(text.fixedPoint(text.markerRatio(S, "text", Seq("the", "a")), 4)).as("stop_ratio_x10k"),
        expr(text.fixedPoint(text.avgTokenLen(S, "text"), 2)).as("avg_tok_len_x100"),
        expr(text.fixedPoint(quality, 4)).as("quality_x10k"))
        .orderBy("doc_id")
    },

    Q("q_token_count",
      "Token counting per source: whitespace tokens + BPE-ish regex tokens " +
        "(letter runs / digit runs / other), aggregated",
      Some(s"""SELECT lang, source,
              |  CAST(sum(${text.nTokens(D, "text")}) AS BIGINT) AS ws_tokens,
              |  CAST(sum(${text.nTokensBpe(D, "text")}) AS BIGINT) AS bpe_tokens,
              |  ${text.fixedPoint(s"avg(${text.nTokens(D, "text")})", 2)} AS avg_ws_tokens_x100
              |FROM documents
              |GROUP BY lang, source
              |ORDER BY lang, source""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          sum(expr(text.nTokens(S, "text"))).cast("long").as("ws_tokens"),
          sum(expr(text.nTokensBpe(S, "text"))).cast("long").as("bpe_tokens"),
          expr(text.fixedPoint(s"avg(${text.nTokens(S, "text")})", 2)).as("avg_ws_tokens_x100"))
        .orderBy("lang", "source")
    },

    Q("q_dedup_lsh_verified",
      "The full two-stage near-dup pattern: MinHash LSH band-join proposes " +
        "candidate pairs, exact 3-gram Jaccard verifies them (>= 0.6) — at " +
        "100 TB the quadratic only ever runs on LSH candidates",
      Some(s"""WITH $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, hs, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, hs, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j)),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
              |                a.hs AS a_hs, b.hs AS b_hs
              |         FROM bands a JOIN bands b
              |           ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
              |SELECT a_id, b_id, ${text.fixedPoint("jaccard", 4)} AS jaccard_x10k FROM (
              |  SELECT a_id, b_id,
              |    CAST(len(list_intersect(a_hs, b_hs)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a_hs, b_hs))) AS jaccard
              |  FROM cand)
              |WHERE jaccard >= 0.6
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      Dedup.minhashLshVerifiedPairs(nearDupCorpus(documents(s, dir)),
          "doc_id", "text", k = 16, bands = 4, shingleN = 3, threshold = 0.6)
        .select(col("a_id"), col("b_id"),
          expr(text.fixedPoint("jaccard", 4)).as("jaccard_x10k"))
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_apply",
      "Dedup applied: corpus minus the higher-keyed member of every MinHash " +
        "LSH pair (keep-lowest-key survivor policy) — one anti-join, the " +
        "step that actually shrinks a training corpus",
      Some(s"""WITH $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j)),
              |losers AS (SELECT DISTINCT b.doc_id AS b_id
              |           FROM bands a JOIN bands b
              |             ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
              |SELECT doc_id, lang FROM corpus
              |WHERE doc_id NOT IN (SELECT b_id FROM losers)
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val corpus = nearDupCorpus(documents(s, dir))
      val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3)
      Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    Q("q_dedup_clusters",
      "Transitive dedup clusters: connected components over the MinHash LSH " +
        "pair graph via iterative min-label propagation (Dedup.clusters) — " +
        "pairs say WHO matches, clusters say what to keep; the unique " +
        "fixpoint lets a WITH RECURSIVE closure oracle-check a distributed " +
        "iterative algorithm",
      Some(s"""WITH RECURSIVE $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j)),
              |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              |          FROM bands a JOIN bands b
              |            ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM corpus
              |  UNION
              |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
              |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
              |SELECT c.id, c.cluster, s.n_members
              |FROM comp c
              |JOIN (SELECT cluster, count(*) AS n_members
              |      FROM comp GROUP BY cluster) s USING (cluster)
              |ORDER BY id""".stripMargin)) { (s, dir) =>
      val corpus = nearDupCorpus(documents(s, dir))
      val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3)
      Dedup.clusters(corpus, "doc_id", pairs)
        .select(col("id"), col("cluster"), col("n_members"))
        .orderBy("id")
    },

    Q("q_dedup_best_survivor",
      "Quality-aware survivor selection: real curation pipelines keep the " +
        "BEST duplicate (longest text here; any quality score works), not " +
        "the smallest id — q_dedup_apply's min-id policy silently prefers " +
        "whichever copy was crawled first. Clusters come from the same " +
        "min-label propagation as q_dedup_clusters; the policy itself is " +
        "one window over cluster MEMBERS (pair-graph-vertex sized, orders " +
        "of magnitude smaller than the corpus) ranking by (quality DESC, " +
        "id) — so switching survivor policy costs nothing at 100 TB. On " +
        "this corpus it provably changes the outcome: the offset copies " +
        "are 3 chars longer, so every survivor is the +10000 twin where " +
        "min-id would keep the original",
      Some(s"""WITH RECURSIVE $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j)),
              |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              |          FROM bands a JOIN bands b
              |            ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
              |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM corpus
              |  UNION
              |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
              |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
              |sized AS (
              |  SELECT c.id, c.cluster, length(corpus.text) AS n_chars,
              |    count(*) OVER (PARTITION BY c.cluster) AS n_members,
              |    row_number() OVER (PARTITION BY c.cluster
              |                       ORDER BY length(corpus.text) DESC, c.id) AS rn
              |  FROM comp c JOIN corpus ON c.id = corpus.doc_id)
              |SELECT cluster, id AS survivor_id, n_chars AS survivor_chars,
              |  CAST(n_members AS BIGINT) AS n_members
              |FROM sized
              |WHERE rn = 1 AND n_members >= 2
              |ORDER BY cluster""".stripMargin)) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val corpus = nearDupCorpus(documents(s, dir))
      val pairs = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3)
      val comp = Dedup.clusters(corpus, "doc_id", pairs)
      val w = Window.partitionBy("cluster")
        .orderBy(desc("n_chars"), col("id"))
      comp
        .join(corpus.select(col("doc_id").as("id"),
          length(col("text")).cast("long").as("n_chars")), "id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("n_members") >= 2)
        .select(col("cluster"), col("id").as("survivor_id"),
          col("n_chars").as("survivor_chars"), col("n_members"))
        .orderBy("cluster")
    },

    Q("q_fingerprint",
      "Document fingerprinting: rolling polynomial hash over token hashes " +
        "(order-sensitive, unlike the MinHash set signature)",
      Some(s"""SELECT doc_id, ${text.fingerprint(D, "text")} AS fp
              |FROM documents
              |WHERE doc_id < 100
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), expr(text.fingerprint(S, "text")).as("fp"))
        .orderBy("doc_id")
    },

    Q("q_dedup_incremental",
      "Incremental near-dup mining (Dedup.minhashIncrementalPairs): the " +
        "offset copies arrive as a NEW batch and pair against the base " +
        "corpus's prebuilt band index — new×corpus and new×new pairs only, " +
        "never corpus×corpus, so per-batch cost is independent of corpus " +
        "size. Oracle = the full-corpus pair run restricted to pairs " +
        "touching the new batch: the incremental path must find EXACTLY " +
        "what a from-scratch run would",
      Some(s"""WITH $nearDupCorpusSql,
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j))
              |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
              |FROM bands a JOIN bands b
              |  ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id
              |WHERE a.doc_id >= 10000 OR b.doc_id >= 10000
              |GROUP BY 1, 2
              |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val newBatch = base.select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" xq")).as("text"))
      val index = Dedup.minhashBandIndex(base, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3)
      Dedup.minhashIncrementalPairs(newBatch, index, "doc_id", "text",
          k = 16, bands = 4, shingleN = 3)
        .orderBy("a_id", "b_id")
    },

    Q("q_repetition",
      "Gopher-style repetition quality rules: per-doc top-2-gram fraction " +
        "(most frequent bigram's share) and duplicate-2-gram fraction " +
        "(share of bigram occurrences appearing more than once). Relational " +
        "formulation — explode + two grouped aggregations — instead of an " +
        "in-array O(n²) count: scales as ordinary keyed aggregation and " +
        "keeps all counting in exact integers (the ratio ships fixed-point)",
      Some {
        val grams = text.gramHashes(D, "text", 2)
        s"""WITH grams AS (
           |  SELECT doc_id, unnest($grams) AS g
           |  FROM documents WHERE doc_id < 200),
           |counts AS (
           |  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
           |stats AS (
           |  SELECT doc_id, max(c) AS maxc,
           |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc,
           |    sum(c) AS tot
           |  FROM counts GROUP BY doc_id)
           |SELECT doc_id,
           |  ${text.fixedPoint("CAST(maxc AS DOUBLE) / CAST(tot AS DOUBLE)", 4)} AS top_gram_x10k,
           |  ${text.fixedPoint("CAST(dupc AS DOUBLE) / CAST(tot AS DOUBLE)", 4)} AS dup_gram_x10k
           |FROM stats
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val grams = documents(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"),
          explode(expr(text.gramHashes(S, "text", 2))).as("g"))
      grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("maxc"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dupc"),
          sum(col("c")).as("tot"))
        .select(col("doc_id"),
          expr(text.fixedPoint("CAST(maxc AS DOUBLE) / CAST(tot AS DOUBLE)", 4))
            .as("top_gram_x10k"),
          expr(text.fixedPoint("CAST(dupc AS DOUBLE) / CAST(tot AS DOUBLE)", 4))
            .as("dup_gram_x10k"))
        .orderBy("doc_id")
    },

    Q("q_containment_dedup",
      "Asymmetric CONTAINMENT dedup (Broder's other resemblance measure " +
        "— the one Jaccard structurally misses): a truncated page is " +
        "contained in its source, but the symmetric Jaccard of a half-" +
        "doc against its full doc is ~0.5 and sails under every Jaccard " +
        "threshold. Fixture: every 4th doc also appears prefix-truncated " +
        "(+20000 ids); candidates block on the first-3-token prefix hash " +
        "(truncation preserves the prefix — the blocking key FOR this " +
        "failure mode, as LSH bands are for symmetric overlap); " +
        "containment = |A∩B| / min(|A|,|B|) over 3-gram shingle sets, " +
        "reported with Jaccard and a jaccard_missed flag — on this " +
        "corpus most confirmed containments fall below Jaccard 0.6, " +
        "which is the point. Scale shape: the self-join IS " +
        "Dedup.pairJoin with maxBucket=64 — on a real crawl boilerplate " +
        "prefixes ('Copyright ...', shared page headers) are the NORM, " +
        "and one hot prefix would make the bucket quadratic on a single " +
        "join key; the cap (mirrored in the oracle) bounds every task at " +
        "cap^2 candidates, audited via Dedup.blockBucketStats. Shingle " +
        "sets ride the join row, stats are a projection",
      Some {
        val toks = text.tokens(D, "text")
        val blk = text.tokenHash(D, D.arrayJoin(D.slice(toks, "1", "3"), " "))
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 20000, substr(text, 1, 80) FROM documents
           |  WHERE doc_id % 4 = 1),
           |s AS (SELECT doc_id, $blk AS blk,
           |        ${text.shingleHashes(D, "text", 3)} AS sh
           |      FROM corpus),
           |big AS (SELECT blk FROM s GROUP BY blk HAVING count(*) > 64),
           |s2 AS (SELECT * FROM s WHERE blk NOT IN (SELECT blk FROM big))
           |SELECT a_id, b_id,
           |  ${text.fixedPoint("cont", 4)} AS cont_x10k,
           |  ${text.fixedPoint("jac", 4)} AS jac_x10k,
           |  (jac < 0.6) AS jaccard_missed
           |FROM (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / greatest(least(len(a.sh), len(b.sh)), 1) AS cont,
           |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1) AS jac
           |  FROM s2 a JOIN s2 b ON a.blk = b.blk AND a.doc_id < b.doc_id)
           |WHERE cont >= 0.8
           |ORDER BY a_id, b_id""".stripMargin
      }) { (s, dir) =>
      import graft.functions.TextSig
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 4 === 1)
        .select((col("doc_id") + 20000).as("doc_id"),
          substring(col("text"), 1, 80).as("text")))
      // compiled signature kernels (TextSig mirrors the dialect fragments,
      // parity in ModulesSpec): the interpreted HOF shingle chain was this
      // query's real cost — 5.3 s isolated dropped to ~1 s on the swap.
      // The shingle kernel rides pairJoin's `enrich` hook, so it runs only
      // for docs surviving the cap — on a boilerplate-prefix corpus the
      // dropped bulk never pays for its shingles.
      val keyed = share(corpus.select(col("doc_id").as("id"), col("text"),
        TextSig.prefixHashUdf(col("text"), lit(3)).as("blk")))
      // Dedup.pairJoin: same shuffle_hash'd blocked self-join as the LSH
      // band path, INCLUDING the mega-bucket cap — the r6 verdict's last
      // uncapped skewed-key join. greatest(...,1) guards the 0/0 of an
      // empty shingle set (sub-3-token doc): Spark's divide yields NULL
      // (pair silently dropped) where DuckDB's IEEE NaN sorts ABOVE the
      // 0.8 threshold, so without the guard the two engines diverge on
      // exactly the degenerate rows.
      Dedup.pairJoin(keyed, Seq("blk"), maxBucket = 64,
          enrich = df => df
            .withColumn("sh", TextSig.shingleHashesUdf(col("text"), lit(3)))
            .drop("text"))
        .select(col("a_id"), col("b_id"), col("a_sh"), col("b_sh"))
        .withColumn("inter",
          size(array_intersect(col("a_sh"), col("b_sh"))).cast("double"))
        .withColumn("cont", col("inter") /
          greatest(least(size(col("a_sh")), size(col("b_sh"))), lit(1)))
        .withColumn("jac", col("inter") /
          greatest(size(array_union(col("a_sh"), col("b_sh"))), lit(1)))
        .filter(col("cont") >= 0.8)
        .select(col("a_id"), col("b_id"),
          expr(text.fixedPoint("cont", 4)).as("cont_x10k"),
          expr(text.fixedPoint("jac", 4)).as("jac_x10k"),
          (col("jac") < 0.6).as("jaccard_missed"))
        .orderBy("a_id", "b_id")
    },

    Q("q_script_profile",
      "Character-class corpus profiling — the script/encoding sanity " +
        "report run before language-ID and tokenization (a corpus whose " +
        "'en' slice is 30% digits is a table dump, not prose): per lang, " +
        "digit / ASCII-letter / whitespace ratios as ratios of exact " +
        "per-class char counts (sum-of-counts over sum-of-lengths — " +
        "never an average of per-doc doubles, so partitioning cannot " +
        "move a digit). One regex-projection pass + one map-side " +
        "rollup, no shuffle beyond the per-lang exchange",
      Some(s"""SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n) AS BIGINT) AS n_chars,
              |  ${text.fixedPoint(
                  "CAST(sum(dg) AS DOUBLE) / greatest(sum(n), 1)",
                  4)} AS digit_x10k,
              |  ${text.fixedPoint(
                  "CAST(sum(lt) AS DOUBLE) / greatest(sum(n), 1)",
                  4)} AS letter_x10k,
              |  ${text.fixedPoint(
                  "CAST(sum(sp) AS DOUBLE) / greatest(sum(n), 1)",
                  4)} AS space_x10k
              |FROM (
              |  SELECT lang, length(text) AS n,
              |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS dg,
              |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS lt,
              |    length(regexp_replace(text, '[^ ]', '', 'g')) AS sp
              |  FROM documents)
              |GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .select(col("lang"), length(col("text")).as("n"),
          length(regexp_replace(col("text"), "[^0-9]", "")).as("dg"),
          length(regexp_replace(col("text"), "[^A-Za-z]", "")).as("lt"),
          length(regexp_replace(col("text"), "[^ ]", "")).as("sp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n").cast("long").as("n_chars"),
          expr(text.fixedPoint(
            "CAST(sum(dg) AS DOUBLE) / greatest(sum(n), 1)", 4))
            .as("digit_x10k"),
          expr(text.fixedPoint(
            "CAST(sum(lt) AS DOUBLE) / greatest(sum(n), 1)", 4))
            .as("letter_x10k"),
          expr(text.fixedPoint(
            "CAST(sum(sp) AS DOUBLE) / greatest(sum(n), 1)", 4))
            .as("space_x10k"))
        .orderBy("lang")
    },

    Q("q_dup_rate_by_group",
      "Duplication-rate report — the number a curation run actually " +
        "publishes per corpus slice: for each lang, how many docs " +
        "participate in at least one VERIFIED near-dup pair (the " +
        "q_dedup_lsh_verified two-stage machinery, Jaccard >= 0.6) and " +
        "the resulting dup-rate. Scale shape: the pair search is the " +
        "banded LSH join (never corpus x corpus), the dup-member id set " +
        "is pair-graph-sized and re-joins the corpus by key, and the " +
        "report is one map-side-combined rollup. (Own fixture, not " +
        "nearDupCorpus: only every 3rd doc gets a twin, so the rates " +
        "are informative instead of uniformly 100%)",
      Some(s"""WITH corpus AS (
              |  SELECT doc_id, text, lang FROM documents
              |  UNION ALL
              |  SELECT doc_id + 10000, text || ' xq', lang FROM documents
              |  WHERE doc_id % 3 = 0),
              |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |sig AS (SELECT doc_id, hs, ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |        FROM hs),
              |bands AS (SELECT doc_id, hs, j,
              |            ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS band_key
              |          FROM sig, (SELECT unnest(generate_series(0, 3)) AS j)),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
              |                a.hs AS a_hs, b.hs AS b_hs
              |         FROM bands a JOIN bands b
              |           ON a.j = b.j AND a.band_key = b.band_key
              |             AND a.doc_id < b.doc_id),
              |pairs AS (SELECT a_id, b_id FROM (
              |  SELECT a_id, b_id,
              |    CAST(len(list_intersect(a_hs, b_hs)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a_hs, b_hs))) AS jaccard
              |  FROM cand) WHERE jaccard >= 0.6),
              |dup AS (SELECT DISTINCT doc_id FROM (
              |  SELECT a_id AS doc_id FROM pairs
              |  UNION ALL SELECT b_id FROM pairs))
              |SELECT lang, count(*) AS n_docs,
              |  CAST(coalesce(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 END), 0)
              |    AS BIGINT) AS n_dup_docs,
              |  ${text.fixedPoint(
                  "coalesce(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1.0 END), " +
                    "0.0) / count(*)", 4)} AS dup_rate_x10k
              |FROM corpus c LEFT JOIN dup d USING (doc_id)
              |GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
      val base = documents(s, dir).select(col("doc_id"), col("text"), col("lang"))
      val corpus = base.unionByName(base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" xq")).as("text"), col("lang")))
      val pairs = Dedup.minhashLshVerifiedPairs(corpus, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3, threshold = 0.6)
      // both pair endpoints in ONE pass over the pair table: the previous
      // two-select union referenced `pairs` twice, and the whole LSH
      // sign+band+verify pipeline (the query's dominant cost) re-ran per
      // reference — explode(array(a,b)) keeps a single subtree (guide
      // §1.2: don't compute things twice), same distinct id set
      val dupIds = pairs
        .select(explode(array(col("a_id"), col("b_id"))).as("doc_id"))
        .distinct()
        .withColumn("is_dup", lit(1L))
      corpus.join(dupIds, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("is_dup"), lit(0L)).cast("long").as("n_dup_docs"))
        .select(col("lang"), col("n_docs"), col("n_dup_docs"),
          expr(text.fixedPoint(
            "CAST(n_dup_docs AS DOUBLE) / n_docs", 4)).as("dup_rate_x10k"))
        .orderBy("lang")
    },

    Q("q_lsh_tuning",
      "LSH parameter sweep — the measurement a pipeline runs BEFORE " +
        "committing band/row dials to a 100 TB dedup pass: for (bands, " +
        "rows/band) in {(2,8),(4,4),(8,2)} over the same 16-minhash " +
        "signatures, candidate-pair volume and precision against exact " +
        "3-gram Jaccard >= 0.6. More bands -> lower collision threshold " +
        "-> more candidates at worse precision; the sweep quantifies " +
        "that trade on YOUR corpus instead of trusting the (1/b)^(1/r) " +
        "formula. Scale shape: the signature table is computed ONCE per " +
        "run and shared — the sweep's three band self-joins re-read " +
        "signatures instead of re-tokenizing the corpus per dial (at " +
        "100 TB the signatures persist and the sweep costs 3 band joins, " +
        "not 3 corpus passes); the exact verify only ever runs on " +
        "candidates, stats collapse to 3 rows",
      Some {
        val cfgs = Seq((2, 8), (4, 4), (8, 2))
        val blocks = cfgs.map { case (b, r) =>
          s"""bands$b AS (SELECT doc_id, hs, j,
             |    ${D.arrayJoin(D.slice("sig", s"$r*j + 1", s"$r"), "_")} AS band_key
             |  FROM sig, (SELECT unnest(generate_series(0, ${b - 1})) AS j)),
             |cand$b AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |    a.hs AS a_hs, b.hs AS b_hs
             |  FROM bands$b a JOIN bands$b b
             |    ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
             |stat$b AS (SELECT CAST($b AS BIGINT) AS bands,
             |    CAST($r AS BIGINT) AS rows_per_band,
             |    CAST(count(*) AS BIGINT) AS n_candidates,
             |    CAST(coalesce(sum(CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END),
             |      0) AS BIGINT) AS n_true_dups,
             |    ${text.fixedPoint(
                   "coalesce(sum(CASE WHEN jaccard >= 0.6 THEN 1.0 ELSE 0.0 " +
                     "END), 0.0) / greatest(count(*), 1)", 4)} AS precision_x10k
             |  FROM (SELECT CAST(len(list_intersect(a_hs, b_hs)) AS DOUBLE)
             |          / len(list_distinct(list_concat(a_hs, b_hs))) AS jaccard
             |        FROM cand$b))""".stripMargin
        }.mkString(",\n")
        s"""WITH $nearDupCorpusSql,
           |hs AS (SELECT doc_id, ${text.shingleHashes(D, "text", 3)} AS hs
           |       FROM corpus),
           |sig AS (SELECT doc_id, hs, ${text.minhashFromHashes(D, "hs", 16)} AS sig
           |        FROM hs),
           |$blocks
           |SELECT * FROM (${cfgs.map { case (b, _) => s"SELECT * FROM stat$b" }
              .mkString(" UNION ALL ")})
           |ORDER BY bands""".stripMargin
      }) { (s, dir) =>
      val corpus = nearDupCorpus(documents(s, dir))
      val sigs = share(Dedup.minhashSignatures(corpus, "doc_id", "text",
        k = 16, shingleN = 3))
      val stats = Seq((2, 8), (4, 4), (8, 2)).map { case (b, r) =>
        Dedup.minhashLshVerifiedPairsFromSignatures(sigs,
            k = 16, bands = b, threshold = 0.0)
          .agg(count(lit(1)).as("n_candidates"),
            coalesce(sum(when(col("jaccard") >= 0.6, 1L).otherwise(0L)),
              lit(0L)).as("n_true_dups"))
          .select(lit(b).cast("long").as("bands"),
            lit(r).cast("long").as("rows_per_band"),
            col("n_candidates").cast("long").as("n_candidates"),
            col("n_true_dups").cast("long").as("n_true_dups"),
            expr(text.fixedPoint(
              "CAST(n_true_dups AS DOUBLE) / greatest(n_candidates, 1)", 4))
              .as("precision_x10k"))
      }
      stats.reduce(_.unionByName(_)).orderBy("bands")
    }
  )
}
