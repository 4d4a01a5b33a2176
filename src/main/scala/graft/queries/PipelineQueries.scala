package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables._
import graft.functions.{text, vectors, DuckDialect => D, SparkDialect => S}
import graft.plans.Shared.share

/** The training-data-curation stage of a 100 TB pipeline, as oracle-backed
  * operators: deterministic sampling, train/val/test splitting, per-source
  * caps, sequence packing, PII scrubbing, benchmark decontamination,
  * quality-filter yield accounting, and epoch shuffling.
  *
  * The reference has none of these (its corpus is 17k housing rows searched
  * in memory — backend/search_housing.py); they are the operations that turn
  * a raw crawl into a training set, and every one is built on the engine's
  * existing primitives (hash mix, shingle hashes, window functions, regex)
  * so the whole family stays declarative, partition-parallel and
  * oracle-checkable. Determinism is load-bearing throughout: sampling and
  * splits use the multiplicative key mix ([[text.mix]]), never rand() —
  * a split that can't be replayed is a train/test leak waiting to happen.
  */
object PipelineQueries {

  private val mixDoc = text.mix("doc_id")

  /** Exact-integer k-means machinery shared by q_kmeans_iter and
    * q_cluster_topics — both engines run the SAME Lloyd step on x10k-
    * quantized vectors: assignment = argmin of the BIGINT squared-L2
    * (tie to lowest cid), update = per-dimension fixed-point mean of two
    * exact sums. The Spark assignment is a pure projection (centroids
    * collapse into ONE broadcast row, argmin = array_min over (dist, cid)
    * structs — lexicographic struct ordering IS the tie rule, zero
    * explode, zero window, zero corpus regroup); the oracle states the
    * identical rule as row_number() OVER (ORDER BY dist, cid) = 1. */
  /** Spark HOF fragment emitting q_collocations' ±`k`-token window pair
    * structs from a token-array column: position i pairs with at most the
    * k tokens after it, so a doc emits ≤ k·len pairs — LINEAR in doc
    * length (the property the linearity spec pins; a document-level
    * co-occurrence explode is len² and one long log-dump doc sinks the
    * stage). Same-token pairs dropped; pairs canonicalized wa ≤ wb. */
  private[graft] def windowPairsExpr(toks: String, k: Int): String =
    s"flatten(transform($toks, (x, i) -> " +
      s"transform(filter(slice($toks, i + 2, $k), y -> y <> x), " +
      "y -> named_struct('wa', least(x, y), 'wb', greatest(x, y)))))"

  private def kmDistD: String =
    D.fold(D.seq("1", D.size("qv")), "CAST(0 AS BIGINT)", "acc", "i",
      s"acc + (${D.elementAt("qv", "i")} - ${D.elementAt("cq", "i")}) * " +
        s"(${D.elementAt("qv", "i")} - ${D.elementAt("cq", "i")})")

  private def kmAsgSql(cent: String): String =
    s"""SELECT vec_id, qv, cid AS cluster FROM (
       |  SELECT vec_id, qv, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |  FROM (SELECT vec_id, qv, cid, $kmDistD AS dist
       |        FROM qv CROSS JOIN $cent)) WHERE rn = 1""".stripMargin

  private def kmUpdSql(asg: String): String = {
    val mean = text.fixedPoint("CAST(sum(q) AS DOUBLE) / count(*)", 0)
    s"""SELECT cluster AS cid, list(m ORDER BY d) AS cq FROM (
       |  SELECT cluster, d, $mean AS m
       |  FROM (SELECT cluster, unnest(qv) AS q,
       |          unnest(generate_series(1, len(qv))) AS d FROM $asg)
       |  GROUP BY cluster, d) GROUP BY cluster""".stripMargin
  }

  private def kmAssign(qv: org.apache.spark.sql.DataFrame,
                       cent: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val centRow = cent.agg(
      collect_list(struct(col("cid"), col("cq"))).as("cents"))
    qv.crossJoin(broadcast(centRow))
      .withColumn("best", expr(
        "array_min(transform(cents, c -> " +
          "named_struct('d', qdist_sq(qv, c.cq), 'cid', c.cid)))"))
      .select(col("vec_id"), col("qv"), col("best.cid").as("cluster"))
  }

  private def kmUpdate(asg: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    asg.select(col("cluster"), posexplode(col("qv")).as(Seq("d0", "q")))
      .groupBy(col("cluster"), (col("d0") + 1).as("d"))
      .agg(expr(text.fixedPoint("CAST(sum(q) AS DOUBLE) / count(*)", 0))
        .as("m"))
      .groupBy("cluster")
      .agg(transform(sort_array(collect_list(struct(col("d"), col("m")))),
        _.getField("m")).as("cq"))
      .select(col("cluster").as("cid"), col("cq"))

  /** Shared by q_pr_curve / q_auc: every doc scored by the hashing-trick
    * classifier (q_quality_classifier's exact-BIGINT fold) and labeled by
    * the heuristic gate (q_quality_filter's predicate), then collapsed
    * into fixed-width logit bins (width 5000) IN the same one-pass
    * aggregate — the eval statistics downstream only ever touch the
    * bounded bin table, which is what keeps a threshold sweep or an AUC
    * shuffle-free at 100 TB. */
  private def evalBinsSql: String = {
    val logit = D.fold(text.tokenHashes(D, "text"), "CAST(0 AS BIGINT)",
      "acc", "h", s"acc + (((h * 2654435761) % ${text.P}) % 20001 - 10000)")
    val nt = text.nTokens(D, "text")
    val uq = text.uniqRatio(D, "text")
    val sr = text.markerRatio(D, "text", Seq("the", "a"))
    s"""(SELECT CAST(floor(score / 5000.0) AS BIGINT) AS bin,
       |  CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |  CAST(sum(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS n
       |FROM (SELECT $logit AS score,
       |        (($nt) BETWEEN 20 AND 5000 AND ($uq) >= 0.5
       |          AND ($sr) <= 0.6) AS label
       |      FROM documents)
       |GROUP BY bin)""".stripMargin
  }

  private def evalBinsDf(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val logit = S.fold(text.tokenHashes(S, "text"), "CAST(0 AS BIGINT)",
      "acc", "h", s"acc + (((h * 2654435761) % ${text.P}) % 20001 - 10000)")
    documents(s, dir)
      .select(expr(logit).as("score"),
        (expr(text.nTokens(S, "text")).between(20, 5000) &&
          expr(text.uniqRatio(S, "text")) >= 0.5 &&
          expr(text.markerRatio(S, "text", Seq("the", "a"))) <= 0.6).as("label"))
      .groupBy(floor(col("score") / lit(5000.0)).cast("long").as("bin"))
      .agg(sum(when(col("label"), 1).otherwise(0)).cast("long").as("p"),
        sum(when(col("label"), 0).otherwise(1)).cast("long").as("n"))
  }

  /** q_bpe_encode's ranked merge table — the first merges an English BPE
    * run learns; (t,h) then (th,e) demonstrates merge chaining. */
  private val BpeMerges: Seq[(String, String)] =
    Seq("t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r")

  /** The BPE TRAINING loop (Sennrich et al. 2016) — the produce side of
    * q_bpe_encode's consume: `iters` unrolled count→merge→re-segment
    * rounds over the word-frequency table. Returns (ranked merge table
    * [rank, a, b, n], final segmented word table [w, c, seg]).
    *
    * Scale shape: the corpus is touched ONCE (the map-side-combined word
    * count); every later step is vocab-sized. Per iteration: the pair
    * count explodes the vocab's segmentations (bounded by total vocab
    * chars), the best pair is a global top-1 (TakeOrderedAndProject),
    * re-segmentation is the compiled one-pass merge kernel under a
    * broadcast 1-row cross join. Lineage is truncated per round with
    * localCheckpoint (the iterative-loop case of [[graft.plans.Shared]]):
    * iteration K's plan
    * would otherwise nest K-1's twice — once via the best-pair aggregate,
    * once via the re-segment join — doubling per round. */
  private[graft] def bpeTrain(s: org.apache.spark.sql.SparkSession, dir: String,
                              iters: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    var wf = documents(s, dir)
      .select(explode(expr(text.tokens(S, "text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .select(col("w"), col("c"), expr(S.splitChars("w")).as("seg"))
      .localCheckpoint(true)
    var merges = Seq.empty[org.apache.spark.sql.DataFrame]
    for (k <- 1 to iters) {
      // size >= 2 guard before the explode: Spark's sequence(1, 0) DESCENDS
      // (the text.shingles gotcha) — a 1-char word must contribute no pairs
      val best = wf.filter(expr(s"${S.size("seg")} >= 2"))
        .select(col("c"), col("seg"),
          explode(expr(S.seq("1", s"${S.size("seg")} - 1"))).as("i"))
        .select(expr(S.elementAt("seg", "i")).as("a"),
          expr(S.elementAt("seg", "i + 1")).as("b"), col("c"))
        .groupBy("a", "b").agg(sum(col("c")).as("n"))
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(1)
        .localCheckpoint(true)
      merges = merges :+ best.select(lit(k).cast("long").as("rank"),
        col("a"), col("b"), col("n"))
      wf = wf.crossJoin(broadcast(
          best.select(col("a").as("m_a"), col("b").as("m_b"))))
        .select(col("w"), col("c"),
          graft.functions.TextSig.bpeMergePassUdf(
            col("seg"), col("m_a"), col("m_b")).as("seg"))
        .localCheckpoint(true)
    }
    (merges.reduce(_ unionByName _), wf)
  }

  /** DuckDB twin of [[bpeTrain]]: the WITH-chain prefix defining wf0..wfN
    * and b1..bN (same count→top-1→re-segment rounds, the merge rendered
    * from the same [[text.bpeMergeOnceExpr]] builder the kernel mirrors). */
  private def bpeTrainSql(iters: Int): String = {
    // sentinel strip via clamped slice, exactly text.bpeApply's trick
    val mergeSeg = D.slice(
      text.bpeMergeOnceExpr(D, "seg", "m_a", "m_b"), "2", "1000000")
    val steps = (1 to iters).map { k =>
      s"""p$k AS (
         |  SELECT ${D.elementAt("seg", "i")} AS a,
         |    ${D.elementAt("seg", "i + 1")} AS b, c FROM (
         |    SELECT seg, c, unnest(${D.seq("1", s"${D.size("seg")} - 1")}) AS i
         |    FROM wf${k - 1} WHERE ${D.size("seg")} >= 2)),
         |b$k AS (
         |  SELECT a, b, CAST(sum(c) AS BIGINT) AS n FROM p$k GROUP BY a, b
         |  ORDER BY n DESC, a, b LIMIT 1),
         |wf$k AS (
         |  SELECT w, c, $mergeSeg AS seg
         |  FROM wf${k - 1} CROSS JOIN (SELECT a AS m_a, b AS m_b FROM b$k))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH wf0 AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c, ${D.splitChars("w")} AS seg
       |  FROM (SELECT unnest(${text.tokens(D, "text")}) AS w FROM documents)
       |  GROUP BY w),
       |$steps""".stripMargin
  }

  /** Broadcast fixed-depth (≤3 hop) closure over an undirected (a_id,
    * b_id) edge set, the connectivity half of [[recallReport]]: returns
    * every ordered (s, d) pair connected within 3 hops. The edge side is
    * KB-sized on the audit fixtures, so every hop join BROADCASTS — no
    * exchange — and the single distinct at the end bounds the path
    * enumeration (intermediate distincts would each cost a full AQE-wide
    * exchange for nothing at this size). */
  private def threeHopClosure(pairs: DataFrame): DataFrame = {
    val e1 = pairs
      .select(col("a_id").as("s"), col("b_id").as("d"))
      .unionByName(pairs
        .select(col("b_id").as("s"), col("a_id").as("d")))
    val be1 = broadcast(e1.select(col("s").as("__m"), col("d")))
    val p2 = e1.select(col("s"), col("d").as("__m"))
      .join(be1, "__m").select(col("s"), col("d"))
    e1.unionByName(p2).unionByName(
        p2.select(col("s"), col("d").as("__m"))
          .join(be1, "__m").select(col("s"), col("d")))
      .distinct()
  }

  /** The recall trilogy's one-row report (q_dedup_cap_recall,
    * q_dedup_lsh_recall, q_embed_cap_recall) over three (a_id, b_id) pair
    * frames — the uncapped ground truth, the capped face, and the salvage
    * edges: n_true_pairs, n_capped_pairs, n_salvage_pairs (capped ∪
    * salvage edges, distinct), n_true_connected_salvaged (true pairs the
    * salvaged graph connects within 3 hops, [[threeHopClosure]]) and
    * salvage_full_recall. A lazy plan: the four counts are global
    * aggregates cross-joined into one row, so building it runs no job. */
  private[graft] def recallReport(truePairs: DataFrame, capped: DataFrame,
                                  salvageEdges: DataFrame): DataFrame = {
    val salvaged = capped.unionByName(salvageEdges).distinct()
    val connected = truePairs.join(broadcast(threeHopClosure(salvaged)),
      col("a_id") === col("s") && col("b_id") === col("d"), "left_semi")
    def n(pairs: DataFrame, name: String) =
      pairs.agg(count(lit(1)).as(name))
    n(truePairs, "n_true_pairs")
      .crossJoin(broadcast(n(capped, "n_capped_pairs")))
      .crossJoin(broadcast(n(salvaged, "n_salvage_pairs")))
      .crossJoin(broadcast(n(connected, "n_true_connected_salvaged")))
      .withColumn("salvage_full_recall",
        col("n_true_connected_salvaged") === col("n_true_pairs"))
  }

  /** Efraimidis-Spirakis key for q_weighted_sample — one shared string so
    * both engines parse the identical expression: u = (mix+1)/(P+1) in
    * (0,1], weight floored at 1 char. (Declared before `all`: the oracle
    * strings interpolate it EAGERLY — a later val is still null there.) */
  private val EsKey =
    s"(- ln((($mixDoc) + 1.0) / 1000000008.0) / greatest(n_chars, 1))"

  /** The tokenizer family's word-length cap — ONE constant feeding the
    * q_wordpiece / q_unigram_tokenizer word filters (both engines' twins
    * interpolate it), the unigram DP round count, and both frontier-hop
    * loops. Raising the cap in one place raises every bound together; a
    * split value would truncate one engine's segmentation and surface
    * only as an oracle hash mismatch. */
  private val MaxWordLen = 12

  /** Corpus word-frequency table (w, c), words capped at [[MaxWordLen]] —
    * the one corpus-sized pass both trained tokenizers start from. */
  private def wordFreq(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(explode(expr(text.tokens(S, "text"))).as("w"))
      .filter(length(col("w")) <= MaxWordLen)
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** The tokenizer family's piece-length cap (pieces are 1..4 chars) —
    * the kernels take it as an argument; the oracle strings interpolate
    * the same literal via their generate_series(1, 4) bounds. */
  private val MaxPiece = 4

  /** One sorted-vocab row (`ps` array column, plus `lps` when `vl` carries
    * a log-prob) for broadcasting a corpus-derived vocab into the per-word
    * segmentation kernels. sort_array of the DISTINCT-p vocab gives the
    * deterministic order the kernels' binary search requires, and sorting
    * the (p, lp) structs keeps the two arrays aligned. */
  private def vocabRow(vl: DataFrame): DataFrame =
    if (vl.columns.contains("lp"))
      vl.agg(sort_array(collect_list(struct(col("p"), col("lp")))).as("vs"))
        .select(expr("transform(vs, x -> x.p)").as("ps"),
          expr("transform(vs, x -> x.lp)").as("lps"))
    else vl.agg(sort_array(collect_list(col("p"))).as("ps"))

  /** The unigram-LM Viterbi's suffix-best DP, unrolled: round k's best
    * covers every position within k pieces of the word end (pieces
    * advance >= 1 char, words cap at 12, so 12 rounds converge). Pure
    * ANSI over the staged `cand`/`dbase` tables — ONE string renders in
    * both engines, so the DP recurrence cannot drift between them. Each
    * round is a full recomputation against the previous (monotone
    * nondecreasing, vocab-word-sized), never an in-place update. Table
    * names are parameters so q_unigram_train can run the SAME recurrence
    * twice in one statement (pre- and post-EM vocab) without collisions;
    * the defaults render q_unigram_tokenizer's original text verbatim. */
  private def unigramDpRounds(n: Int, cand: String = "cand",
                              dbase: String = "dbase",
                              pfx: String = "d"): String = (1 to n).map { k =>
    s"""$pfx$k AS (SELECT w, pos, best FROM $dbase
       |  UNION ALL
       |  SELECT c.w, c.pos, max(c.lp + b.best) AS best
       |  FROM $cand c JOIN $pfx${k - 1} b ON b.w = c.w AND b.pos = c.pos + c.L
       |  GROUP BY c.w, c.pos)""".stripMargin
  }.mkString(",\n")

  /** One full Viterbi segmentation as a CTE chain (candidates, suffix-best
    * DP, per-position argmax, frontier reach) against the vocab-log-prob
    * table `vl` (columns p, lp), every table name suffixed `sfx` —
    * q_unigram_tokenizer's segmentation stage, factored so
    * q_unigram_train's oracle states the identical recurrence for both
    * the pre-EM and post-EM vocab. Consumers read `chosen$sfx` (the
    * per-(w, pos) step table) joined with `reach$sfx`.
    *
    * The multiply-referenced members are AS MATERIALIZED (DuckDB-only
    * syntax — this string never reaches Spark): DuckDB inlines plain
    * CTEs per reference, so without it `cand`/`chosen` re-evaluate once
    * per DP round / per recursion step, and in the TWO-pass train query
    * the round-B candidate table would re-run the entire round-A
    * pipeline inside every Bellman round — measured minutes-vs-seconds
    * at sf0.01. Spark needs no marker: since r14 the engine side runs
    * the whole segmentation in the compiled unigramPathPieces kernel
    * ([[segUsage]]), so this CTE chain is ORACLE-only. */
  private def unigramSegSql(vl: String, sfx: String): String =
    s"""cand$sfx AS MATERIALIZED (
       |         SELECT wf.w, wf.c, ps.i - 1 AS pos, ls.L, v.lp, v.p
       |         FROM wf, unnest(generate_series(1, 4)) AS ls(L),
       |              unnest(generate_series(1, length(w))) AS ps(i), $vl v
       |         WHERE ps.i - 1 + ls.L <= length(w)
       |           AND v.p = substr(w, ps.i, ls.L)),
       |dbase$sfx AS MATERIALIZED (
       |          SELECT w, length(w) AS pos, CAST(0 AS BIGINT) AS best
       |          FROM wf),
       |${sfx}d0 AS (SELECT * FROM dbase$sfx),
       |${unigramDpRounds(MaxWordLen, s"cand$sfx", s"dbase$sfx", s"${sfx}d")},
       |chosen$sfx AS MATERIALIZED (SELECT w, c, pos, L, p FROM (
       |             SELECT c.w, c.c, c.pos, c.L, c.p,
       |               row_number() OVER (PARTITION BY c.w, c.pos
       |                 ORDER BY c.lp + b.best DESC, c.L DESC, c.p) AS rn
       |             FROM cand$sfx c JOIN ${sfx}d$MaxWordLen b
       |               ON b.w = c.w AND b.pos = c.pos + c.L)
       |           WHERE rn = 1),
       |reach$sfx AS (SELECT w, 0 AS pos FROM wf
       |          UNION ALL
       |          SELECT r.w, r.pos + s.L FROM reach$sfx r
       |          JOIN chosen$sfx s ON s.w = r.w AND s.pos = r.pos
       |          WHERE r.pos + s.L < length(r.w))""".stripMargin

  /** Initial unigram vocab (p, score): every corpus char + the top-40
    * 2..4-char substrings by corpus-weighted count — the q_wordpiece
    * constructor both trained-tokenizer queries start from. */
  private def unigramVocab(wf: DataFrame): DataFrame = {
    val pc = wf
      .select(col("w"), col("c"), explode(expr("sequence(1, 4)")).as("L"))
      .filter(length(col("w")) >= col("L"))
      .select(explode(expr(
        "transform(sequence(1, length(w) - L + 1), i -> substr(w, i, L))"))
        .as("p"), col("c"))
      .groupBy("p").agg(sum("c").cast("long").as("score"))
    pc.filter(length(col("p")) >= 2)
      .orderBy(desc("score"), col("p")).limit(40)
      .unionByName(pc.filter(length(col("p")) === 1))
  }

  /** Corpus-weighted usage of each piece under the Viterbi segmentation
    * of every word against the log-prob vocab `vl` (columns p, lp):
    * n_occurrences weights by word frequency (the EM expected count
    * under the Viterbi-approximated posterior), n_sites counts distinct
    * (word, position) sites. The segmentation runs in the compiled
    * [[graft.functions.TextSig.unigramPathPieces]] kernel — suffix-best
    * DP, argmax tie-break and frontier walk in one pass per word against
    * the broadcast sorted-vocab row — replacing the r13 relational
    * Bellman unroll ([[unigramSegSql]] stays the ORACLE's form, so any
    * kernel drift breaks the hash; direct parity is pinned in
    * ModulesSpec). Measured at sf0.1 (interleaved A/B, 3-rep medians,
    * same host, r14): q_unigram_tokenizer 5.48 → 1.31 s,
    * q_unigram_train 9.88 → 2.70 s — the unrolled form's ~24 sequential
    * exchanges per segmentation pass were the floor, not the
    * arithmetic. Scale shape
    * is unchanged-or-better: one map-side-combined word count, a
    * vocab-sized broadcast, and ONE piece-keyed aggregate; the DP that
    * took 12 shuffle rounds is now per-row scan work. */
  private def segUsage(wf: DataFrame, vl: DataFrame): DataFrame =
    wf.crossJoin(broadcast(vocabRow(vl)))
      .select(col("c"), explode(graft.functions.TextSig
        .unigramPathUdf(MaxPiece)(col("w"), col("ps"), col("lps"))).as("p"))
      .groupBy("p")
      .agg(sum("c").cast("long").as("n_occurrences"),
        count(lit(1)).as("n_sites"))

  /** BM25 score over staged columns (tf1..tf3, dl, n, avgdl, df1..df3),
    * k1=1.2 b=0.75, quantized x10k. Pure ANSI arithmetic — the identical
    * string renders in both engines, summed in fixed term order so float
    * association cannot differ. Takes the Dialect only for call-site
    * symmetry with the other shared fragments. */
  private def Bm25Sql(d: graft.functions.Dialect): String = {
    def term(tf: String, df: String) =
      s"ln(1.0 + (n - $df + 0.5)/($df + 0.5)) * " +
        s"(($tf * 2.2)/($tf + 1.2*(0.25 + 0.75*dl/avgdl)))"
    text.fixedPoint(
      s"${term("tf1", "df1")} + ${term("tf2", "df2")} + ${term("tf3", "df3")}", 4)
  }

  val all: Seq[Q] = Seq(

    Q("q_hash_sample",
      "Deterministic 5% corpus sample: multiplicative key mix mod 100 < 5. " +
        "Unlike TABLESAMPLE/rand(), the predicate is a pure projection-level " +
        "expression — reproducible across engines and runs, evaluated " +
        "during the scan (arithmetic can't prune row groups, but nothing " +
        "shuffles and no seed coordination exists to get wrong at 100 TB)",
      Some(s"""SELECT doc_id, lang, source FROM documents
              |WHERE ($mixDoc) % 100 < 5
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .filter(expr(s"($mixDoc) % 100 < 5"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    Q("q_stratified_sample",
      "Deterministic stratified sample: a 200-doc budget allocated across " +
        "(source, lang) strata proportionally to stratum size (integer " +
        "div, floored at 1 so no stratum vanishes), selecting each " +
        "stratum's lowest key-mix rows. The mix makes selection a pure " +
        "function of the key (replayable on any engine/cluster/retry); " +
        "unlike q_source_cap's fixed per-group cap, the quota here is " +
        "DATA-DEPENDENT — the shape every mixture-balancing pipeline " +
        "needs. Costs one tiny grouped count (broadcast back) plus one " +
        "window partitioned by stratum; a stratum hot enough to skew the " +
        "window is exactly the stratum whose quota should be re-examined",
      Some(s"""WITH g AS (SELECT source, lang, count(*) AS n_g
              |           FROM documents GROUP BY source, lang),
              |t AS (SELECT sum(n_g) AS total FROM g),
              |q AS (SELECT source, lang,
              |        greatest(1, (200 * n_g) // total) AS quota
              |      FROM g, t),
              |r AS (SELECT doc_id, source, lang,
              |        row_number() OVER (PARTITION BY source, lang
              |          ORDER BY ($mixDoc), doc_id) AS rn
              |      FROM documents)
              |SELECT r.doc_id, r.source, r.lang
              |FROM r JOIN q USING (source, lang)
              |WHERE rn <= quota
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val d = documents(s, dir)
      val g = d.groupBy("source", "lang").agg(count(lit(1)).as("n_g"))
      val quota = g.crossJoin(broadcast(g.agg(sum("n_g").as("total"))))
        .select(col("source"), col("lang"),
          greatest(lit(1L), expr("(200 * n_g) div total")).as("quota"))
      val w = Window.partitionBy("source", "lang")
        .orderBy(expr(mixDoc), col("doc_id"))
      d.withColumn("rn", row_number().over(w).cast("long"))
        .join(broadcast(quota), Seq("source", "lang"))
        .filter(col("rn") <= col("quota"))
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    },

    Q("q_train_test_split",
      "Deterministic 80/10/10 train/val/test split by key mix — the split " +
        "is a pure function of the key, so it never leaks across reruns, " +
        "engines or cluster sizes; yield accounted per source x split",
      Some(s"""SELECT source, split, count(*) AS n,
              |  CAST(sum(${text.nTokens(D, "text")}) AS BIGINT) AS sum_tokens
              |FROM (
              |  SELECT source, text, CASE
              |    WHEN ($mixDoc) % 10 < 8 THEN 'train'
              |    WHEN ($mixDoc) % 10 = 8 THEN 'val'
              |    ELSE 'test' END AS split
              |  FROM documents)
              |GROUP BY source, split
              |ORDER BY source, split""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .withColumn("split", expr(
          s"""CASE WHEN ($mixDoc) % 10 < 8 THEN 'train'
             |     WHEN ($mixDoc) % 10 = 8 THEN 'val'
             |     ELSE 'test' END""".stripMargin))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n"),
          sum(expr(text.nTokens(S, "text"))).cast("long").as("sum_tokens"))
        .orderBy("source", "split")
    },

    Q("q_source_cap",
      "Per-source document cap (keep 10 lowest-keyed docs per source): the " +
        "anti-boilerplate / source-balance step — one window per source " +
        "partition, no global coordination, any source's overflow is " +
        "dropped executor-locally at 100 TB",
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 10
             |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
      documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    Q("q_token_pack",
      "Sequence packing: within each source shard, docs pack greedily into " +
        "512-token training bins by running token count (bin = exclusive " +
        "cumulative sum div budget). Packing per source partition — not " +
        "globally — is what keeps the window parallel at 100 TB; a global " +
        "pack would be a single-partition sort. Emits per-bin doc count and " +
        "token fill",
      Some(s"""SELECT source, bin, count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
              |FROM (
              |  SELECT source, n_tok,
              |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS bin
              |  FROM (SELECT source, doc_id,
              |          CAST(${text.nTokens(D, "text")} AS BIGINT) AS n_tok
              |        FROM documents))
              |GROUP BY source, bin
              |ORDER BY source, bin""".stripMargin)) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      documents(s, dir)
        .select(col("source"), col("doc_id"),
          expr(text.nTokens(S, "text")).cast("long").as("n_tok"))
        .withColumn("bin",
          (coalesce(sum(col("n_tok")).over(w), lit(0L)) / lit(512)).cast("long"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("sum_tokens"))
        .orderBy("source", "bin")
    },

    Q("q_pii_scrub",
      "PII scrubbing: regex-redact emails and phone numbers (synthesized " +
        "deterministically around the corpus text, since the synthetic docs " +
        "carry none), count redactions — the pre-training compliance pass, " +
        "a pure codegen'd projection at any scale",
      Some {
        val email = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
        val phone = "[+]1-555-[0-9]{4}"
        s"""SELECT doc_id,
           |  CAST(${D.regexpCount("msg", email)} AS BIGINT) AS n_emails,
           |  CAST(${D.regexpCount("msg", phone)} AS BIGINT) AS n_phones,
           |  length(${D.regexReplaceAll(D.regexReplaceAll("msg", email, "<EMAIL>"), phone, "<PHONE>")}) AS clean_len
           |FROM (
           |  SELECT doc_id,
           |    'reach u' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-'
           |      || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' re: ' || text AS msg
           |  FROM documents WHERE doc_id < 300)
           |ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val email = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
      val phone = "[+]1-555-[0-9]{4}"
      documents(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"),
          concat(lit("reach u"), col("doc_id").cast("string"),
            lit("@mail.example.com or +1-555-"),
            (lit(1000) + col("doc_id") % 9000).cast("string"),
            lit(" re: "), col("text")).as("msg"))
        .select(col("doc_id"),
          expr(S.regexpCount("msg", email)).cast("long").as("n_emails"),
          expr(S.regexpCount("msg", phone)).cast("long").as("n_phones"),
          length(expr(S.regexReplaceAll(
            S.regexReplaceAll("msg", email, "<EMAIL>"), phone, "<PHONE>")))
            .cast("long").as("clean_len"))
        .orderBy("doc_id")
    },

    Q("q_contamination",
      "Benchmark decontamination: flag training docs sharing any 5-gram " +
        "shingle hash with the held-out set (doc_id % 97 = 0). The join is " +
        "keyed by shingle hash — at 100 TB the held-out side is tiny and " +
        "broadcast, so decontamination is one map-side semi-join over the " +
        "exploded corpus, no quadratic text compare",
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest(${text.shingleHashes(D, "text", 5)}) AS h
              |  FROM documents),
              |test_sh AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0)
              |SELECT DISTINCT doc_id FROM sh
              |WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM test_sh)
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val sh = documents(s, dir)
        .select(col("doc_id"),
          explode(graft.functions.TextSig.shingleHashesUdf(col("text"), lit(5))).as("h"))
      val testSh = sh.filter(col("doc_id") % 97 === 0).select("h").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(testSh), Seq("h"), "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    },

    Q("q_quality_filter",
      "Quality-filter application with yield accounting: keep docs passing " +
        "the composite gate (20..5000 tokens, uniq_ratio >= 0.5, stopword " +
        "ratio <= 0.6), report kept/dropped and kept-token yield per source " +
        "— the numbers a curation run is judged by. One pass, no shuffle " +
        "beyond the final per-source rollup",
      Some {
        val nt = text.nTokens(D, "text")
        val uq = text.uniqRatio(D, "text")
        val sr = text.markerRatio(D, "text", Seq("the", "a"))
        s"""SELECT source,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
           |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
           |FROM (
           |  SELECT source, n_tok,
           |    (n_tok BETWEEN 20 AND 5000 AND uq >= 0.5 AND sr <= 0.6) AS keep
           |  FROM (SELECT source, CAST($nt AS BIGINT) AS n_tok,
           |          $uq AS uq, $sr AS sr
           |        FROM documents))
           |GROUP BY source
           |ORDER BY source""".stripMargin
      }) { (s, dir) =>
      val nt = text.nTokens(S, "text")
      val uq = text.uniqRatio(S, "text")
      val sr = text.markerRatio(S, "text", Seq("the", "a"))
      documents(s, dir)
        .select(col("source"),
          expr(nt).cast("long").as("n_tok"),
          expr(uq).as("uq"), expr(sr).as("sr"))
        .withColumn("keep",
          col("n_tok").between(20, 5000) && col("uq") >= 0.5 && col("sr") <= 0.6)
        .groupBy("source")
        .agg(sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          sum(when(col("keep"), 0).otherwise(1)).cast("long").as("n_dropped"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).cast("long").as("kept_tokens"))
        .orderBy("source")
    },

    Q("q_vocab_topk",
      "Vocabulary construction (tokenizer seeding): token -> corpus " +
        "frequency + document frequency, top-50 by count. One explode + " +
        "one hash aggregate — map-side combining collapses each partition " +
        "to its local vocabulary before the shuffle, so the exchange " +
        "carries vocab-sized (not corpus-sized) data at 100 TB",
      Some(s"""SELECT tok, count(*) AS tf,
              |  count(DISTINCT doc_id) AS df
              |FROM (SELECT doc_id, unnest(${text.tokens(D, "text")}) AS tok
              |      FROM documents)
              |GROUP BY tok
              |ORDER BY tf DESC, tok
              |LIMIT 50""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), explode(expr(text.tokens(S, "text"))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(desc("tf"), col("tok"))
        .limit(50)
    },

    Q("q_mix_weighted",
      "Weighted source mixing: per-source keep-rates (even sources 90%, " +
        "odd 30%) applied via the deterministic key mix — how a training " +
        "mixture up/down-weights domains; reported as kept counts + token " +
        "yield per source. Same replayability argument as q_hash_sample: " +
        "the mixture is a pure function of (key, rate table)",
      Some(s"""SELECT source, count(*) AS n_kept,
              |  CAST(sum(${text.nTokens(D, "text")}) AS BIGINT) AS kept_tokens
              |FROM (
              |  SELECT source, text FROM documents
              |  WHERE ($mixDoc) % 100 <
              |    CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
              |         THEN 90 ELSE 30 END)
              |GROUP BY source
              |ORDER BY source""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .filter(expr(
          s"""($mixDoc) % 100 <
             |CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
             |     THEN 90 ELSE 30 END""".stripMargin))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(expr(text.nTokens(S, "text"))).cast("long").as("kept_tokens"))
        .orderBy("source")
    },

    Q("q_epoch_shuffle",
      "Epoch shuffling: a deterministic global permutation by seeded key " +
        "mix — every epoch reorders with a different seed, every run of the " +
        "same epoch agrees. Top-20 head shipped as the check; the full sort " +
        "is a TakeOrderedAndProject here, a range-partitioned sort at scale",
      Some(s"""SELECT doc_id, shuffle_key FROM (
              |  SELECT doc_id, ${text.mix("doc_id", 7)} AS shuffle_key
              |  FROM documents)
              |ORDER BY shuffle_key, doc_id
              |LIMIT 20""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), expr(text.mix("doc_id", 7)).as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(20)
    },

    Q("q_weighted_sample",
      "Fixed-size weighted sample without replacement (Efraimidis-Spirakis " +
        "exponential keys): es_key = -ln(u)/w with u a deterministic " +
        "uniform from the key mix and w = n_chars, smallest 50 keys win — " +
        "longer docs proportionally more likely (sample mean n_chars 342 " +
        "vs corpus 298 at sf0.01). One TakeOrderedAndProject pass, no " +
        "rand(), replayable on any engine. The ln is the one libm call in " +
        "an ORDER BY: keys are continuous and well-separated, so a last-" +
        "ulp JVM/libm disagreement flipping the rank-50 boundary is the " +
        "same (so-far-unobserved) risk class as the haversine oracles",
      Some(s"""SELECT doc_id, source, n_chars FROM (
              |  SELECT doc_id, source, n_chars,
              |    $EsKey AS es_key
              |  FROM documents
              |  ORDER BY es_key, doc_id LIMIT 50)
              |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr(EsKey).as("es_key"))
        .orderBy("es_key", "doc_id")
        .limit(50)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    },

    Q("q_segment_dedup",
      "Line-level boilerplate removal (the RefinedWeb/CCNet common-line " +
        "pass, generalized to 8-token segments since the synthetic docs " +
        "carry no newlines): a segment appearing in >= 2 distinct docs is " +
        "boilerplate; each doc reports kept/dropped counts and its cleaned " +
        "text reassembled in order. Two-phase plan that scales: segment df " +
        "is one explode + map-side-combinable aggregate, and the resulting " +
        "boilerplate set (by definition a small fraction of segment space) " +
        "broadcasts back over the exploded corpus — no corpus self-join, " +
        "no shuffle of document text beyond the final per-doc regroup",
      Some {
        val segs = text.segments(D, "text", 8)
        s"""WITH seg AS (
           |  SELECT doc_id, unnest(segs) AS seg,
           |    generate_subscripts(segs, 1) AS seg_idx
           |  FROM (SELECT doc_id, $segs AS segs FROM documents)),
           |boiler AS (
           |  SELECT seg FROM seg GROUP BY seg HAVING count(DISTINCT doc_id) >= 2)
           |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segments,
           |  CAST(sum(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           |  coalesce(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END,
           |    ' ' ORDER BY s.seg_idx), '') AS clean_text
           |FROM seg s LEFT JOIN boiler b ON s.seg = b.seg
           |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
      }) { (s, dir) =>
      val seg = share(documents(s, dir)
        .select(col("doc_id"),
          posexplode(expr(text.segments(S, "text", 8))).as(Seq("pos", "seg")))
        .select(col("doc_id"), (col("pos") + 1).as("seg_idx"), col("seg")))
      val boiler = seg.groupBy("seg")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
        .select(col("seg").as("b_seg"))
      seg.join(broadcast(boiler), col("seg") === col("b_seg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("b_seg").isNotNull, 1).otherwise(0)).cast("long").as("n_dropped"),
          coalesce(array_join(transform(
            array_sort(collect_list(when(col("b_seg").isNull,
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")), " "), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    Q("q_bm25",
      "BM25 keyword search (k1=1.2, b=0.75) for a fixed 3-term query, " +
        "top-10 docs: per-doc term frequencies and doc length are pure " +
        "projections (no tokenize-shuffle); the corpus statistics (N, " +
        "avgdl, per-term df) are ONE 1-row aggregate broadcast back, so " +
        "the whole ranker is scan + tiny-broadcast + TakeOrdered at any " +
        "scale. The idf * saturation sum is written term-by-term in fixed " +
        "order and quantized via fixedPoint, so both engines rank " +
        "identically; ln shares the q_weighted_sample libm caveat. The " +
        "Spark side computes (dl, tf1..tf3) in ONE aggregate fold over one " +
        "tokens array behind an explode barrier (CollapseProject would " +
        "re-inline a staged projection and tokenize 4x — measured ~30% of " +
        "the scan; the oracle keeps the 4-count form, integer-identical)",
      Some {
        val q = Bm25Sql(D)
        s"""WITH pt AS (
           |  SELECT doc_id, CAST(${text.nTokens(D, "text")} AS BIGINT) AS dl,
           |    ${text.termFreq(D, "text", "spark")} AS tf1,
           |    ${text.termFreq(D, "text", "merge")} AS tf2,
           |    ${text.termFreq(D, "text", "window")} AS tf3
           |  FROM documents),
           |corp AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl,
           |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
           |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
           |    CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3
           |  FROM pt)
           |SELECT doc_id, $q AS score_x10k
           |FROM pt CROSS JOIN corp
           |ORDER BY score_x10k DESC, doc_id LIMIT 10""".stripMargin
      }) { (s, dir) =>
      // one tokenize per row: fold all four counters in a single aggregate
      // over one tokens() array; explode(array(..)) is a Generate barrier
      // that stops CollapseProject from inlining the fold into each of the
      // four field extractions (which would re-tokenize 4x — measured)
      val fold = "aggregate(" + text.tokens(S, "text") + ", " +
        "named_struct('dl', 0L, 't1', 0L, 't2', 0L, 't3', 0L), (a, t) -> " +
        "named_struct('dl', a.dl + 1, " +
        "'t1', a.t1 + CASE WHEN t = 'spark' THEN 1L ELSE 0L END, " +
        "'t2', a.t2 + CASE WHEN t = 'merge' THEN 1L ELSE 0L END, " +
        "'t3', a.t3 + CASE WHEN t = 'window' THEN 1L ELSE 0L END))"
      val pt = documents(s, dir)
        .select(col("doc_id"), explode(array(expr(fold))).as("c"))
        .select(col("doc_id"), col("c.dl").as("dl"),
          col("c.t1").cast("int").as("tf1"), col("c.t2").cast("int").as("tf2"),
          col("c.t3").cast("int").as("tf3"))
      val corp = pt.agg(
        count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        sum(when(col("tf1") > 0, 1).otherwise(0)).cast("long").as("df1"),
        sum(when(col("tf2") > 0, 1).otherwise(0)).cast("long").as("df2"),
        sum(when(col("tf3") > 0, 1).otherwise(0)).cast("long").as("df3"))
      pt.crossJoin(broadcast(corp))
        .select(col("doc_id"), expr(Bm25Sql(S)).as("score_x10k"))
        .orderBy(desc("score_x10k"), col("doc_id"))
        .limit(10)
    },

    Q("q_chunk_overlap",
      "RAG/context chunking: overlapping 200-char windows at stride 150 " +
        "(50 chars of shared context between consecutive chunks), emitted " +
        "with stable (doc_id, chunk_idx) identity. A pure generator " +
        "projection — no shuffle, no state; at 100 TB this is exactly the " +
        "shape that feeds an embedding pass, and chunk identity being a " +
        "pure function of (doc, position) is what lets a re-run resume " +
        "instead of re-embedding the corpus",
      Some {
        val chunks = text.charChunks(D, "text", 200, 150)
        s"""SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, chunk,
           |  CAST(length(chunk) AS BIGINT) AS chunk_len
           |FROM (
           |  SELECT doc_id, generate_subscripts(chunks, 1) AS chunk_idx,
           |    unnest(chunks) AS chunk
           |  FROM (SELECT doc_id, $chunks AS chunks FROM documents))
           |ORDER BY doc_id, chunk_idx""".stripMargin
      }) { (s, dir) =>
      documents(s, dir)
        .select(col("doc_id"),
          posexplode(expr(text.charChunks(S, "text", 200, 150))).as(Seq("pos", "chunk")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_idx"),
          col("chunk"), length(col("chunk")).cast("long").as("chunk_len"))
        .orderBy("doc_id", "chunk_idx")
    },

    Q("q_rag_e2e",
      "The RAG ingestion+serve pipeline as ONE declarative plan (the " +
        "retrieval sibling of q_curation_e2e's proof that the catalog's " +
        "stages COMPOSE): chunk the corpus (q_chunk_overlap's windows), " +
        "embed every chunk with the deterministic hashing-TF embedder, " +
        "embed the query TEXT the same way, exact cosine top-5 with " +
        "(doc, chunk) identity. Catalyst fuses chunk+embed into the scan " +
        "projection and the top-k is TakeOrderedAndProject — the corpus " +
        "is read once and nothing shuffles; swap the brute-force tail " +
        "for AnnIndex buckets / IVF lists and this is the serving path " +
        "at 100 TB. Chunk identity being a pure (doc, position) function " +
        "is what lets a re-run resume instead of re-embedding",
      Some {
        val chunks = text.charChunks(D, "text", 200, 150)
        s"""WITH ch AS (
           |  SELECT doc_id, generate_subscripts(chunks, 1) AS chunk_idx,
           |    unnest(chunks) AS chunk
           |  FROM (SELECT doc_id, $chunks AS chunks FROM documents
           |        WHERE doc_id < 120)),
           |emb AS (SELECT doc_id, chunk_idx,
           |          ${vectors.embedStubSql(D, "chunk", 16)} AS e FROM ch),
           |q AS (SELECT ${vectors.embedStubSql(D, "qt", 16)} AS qe
           |      FROM (SELECT 'spark join order fast' AS qt))
           |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           |  ${text.fixedPoint("sim", 4)} AS sim_x10k
           |FROM (SELECT doc_id, chunk_idx,
           |        ${vectors.cosineSimSql("e", "qe")} AS sim
           |      FROM emb CROSS JOIN q)
           |ORDER BY sim DESC, doc_id, chunk_idx
           |LIMIT 5""".stripMargin
      }) { (s, dir) =>
      import graft.functions.TextSig
      val chunks = documents(s, dir)
        .filter(col("doc_id") < 120)
        .select(col("doc_id"), posexplode(
          expr(text.charChunks(S, "text", 200, 150))).as(Seq("pos", "chunk")))
        .select(col("doc_id"), (col("pos") + 1).as("chunk_idx"),
          TextSig.embedUdf(col("chunk"), lit(16)).as("e"))
      val q = chunks.sparkSession.range(1)
        .select(TextSig.embedUdf(lit("spark join order fast"), lit(16)).as("qe"))
      chunks.crossJoin(broadcast(q))
        .withColumn("sim", vectors.cosineSim(col("e"), col("qe")))
        .orderBy(desc("sim"), col("doc_id"), col("chunk_idx"))
        .limit(5)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          expr(text.fixedPoint("sim", 4)).as("sim_x10k"))
    },

    Q("q_tfidf_keywords",
      "Per-document keyword extraction: top-3 tokens by tf-idf (tf x " +
        "ln(N/df)), reported for the first 50 docs. df is vocab-sized " +
        "after one map-side-combined aggregate and broadcasts back onto " +
        "the per-doc term frequencies; the per-doc top-3 is a window over " +
        "the doc partition — fully parallel, no global sort. Ranking " +
        "compares the QUANTIZED score (fixedPoint x10k) with token " +
        "tie-break, so rank order is engine-stable by construction " +
        "rather than by libm luck",
      Some {
        val score = text.fixedPoint(s"tf * ln(CAST(n AS DOUBLE)/df)", 4)
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${text.tokens(D, "text")}) AS tok
           |  FROM documents),
           |tfd AS (
           |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           |  FROM tok GROUP BY doc_id, tok),
           |dfd AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS df
           |  FROM tfd GROUP BY tok),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |scored AS (
           |  SELECT doc_id, tok, $score AS tfidf_x10k,
           |    row_number() OVER (PARTITION BY doc_id
           |      ORDER BY $score DESC, tok) AS rnk
           |  FROM tfd JOIN dfd USING (tok) CROSS JOIN nn)
           |SELECT doc_id, rnk, tok, tfidf_x10k FROM scored
           |WHERE rnk <= 3 AND doc_id < 50
           |ORDER BY doc_id, rnk""".stripMargin
      }) { (s, dir) =>
      val tok = documents(s, dir)
        .select(col("doc_id"), explode(expr(text.tokens(S, "text"))).as("tok"))
      val tfd = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      // df = rows per token in the ALREADY-distinct (doc, tok) frame — no
      // second corpus explode, no countDistinct expansion; and with tfd
      // hash-partitioned by (doc_id, tok) the rollup's partial aggregate
      // re-reads tfd's exchange instead of re-tokenizing the corpus
      val dfd = tfd.groupBy("tok").agg(count(lit(1)).as("df"))
      val nn = documents(s, dir).agg(count(lit(1)).as("n"))
      val score = text.fixedPoint(s"tf * ln(CAST(n AS DOUBLE)/df)", 4)
      val w = Window.partitionBy("doc_id")
        .orderBy(expr(score).desc, col("tok"))
      tfd.join(broadcast(dfd), Seq("tok")).crossJoin(broadcast(nn))
        .select(col("doc_id"), col("tok"), expr(score).as("tfidf_x10k"),
          row_number().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3 && col("doc_id") < 50)
        .select("doc_id", "rnk", "tok", "tfidf_x10k")
        .orderBy("doc_id", "rnk")
    },

    Q("q_negative_sample",
      "Contrastive negative sampling: 5 deterministic negatives per query " +
        "doc (first 20 docs), drawn by the multiplicative key mix mod the " +
        "corpus size — the pairs that train a contrastive embedder, " +
        "replayable on any engine/run like every sampler here (a rand() " +
        "negative set can't be reproduced for a training restart). A " +
        "collision with the positive remaps to the next id instead of " +
        "dropping, so the output is exactly 5 rows per query. The tiny " +
        "query-side explode broadcasts into one join against the corpus " +
        "— at 100 TB this is a map-side lookup, no corpus shuffle",
      Some {
        val m = text.mix("q.doc_id * 5 + q.j", 11)
        s"""WITH q AS (
           |  SELECT doc_id, unnest(generate_series(1, 5)) AS j
           |  FROM documents WHERE doc_id < 20),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
           |neg AS (
           |  SELECT q.doc_id, q.j,
           |    CASE WHEN ($m) % n = q.doc_id THEN (($m) % n + 1) % n
           |         ELSE ($m) % n END AS neg_id
           |  FROM q CROSS JOIN nn)
           |SELECT neg.doc_id, neg.j, neg.neg_id, d.source AS neg_source
           |FROM neg JOIN documents d ON neg.neg_id = d.doc_id
           |ORDER BY neg.doc_id, neg.j""".stripMargin
      }) { (s, dir) =>
      val m = text.mix("doc_id * 5 + j", 11)
      val nn = documents(s, dir).agg(count(lit(1)).as("n"))
      val q = documents(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), explode(expr("sequence(1, 5)")).as("j0"))
        .select(col("doc_id"), col("j0").cast("long").as("j"))
        .crossJoin(broadcast(nn))
        .select(col("doc_id"), col("j"),
          when(expr(s"($m) % n") === col("doc_id"),
            (expr(s"($m) % n") + 1) % col("n"))
            .otherwise(expr(s"($m) % n")).as("neg_id"))
      documents(s, dir).select(col("doc_id").as("cand_id"), col("source"))
        .join(broadcast(q), col("cand_id") === col("neg_id"))
        .select(col("doc_id"), col("j"), col("neg_id"),
          col("source").as("neg_source"))
        .orderBy("doc_id", "j")
    },

    Q("q_domain_filter",
      "Crawl-curation domain filtering: extract the host from each doc's " +
        "URL (synthesized deterministically around doc_id — the synthetic " +
        "corpus carries no URLs, same stance as q_pii_scrub's emails), " +
        "drop domains on a blocklist TABLE via anti-join, report kept " +
        "docs + token yield per surviving domain. The blocklist is a " +
        "table, not an IN-list, because real crawl blocklists are " +
        "millions of registry rows — broadcast anti-join is the shape " +
        "that survives that; domain extraction is a codegen'd projection",
      Some {
        val url = s"'https://host' || ${D.castString("doc_id % 10")} || " +
          s"'.example.' || (CASE WHEN doc_id % 3 = 0 THEN 'com' " +
          s"WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END) || " +
          s"'/p/' || ${D.castString("doc_id")}"
        val dom = D.regexExtract("url", "https://([a-z0-9.]+)/", 1)
        s"""WITH u AS (
           |  SELECT doc_id, text, $url AS url FROM documents),
           |d AS (
           |  SELECT doc_id, text, $dom AS domain FROM u),
           |blocked(bad_domain) AS (
           |  VALUES ('host0.example.com'), ('host4.example.org'),
           |         ('host8.example.net'))
           |SELECT domain, count(*) AS n_kept,
           |  CAST(sum(${text.nTokens(D, "text")}) AS BIGINT) AS kept_tokens
           |FROM d ANTI JOIN blocked ON domain = bad_domain
           |GROUP BY domain
           |ORDER BY domain""".stripMargin
      }) { (s, dir) =>
      import s.implicits._
      val url = s"concat('https://host', ${S.castString("doc_id % 10")}, " +
        s"'.example.', (CASE WHEN doc_id % 3 = 0 THEN 'com' " +
        s"WHEN doc_id % 3 = 1 THEN 'org' ELSE 'net' END), " +
        s"'/p/', ${S.castString("doc_id")})"
      val blocked = Seq("host0.example.com", "host4.example.org",
        "host8.example.net").toDF("bad_domain")
      documents(s, dir)
        .withColumn("url", expr(url))
        .withColumn("domain",
          expr(S.regexExtract("url", "https://([a-z0-9.]+)/", 1)))
        .join(broadcast(blocked), col("domain") === col("bad_domain"),
          "left_anti")
        .groupBy("domain")
        .agg(count(lit(1)).as("n_kept"),
          sum(expr(text.nTokens(S, "text"))).cast("long").as("kept_tokens"))
        .orderBy("domain")
    },

    Q("q_unigram_logprob",
      "Unigram language-model scoring — the poor-man's perplexity filter " +
        "(a real LM would be a scored column from an inference pass; the " +
        "unigram proxy needs only the corpus itself): p(tok) = corpus " +
        "frequency, each doc reports token count and the summed surprisal " +
        "-ln p. Curation drops the tails — gibberish scores high, " +
        "boilerplate scores low. Scale shape: the frequency table is " +
        "vocab-sized after one map-side-combined aggregate and broadcasts " +
        "onto the exploded corpus. Determinism: -ln p is quantized to a " +
        "x10k integer PER TOKEN before the per-doc sum, so the sum is " +
        "exact integer arithmetic — a double sum would depend on " +
        "accumulation order and could not hash-match across engines. " +
        "k=4, the house fixedPoint scale: ln is the one transcendental " +
        "here and a finer scale would amplify last-ulp libm differences " +
        "toward the floor boundary (the q_weighted_sample caveat class)",
      Some {
        val logp = text.fixedPoint("-ln(CAST(c AS DOUBLE) / t)", 4)
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(${text.tokens(D, "text")}) AS tok
           |  FROM documents),
           |freq AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
           |scored AS (
           |  SELECT tok.doc_id, $logp AS lp
           |  FROM tok JOIN freq USING (tok) CROSS JOIN tot)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           |  CAST(sum(lp) AS BIGINT) AS surprisal_x10k
           |FROM scored WHERE doc_id < 100
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val logp = text.fixedPoint("-ln(CAST(c AS DOUBLE) / t)", 4)
      val tok = documents(s, dir)
        .select(col("doc_id"), explode(expr(text.tokens(S, "text"))).as("tok"))
      val freq = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = freq.agg(sum(col("c")).as("t"))
      tok.join(broadcast(freq), Seq("tok")).crossJoin(broadcast(tot))
        .select(col("doc_id"), expr(logp).as("lp"))
        .filter(col("doc_id") < 100)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("lp")).cast("long").as("surprisal_x10k"))
        .orderBy("doc_id")
    },

    Q("q_histogram",
      "Data-profiling histogram: 20 fixed-width value bins (width 25, last " +
        "bin open) per event type — the distribution fingerprint a curation " +
        "run records per source/shard to catch drift. Pure integer bin " +
        "arithmetic at scan, one map-side-combinable aggregation",
      Some("""SELECT event_type, bin, CAST(bin * 25 AS BIGINT) AS bin_lo,
             |  CAST(n AS BIGINT) AS n
             |FROM (
             |  SELECT event_type,
             |    least(19, CAST(floor(value / 25.0) AS BIGINT)) AS bin,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2)
             |ORDER BY event_type, bin""".stripMargin)) { (s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          least(lit(19L), floor(col("value") / 25.0).cast("long")).as("bin"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          (col("bin") * 25).cast("long").as("bin_lo"), col("n"))
        .orderBy("event_type", "bin")
    },

    Q("q_multimodal_meta",
      "Multimodal metadata extraction, end-to-end REAL: build genuine " +
        "BMP/PPM/WAV bytes per document (format picked by doc_id % 3, " +
        "dims/duration/payload a pure function of doc_id), then parse them " +
        "back with the pure-JVM decoder — BMP stride-padded pixel walk, " +
        "PPM ASCII header, RIFF chunk walk — emitting width/height/" +
        "duration_ms plus a checksum over the actual pixel/sample payload. " +
        "The oracle recomputes every value closed-form from doc_id, so a " +
        "bug in EITHER the writer or the parser (stride, chunk offsets, " +
        "int16 sign, header arithmetic) breaks the hash. Scale shape: one " +
        "narrow scan + two per-row kernels, no shuffle before the final " +
        "sort; at 100 TB the decode is exactly this — per-row byte work " +
        "that never leaves the partition, metadata landing in a narrow " +
        "table so analytics skip the blob column entirely",
      Some("""SELECT doc_id AS media_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'wav' END AS kind,
             |  CAST(CASE WHEN doc_id % 3 = 2 THEN -1 ELSE 1 + doc_id % 13 END AS BIGINT) AS width,
             |  CAST(CASE WHEN doc_id % 3 = 2 THEN -1 ELSE 1 + doc_id % 7 END AS BIGINT) AS height,
             |  CAST(CASE WHEN doc_id % 3 = 2 THEN 100 + doc_id % 100 ELSE -1 END AS BIGINT) AS duration_ms,
             |  CAST(CASE WHEN doc_id % 3 = 2 THEN
             |      list_sum(list_transform(generate_series(0, 8*(100 + doc_id % 100) - 1),
             |        i -> (doc_id*7 + i) % 4001 - 2000))
             |    ELSE
             |      list_sum(list_transform(generate_series(0, (1 + doc_id % 13)*(1 + doc_id % 7)*3 - 1),
             |        i -> (doc_id*3 + i) % 251))
             |    END AS BIGINT) AS content_sum,
             |  CAST(CASE doc_id % 3
             |    WHEN 0 THEN 54 + (1 + doc_id % 7) * (((3*(1 + doc_id % 13) + 3) // 4) * 4)
             |    WHEN 1 THEN 9 + length(CAST(1 + doc_id % 13 AS VARCHAR))
             |      + length(CAST(1 + doc_id % 7 AS VARCHAR))
             |      + 3*(1 + doc_id % 13)*(1 + doc_id % 7)
             |    ELSE 44 + 16*(100 + doc_id % 100)
             |    END AS BIGINT) AS size_bytes
             |FROM documents WHERE doc_id < 300
             |ORDER BY media_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      documents(s, dir)
        .filter(col("doc_id") < 300)
        .select(col("doc_id").as("media_id"),
          Multimodal.metaUdf(Multimodal.mediaForDocUdf(col("doc_id"))).as("m"))
        .select(col("media_id"), col("m.kind").as("kind"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.duration_ms").as("duration_ms"),
          col("m.content_sum").as("content_sum"),
          col("m.size_bytes").as("size_bytes"))
        .orderBy("media_id")
    },

    Q("q_multimodal_resize",
      "Multimodal resize, REAL pixels: every BMP doc's image is resized " +
        "to half dimensions with an actual nearest-neighbor kernel " +
        "(Multimodal.resizeBmp — storage-order mapping, stride re-padding, " +
        "header patch), the resized bytes are decoded BACK for the output " +
        "dims (round-trip proof), and a position-weighted payload checksum " +
        "pins the exact pixel layout — a transposed, flipped or stride-" +
        "corrupted resize breaks the hash where a plain sum would not. " +
        "The oracle recomputes the checksum closed-form from doc_id by " +
        "replaying the nearest-neighbor index arithmetic in SQL, so the " +
        "kernel's sr/sx mapping is verified pixel-for-pixel against an " +
        "independent derivation. Scale shape: per-row byte kernels, no " +
        "shuffle before the final sort — decode-transform-reencode at " +
        "100 TB is exactly this, embarrassingly parallel",
      Some("""WITH m AS (
             |  SELECT doc_id, 1 + doc_id % 13 AS sw, 1 + doc_id % 7 AS sh
             |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 300),
             |d AS (
             |  SELECT doc_id, sw, sh,
             |    greatest(sw // 2, 1) AS dw, greatest(sh // 2, 1) AS dh
             |  FROM m)
             |SELECT doc_id AS media_id,
             |  CAST(sw AS BIGINT) AS src_w, CAST(sh AS BIGINT) AS src_h,
             |  CAST(dw AS BIGINT) AS dst_w, CAST(dh AS BIGINT) AS dst_h,
             |  CAST(list_sum(list_transform(generate_series(0, dh * 3 * dw - 1), j ->
             |    ((doc_id * 3
             |      + ((j // (3 * dw)) * sh // dh) * 3 * sw
             |      + (((j % (3 * dw)) // 3) * sw // dw) * 3
             |      + (j % 3)) % 251) * (j + 1)
             |  )) % 1000000007 AS BIGINT) AS wsum
             |FROM d ORDER BY media_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      documents(s, dir)
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 300)
        .select(col("doc_id").as("media_id"),
          (col("doc_id") % 13 + 1).cast("int").as("sw"),
          (col("doc_id") % 7 + 1).cast("int").as("sh"))
        .withColumn("dw", greatest(expr("sw div 2"), lit(1)).cast("int"))
        .withColumn("dh", greatest(expr("sh div 2"), lit(1)).cast("int"))
        .withColumn("rb", Multimodal.resizeBmpUdf(
          Multimodal.mediaForDocUdf(col("media_id")), col("dw"), col("dh")))
        .withColumn("m", Multimodal.metaUdf(col("rb")))
        .select(col("media_id"),
          col("sw").cast("long").as("src_w"), col("sh").cast("long").as("src_h"),
          col("m.width").as("dst_w"), col("m.height").as("dst_h"),
          Multimodal.weightedPixelSumUdf(col("rb")).as("wsum"))
        .orderBy("media_id")
    },

    Q("q_video_meta",
      "Video metadata, REAL uncompressed tier: genuine Y4M (YUV4MPEG2) " +
        "streams — ASCII header, FRAME markers, raw C420 planes — built " +
        "per doc and parsed back with the pure-JVM walker: dims and frame " +
        "rate from the header, frame count from the actual markers, " +
        "duration, payload checksum, and the max per-frame LUMA sum (the " +
        "framing proof: wrong plane arithmetic or marker handling shifts " +
        "every later frame's luma window). The oracle replays all of it " +
        "closed-form from doc_id; H.264 remains the documented codec " +
        "stub. Scale shape: one per-row kernel, zero shuffle before the " +
        "sort — frame-level work stays inside the partition",
      Some("""WITH d AS (
             |  SELECT doc_id, 2 * (1 + doc_id % 6) AS w,
             |    2 * (1 + doc_id % 3) AS h, 3 + doc_id % 5 AS nf
             |  FROM documents WHERE doc_id < 300),
             |e AS (SELECT *, w * h AS luma, (w * h * 3) // 2 AS fb FROM d)
             |SELECT doc_id AS media_id,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(nf AS BIGINT) AS n_frames,
             |  CAST(nf * 40 AS BIGINT) AS duration_ms,
             |  CAST(list_sum(list_transform(generate_series(0, nf * fb - 1),
             |    i -> (doc_id * 5 + i) % 241)) AS BIGINT) AS content_sum,
             |  CAST(list_max(list_transform(generate_series(0, nf - 1), f ->
             |    list_sum(list_transform(generate_series(0, luma - 1), j ->
             |      (doc_id * 5 + f * fb + j) % 241)))) AS BIGINT)
             |    AS max_frame_luma
             |FROM e ORDER BY media_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      documents(s, dir)
        .filter(col("doc_id") < 300)
        .select(col("doc_id").as("media_id"),
          Multimodal.videoMetaUdf(
            Multimodal.y4mForDocUdf(col("doc_id"))).as("v"))
        .select(col("media_id"), col("v.width").as("width"),
          col("v.height").as("height"), col("v.n_frames").as("n_frames"),
          col("v.duration_ms").as("duration_ms"),
          col("v.content_sum").as("content_sum"),
          col("v.max_frame_luma").as("max_frame_luma"))
        .orderBy("media_id")
    },

    Q("q_video_frames",
      "Frame SAMPLING over the real Y4M tier (the brief's frame-sample " +
        "op): every 2nd frame's exact luma- and chroma-plane sums, plus " +
        "the luma delta vs the previous sampled frame — the scene-change " +
        "/ black-frame primitive. The sampling happens INSIDE the per-row " +
        "kernel (unsampled frames never materialize into the row), and " +
        "the oracle replays sums and deltas closed-form from the " +
        "(seed*5+i)%241 payload formula, so plane arithmetic, marker " +
        "walking and stride selection are all pinned. Scale shape: " +
        "per-row kernel + explode, then one window PARTITIONED BY media " +
        "(state bounded by one clip's sampled frames, never corpus-sized)",
      Some("""WITH d AS (
             |  SELECT doc_id, 2 * (1 + doc_id % 6) AS w,
             |    2 * (1 + doc_id % 3) AS h, 3 + doc_id % 5 AS nf
             |  FROM documents WHERE doc_id < 200),
             |e AS (SELECT *, w * h AS luma, (w * h * 3) // 2 AS fb FROM d),
             |f AS (SELECT doc_id, luma, fb,
             |  unnest(list_filter(generate_series(0, nf - 1), x -> x % 2 = 0))
             |    AS fi FROM e),
             |s AS (SELECT doc_id, fi,
             |  list_sum(list_transform(generate_series(0, luma - 1), j ->
             |    (doc_id * 5 + fi * fb + j) % 241)) AS ls,
             |  list_sum(list_transform(generate_series(luma, fb - 1), j ->
             |    (doc_id * 5 + fi * fb + j) % 241)) AS cs
             |  FROM f)
             |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
             |  CAST(ls AS BIGINT) AS luma_sum, CAST(cs AS BIGINT) AS chroma_sum,
             |  CAST(ls - coalesce(lag(ls) OVER (PARTITION BY doc_id ORDER BY fi),
             |    ls) AS BIGINT) AS luma_delta
             |FROM s ORDER BY media_id, frame_idx""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      documents(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id").as("media_id"),
          explode(Multimodal.videoFrameStatsUdf(
            Multimodal.y4mForDocUdf(col("doc_id")), lit(2))).as("fs"))
        .select(col("media_id"), col("fs.frame_idx").as("frame_idx"),
          col("fs.luma_sum").as("luma_sum"),
          col("fs.chroma_sum").as("chroma_sum"))
        .withColumn("luma_delta", col("luma_sum") - coalesce(
          lag("luma_sum", 1).over(
            Window.partitionBy("media_id").orderBy("frame_idx")),
          col("luma_sum")))
        .orderBy("media_id", "frame_idx")
    },

    Q("q_gif_frames",
      "Frame sampling over REAL animated GIF — the first COMPRESSED " +
        "container to get the Y4M frame-walk treatment, through the " +
        "JDK's own ImageIO GIF codec (genuine LZW encode AND decode, no " +
        "stub): every 2nd frame's dims + exact gray-raster sum and the " +
        "delta vs the previous sampled frame. The fixture's 241 gray " +
        "values fit GIF's 256-entry palette, so the lossy-looking codec " +
        "is exactly lossless here and the oracle replays the sums " +
        "closed-form from the (seed*5+i)%241 payload formula — " +
        "fakeDecode's remaining scope shrinks to MP3/H.264 (the JDK " +
        "ships no audio/video codec). Scale shape: per-row codec " +
        "kernel + explode, unsampled frames never decode, then one " +
        "window PARTITIONED BY media",
      Some("""WITH d AS (
             |  SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 4 AS h,
             |    3 + doc_id % 5 AS nf
             |  FROM documents WHERE doc_id < 200),
             |e AS (SELECT *, w * h AS fb FROM d),
             |f AS (SELECT doc_id, w, h, fb,
             |  unnest(list_filter(generate_series(0, nf - 1), x -> x % 2 = 0))
             |    AS fi FROM e),
             |s AS (SELECT doc_id, w, h, fi,
             |  list_sum(list_transform(generate_series(0, fb - 1), j ->
             |    (doc_id * 5 + fi * fb + j) % 241)) AS gs
             |  FROM f)
             |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
             |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             |  CAST(gs AS BIGINT) AS gray_sum,
             |  CAST(gs - coalesce(lag(gs) OVER (PARTITION BY doc_id ORDER BY fi),
             |    gs) AS BIGINT) AS gray_delta
             |FROM s ORDER BY media_id, frame_idx""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      documents(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id").as("media_id"),
          explode(Multimodal.gifFrameStatsUdf(
            Multimodal.gifForDocUdf(col("doc_id")), lit(2))).as("fs"))
        .select(col("media_id"), col("fs.frame_idx").as("frame_idx"),
          col("fs.width").as("width"), col("fs.height").as("height"),
          col("fs.gray_sum").as("gray_sum"))
        .withColumn("gray_delta", col("gray_sum") - coalesce(
          lag("gray_sum", 1).over(
            Window.partitionBy("media_id").orderBy("frame_idx")),
          col("gray_sum")))
        .orderBy("media_id", "frame_idx")
    },

    Q("q_image_dedup",
      "PERCEPTUAL image dedup via 64-bit difference hash (dHash — the " +
        "multimodal sibling of text MinHash): every picture in the " +
        "fixture exists as up to four byte-DIFFERENT blobs — base BMP, " +
        "its 2x nearest upscale, the raster re-wrapped as PPM, and a " +
        "real deflate-compressed PNG — and the hash over the genuinely " +
        "DECODED rasters collapses all of them where any byte hash sees " +
        "unrelated files. Deterministic by construction: the 9x8 sample " +
        "grid, channel-sum gray (BGR/RGB-blind) and integer-division " +
        "resize mapping make the hash an exact integer function of the " +
        "pixel formula, so the oracle replays every 64-bit value " +
        "closed-form (sign bit via the two's-complement subtraction " +
        "trick — DuckDB refuses 1<<63) and the n_formats column proves " +
        "byte-distinct variants actually merged. Scale shape: per-row " +
        "decode kernel, then ONE map-side-combined aggregate on the " +
        "hash — image dedup costs the same as exact text dedup once " +
        "the hash column exists",
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
             |  FROM documents WHERE doc_id < 240),
             |g AS (SELECT doc_id, r, c,
             |    ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9))
             |      * 2654435761 % 1000000007) % 251
             |  + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 1)
             |      * 2654435761 % 1000000007) % 251
             |  + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 2)
             |      * 2654435761 % 1000000007) % 251
             |    AS gray
             |  FROM d, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS c)),
             |b0 AS (SELECT doc_id, r, c,
             |    CASE WHEN lead(gray) OVER (PARTITION BY doc_id, r ORDER BY c)
             |              > gray THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN r * 8 + c < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + c))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + c = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
             |  FROM b0 WHERE c < 8 GROUP BY doc_id),
             |corpus AS (
             |  SELECT doc_id AS img_id, doc_id AS base_id FROM d
             |  UNION ALL SELECT doc_id + 20000, doc_id FROM d WHERE doc_id % 3 = 0
             |  UNION ALL SELECT doc_id + 40000, doc_id FROM d WHERE doc_id % 4 = 0
             |  UNION ALL SELECT doc_id + 60000, doc_id FROM d WHERE doc_id % 5 = 0)
             |SELECT dhash, CAST(min(img_id) AS BIGINT) AS keep_id,
             |  count(*) AS n_images,
             |  CAST(count(DISTINCT img_id // 20000) AS BIGINT) AS n_formats
             |FROM corpus JOIN hx ON hx.doc_id = corpus.base_id
             |GROUP BY dhash
             |ORDER BY keep_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      // the engine never sees the base formula: every variant is real
      // bytes through the real encoders, and the hash is computed by the
      // real decode kernel — only the ORACLE replays the arithmetic
      val corpus = ids.select(col("doc_id").as("img_id"))
        .unionByName(ids.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 20000).as("img_id")))
        .unionByName(ids.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 40000).as("img_id")))
        .unionByName(ids.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 60000).as("img_id")))
      corpus
        .select(col("img_id"), Multimodal.dHash64Udf(
          Multimodal.imageVariantForDocUdf(col("img_id"))).as("dhash"))
        .groupBy("dhash")
        .agg(min("img_id").as("keep_id"),
          count(lit(1)).as("n_images"),
          countDistinct(expr("img_id div 20000")).as("n_formats"))
        .select(col("dhash"), col("keep_id"), col("n_images"),
          col("n_formats").cast("long").as("n_formats"))
        .orderBy("keep_id")
    },

    Q("q_image_neardup",
      "NEAR-duplicate image pairs — q_image_dedup finds re-encodes of " +
        "the SAME raster; this finds slightly-EDITED pictures (hamming " +
        "<= 3 over dHash64) via the pigeonhole prefilter now shared by " +
        "every fingerprint family (Dedup.hammingPairs, the simhashPairs " +
        "machinery generalized to precomputed hashes — unsigned-shift " +
        "chunking so the sign-bit-bearing dHash blocks correctly): 4 " +
        "chunks of 16 bits, hamming <= 3 implies >= 1 equal chunk, so " +
        "the block join is exact, never lossy. Fixture: hash-mixed " +
        "rasters (the gradient formula made HALF of all image pairs " +
        "near-dups — degenerate), every 2nd picture also appearing with " +
        "ONE sampled pixel overwritten (+80000 ids) — a real decoded-" +
        "pixel edit that flips at most hash bit 63 — and the oracle " +
        "replays the capped pigeonhole join closed-form (chunk " +
        "extraction + the >64 bucket exclusion, exactly the Spark " +
        "plan; no fixture bucket reaches the cap, so the pairs remain " +
        "the exhaustive brute-force ground truth — asserted by the " +
        "no-false-negative property battery). Scale shape: per-row " +
        "decode kernel, then the capped blocked self-join with " +
        "maxBucket=64 ENGAGED — on a real crawl monochrome thumbnails " +
        "and letterboxed frames make the all-zero dHash chunk a " +
        "mega-bucket (quadratic on one join key) the same way " +
        "boilerplate prefixes did for containment — never corpus x " +
        "corpus",
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
             |  FROM documents WHERE doc_id < 240),
             |g AS (SELECT doc_id, v, r, c,
             |    CASE WHEN v = 1 AND r = 7 AND c = 8 THEN 750 ELSE
             |      ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9))
             |        * 2654435761 % 1000000007) % 251
             |    + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 1)
             |        * 2654435761 % 1000000007) % 251
             |    + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 2)
             |        * 2654435761 % 1000000007) % 251
             |    END AS gray
             |  FROM d, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS c),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, r, c,
             |    CASE WHEN lead(gray) OVER (PARTITION BY doc_id, v, r ORDER BY c)
             |              > gray THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id, v,
             |    CAST(sum(CASE WHEN r * 8 + c < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + c))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + c = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
             |  FROM b0 WHERE c < 8 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS img_id, dhash FROM hx WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, dhash FROM hx
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT img_id, dhash, j, (dhash >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |cand AS (SELECT DISTINCT a.img_id AS a_id, b.img_id AS b_id,
             |    a.dhash AS a_h, b.dhash AS b_h
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.img_id < b.img_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(a_h, b_h)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a_h, b_h)) <= 3
             |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val corpus = ids.select(col("doc_id").as("img_id"))
        .unionByName(ids.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 80000).as("img_id")))
      val hashes = corpus.select(col("img_id"), Multimodal.dHash64Udf(
        Multimodal.nearImageForDocUdf(col("img_id"))).as("dhash"))
      graft.operators.Dedup.hammingPairs(hashes, "img_id", "dhash",
          bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_image_neardup_incremental",
      "INCREMENTAL perceptual near-dup — the continuous-ingest face of " +
        "q_image_neardup, closing the perceptual tier's index gap: the " +
        "corpus (240 base rasters) is decoded and chunk-indexed ONCE " +
        "(Dedup.hammingChunkIndex, the hamming analog of " +
        "minhashBandIndex — at 100 TB it persists partitioned by " +
        "chunk_idx), and the day's batch (the 120 single-pixel-edited " +
        "twins) mines hamming <= 3 pairs by joining new x (index UNION " +
        "batch) — new x corpus and new x new, NEVER corpus x corpus, so " +
        "per-batch cost is |batch| x bucket-mates, independent of " +
        "corpus size. maxBucket=64's population is the full post-batch " +
        "bucket, so a bucket the batch pushes over the cap drops from " +
        "both sides, matching a capped from-scratch run exactly " +
        "(ModulesSpec asserts increment == from-scratch restricted to " +
        "batch-involving pairs). Oracle: the full capped pigeonhole " +
        "join restricted to pairs touching a batch id — the from-" +
        "scratch equivalence IS the check",
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
             |  FROM documents WHERE doc_id < 240),
             |g AS (SELECT doc_id, v, r, c,
             |    CASE WHEN v = 1 AND r = 7 AND c = 8 THEN 750 ELSE
             |      ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9))
             |        * 2654435761 % 1000000007) % 251
             |    + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 1)
             |        * 2654435761 % 1000000007) % 251
             |    + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 2)
             |        * 2654435761 % 1000000007) % 251
             |    END AS gray
             |  FROM d, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS c),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, r, c,
             |    CASE WHEN lead(gray) OVER (PARTITION BY doc_id, v, r ORDER BY c)
             |              > gray THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id, v,
             |    CAST(sum(CASE WHEN r * 8 + c < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + c))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + c = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
             |  FROM b0 WHERE c < 8 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS img_id, dhash FROM hx WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, dhash FROM hx
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT img_id, dhash, j, (dhash >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |cand AS (SELECT DISTINCT a.img_id AS a_id, b.img_id AS b_id,
             |    a.dhash AS a_h, b.dhash AS b_h
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.img_id < b.img_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(a_h, b_h)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a_h, b_h)) <= 3
             |  AND (a_id >= 80000 OR b_id >= 80000)
             |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.{Dedup, Multimodal}
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      // the prebuilt corpus-side artifact: decode + hash + chunk ONCE
      val corpusIndex = Dedup.hammingChunkIndex(
        ids.select(col("doc_id").as("img_id"))
          .select(col("img_id"), Multimodal.dHash64Udf(
            Multimodal.nearImageForDocUdf(col("img_id"))).as("dhash")),
        "img_id", "dhash", bits = 64, chunks = 4)
      // the day's batch: only these rasters are decoded in this run
      val batch = ids.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 80000).as("img_id"))
        .select(col("img_id"), Multimodal.dHash64Udf(
          Multimodal.nearImageForDocUdf(col("img_id"))).as("dhash"))
      Dedup.hammingIncrementalPairs(batch, corpusIndex, "img_id", "dhash",
          bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_dedup_cap_audit",
      "The maxBucket DROP-AUDIT as a first-class query — the measure-" +
        "before-committing step for the pair-search cap, completing the " +
        "q_lsh_tuning/q_ivf_tuning discipline for the blocking dial: " +
        "per fingerprint chunk position, the bucket census (bucket " +
        "count, docs, largest bucket) plus EXACTLY what a cap of 64 " +
        "would drop — oversized-bucket count, docs dropped, and the " +
        "candidate pairs avoided (sum n(n-1)/2 over oversized buckets: " +
        "the quadratic shuffle rows that never happen). Fixture: the " +
        "240 hash-mixed rasters (healthy tier — nothing dropped) plus " +
        "80 genuinely decoded MONOCHROME thumbnails whose dHash is " +
        "exactly 0, forming the all-zero mega-bucket in every chunk " +
        "position — the audit shows ~3160 pairs avoided per chunk, " +
        "which is the evidence the engaged cap at the q_image_neardup " +
        "call sites rests on. Scale shape: one map-side-combined " +
        "census aggregate over the chunk index, bucket-sized output — " +
        "at 100 TB this runs over the persisted hammingChunkIndex " +
        "before any pair join is launched",
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
             |  FROM documents WHERE doc_id < 240),
             |g AS (SELECT doc_id, r, c,
             |    ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9))
             |      * 2654435761 % 1000000007) % 251
             |  + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 1)
             |      * 2654435761 % 1000000007) % 251
             |  + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 2)
             |      * 2654435761 % 1000000007) % 251
             |    AS gray
             |  FROM d, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS c)),
             |b0 AS (SELECT doc_id, r, c,
             |    CASE WHEN lead(gray) OVER (PARTITION BY doc_id, r ORDER BY c)
             |              > gray THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN r * 8 + c < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + c))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + c = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
             |  FROM b0 WHERE c < 8 GROUP BY doc_id),
             |corpus AS (
             |  SELECT doc_id AS img_id, dhash FROM hx
             |  UNION ALL
             |  SELECT doc_id + 100000, CAST(0 AS BIGINT) FROM documents
             |  WHERE doc_id < 80),
             |ch AS (SELECT img_id, j, (dhash >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |bk AS (SELECT j, cv, count(*) AS n FROM ch GROUP BY j, cv)
             |SELECT CAST(j AS BIGINT) AS chunk_idx,
             |  count(*) AS n_buckets,
             |  CAST(sum(n) AS BIGINT) AS n_docs,
             |  CAST(max(n) AS BIGINT) AS max_bucket,
             |  CAST(sum(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_oversized,
             |  CAST(coalesce(sum(CASE WHEN n > 64 THEN n END), 0) AS BIGINT)
             |    AS n_docs_dropped,
             |  CAST(coalesce(sum(CASE WHEN n > 64 THEN n * (n - 1) // 2 END), 0)
             |    AS BIGINT) AS pairs_avoided
             |FROM bk GROUP BY j
             |ORDER BY chunk_idx""".stripMargin)) { (s, dir) =>
      import graft.operators.{Dedup, Multimodal}
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val fps = ids.select(col("doc_id").as("img_id"), Multimodal.dHash64Udf(
          Multimodal.nearImageForDocUdf(col("doc_id"))).as("dhash"))
        .unionByName(documents(s, dir).filter(col("doc_id") < 80)
          .select((col("doc_id") + 100000).as("img_id"), Multimodal.dHash64Udf(
            Multimodal.monoImageForDocUdf(col("doc_id"))).as("dhash")))
      val cap = 64
      Dedup.hammingChunkIndex(fps, "img_id", "dhash", bits = 64, chunks = 4)
        .groupBy(col("chunk_idx"), col("chunk_val"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("chunk_idx").cast("long").as("chunk_idx"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("n")).cast("long").as("n_docs"),
          max(col("n")).cast("long").as("max_bucket"),
          sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_oversized"),
          coalesce(sum(when(col("n") > cap, col("n"))), lit(0L))
            .cast("long").as("n_docs_dropped"),
          // integer `div`, not `/`: Column divide is a double, and for
          // the ~1e8-row mega-buckets this audit exists to measure,
          // n*(n-1) exceeds 2^53 and a double silently rounds — the
          // DuckDB oracle's // is exact, so the engine must be too
          coalesce(sum(when(col("n") > cap,
              expr("n * (n - 1) div 2"))), lit(0L))
            .cast("long").as("pairs_avoided"))
        .orderBy("chunk_idx")
    },

    Q("q_dedup_cap_recall",
      "TRUE-PAIR RECALL under the maxBucket cap, and the salvage tier " +
        "that closes the loss — q_dedup_cap_audit counts the pairs the " +
        "cap AVOIDS (cost); this measures the genuine near-dup pairs it " +
        "LOSES (recall) and proves the recovery path: the fixture " +
        "plants 100 genuinely decoded monochrome thumbnails (dHash " +
        "exactly 0 — every chunk bucket a mega-bucket) plus 40 " +
        "single-bright-pixel EDITS whose decoded hash is exactly one " +
        "bit (hamming 1 from every mono, hamming <= 2 from each other " +
        "— real twins living INSIDE the mega-bucket, where pigeonhole " +
        "redundancy cannot save them: every shared chunk is oversized). " +
        "The plain cap finds only the 80 same-bit edit pairs (their " +
        "set-bit buckets are small) and SILENTLY loses all 8950 " +
        "mono-involving true pairs. The salvage tier " +
        "(Dedup.hammingSalvageEdges) collapses each mega-bucket into " +
        "identical-fingerprint groups — STAR edges to the group rep " +
        "(n-1 rows, not n(n-1)/2) plus hamming-verified REP pairs " +
        "bounded by maxReps=16 distinct fingerprints per bucket — and " +
        "connectivity recall (what clusters/dropNearDuplicates consume) " +
        "returns to 100%. Connectivity is measured by a FIXED 3-hop " +
        "reachability join, which is EXACT here by construction: every " +
        "true pair shares >= 1 chunk bucket (pigeonhole), a small " +
        "bucket links it in 1 hop (the capped pair), an oversized one " +
        "in <= 3 (star - rep pair - star) whenever its fingerprint " +
        "diversity fits maxReps — so no iterative propagation runs in " +
        "the gate (a first draft ran Dedup.clusters on both graphs and " +
        "paid 10.5 s of per-round job overhead for the same numbers; " +
        "the clusters-equivalence itself is the ModulesSpec randomized " +
        "battery's job). Oracle replays fingerprints closed-form and " +
        "mirrors cap + salvage + the 3-hop closure exactly",
      Some("""WITH corpus AS (
             |  SELECT doc_id + 100000 AS id, CAST(0 AS BIGINT) AS fp
             |  FROM documents WHERE doc_id < 100
             |  UNION ALL
             |  SELECT doc_id + 200000,
             |    CASE WHEN doc_id % 8 = 7 THEN (-9223372036854775807 - 1)
             |         ELSE (1::BIGINT << CAST((doc_id % 8) * 8 + 7 AS INT))
             |    END
             |  FROM documents WHERE doc_id < 40),
             |tp AS (SELECT a.id AS a_id, b.id AS b_id
             |  FROM corpus a JOIN corpus b ON a.id < b.id
             |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
             |ch AS (SELECT id, fp, j, (fp >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |capped AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.id < b.id
             |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
             |mega AS (SELECT ch.* FROM ch WHERE EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |grp AS (SELECT j, cv, fp, min(id) AS rep
             |  FROM mega GROUP BY j, cv, fp),
             |stars AS (SELECT DISTINCT least(m.id, g.rep) AS a_id,
             |    greatest(m.id, g.rep) AS b_id
             |  FROM mega m JOIN grp g
             |    ON m.j = g.j AND m.cv = g.cv AND m.fp = g.fp
             |  WHERE m.id <> g.rep),
             |pairable AS (SELECT j, cv FROM grp GROUP BY j, cv
             |  HAVING count(*) <= 16),
             |reppairs AS (SELECT DISTINCT a.rep AS a_id, b.rep AS b_id
             |  FROM grp a JOIN grp b
             |    ON a.j = b.j AND a.cv = b.cv AND a.rep < b.rep
             |  WHERE EXISTS (SELECT 1 FROM pairable p
             |                WHERE p.j = a.j AND p.cv = a.cv)
             |    AND bit_count(xor(a.fp, b.fp)) <= 3),
             |salv AS (SELECT a_id, b_id FROM capped
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
      import graft.operators.{Dedup, Multimodal}
      val docs = documents(s, dir)
      // the engine never sees the closed forms: monos and edits are real
      // bytes through the real PPM writer, hashed by the real decode
      // kernel — only the ORACLE replays fp=0 and fp=1<<(r*8+7)
      // recall leg (graft.plans.Shared): one chunk index feeds every leg
      val index = Dedup.hammingChunkIndex(
        docs.filter(col("doc_id") < 100)
          .select((col("doc_id") + 100000).as("id"),
            Multimodal.dHash64Udf(
              Multimodal.monoImageForDocUdf(col("doc_id"))).as("fp"))
          .unionByName(docs.filter(col("doc_id") < 40)
            .select((col("doc_id") + 200000).as("id"),
              Multimodal.dHash64Udf(
                Multimodal.monoEditImageForDocUdf(col("doc_id"))).as("fp"))),
        "id", "fp", bits = 64, chunks = 4).localCheckpoint(true)
      // ground truth: the UNCAPPED pigeonhole join (exhaustive for
      // hamming <= 3 at 4 chunks) — affordable here because the fixture
      // is small; at 100 TB this is exactly the join you cannot run,
      // which is why the recall number matters. Each pair frame is a
      // recall leg too (a fused single-job variant measured ~1.6x slower)
      val truePairs = Dedup.hammingPairsFromIndex(index, maxHamming = 3)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val capped = Dedup.hammingPairsFromIndex(index, maxHamming = 3,
          maxBucket = 64)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val salvageEdges = Dedup.hammingSalvageEdges(index, maxHamming = 3,
          maxBucket = 64, maxReps = 16)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      // the EXACT fixed-depth closure (see docstring: <= 3 hops covers
      // every recoverable true pair by construction, so no iterative
      // propagation belongs in this plan); the closure side is KB-sized
      // (<= |V|² = 19 600)
      recallReport(truePairs, capped, salvageEdges)
    },

    Q("q_dedup_lsh_recall",
      "TRUE-PAIR RECALL under the band-bucket cap for the MINHASH " +
        "family — q_dedup_cap_recall's discipline carried from the " +
        "hamming tier to text LSH, where it is genuinely harder: " +
        "identical fingerprints guarantee a pair, identical MinHash " +
        "signatures only make one likely, so every salvage edge is " +
        "exact-Jaccard VERIFIED (Dedup.minhashSalvageVerifiedPairs: " +
        "verified stars to each oversized bucket's per-signature rep, " +
        "n-1 verifications not n(n-1)/2, plus verified rep pairs " +
        "bounded by maxReps=64 signatures per bucket) and there is NO " +
        "exactness theorem — a variant whose every band moved off the " +
        "boilerplate's keys is invisible to both the capped and the " +
        "salvage face, which is exactly what this query MEASURES " +
        "instead of assuming. Fixture: 100 identical license headers " +
        "(every band bucket a mega-bucket at cap 64) + 40 one-word-" +
        "appended variants (jaccard ~0.86 to the header, ~0.72 to " +
        "each other, all >= the 0.6 threshold); the plain cap finds " +
        "almost nothing, the salvage tier recovers the boilerplate " +
        "mass, and connectivity is counted within the construction's " +
        "3-hop radius (star - rep pair - star). Oracle replays " +
        "shingles, signatures, banding, cap, salvage and closure " +
        "closed-form from the same text",
      Some(s"""WITH corpus AS (
              |  SELECT doc_id + 100000 AS id,
              |    'this software is provided as is without warranty of any '
              |    || 'kind express or implied including fitness for a '
              |    || 'particular purpose and noninfringement' AS text
              |  FROM documents WHERE doc_id < 100
              |  UNION ALL
              |  SELECT doc_id + 200000,
              |    'this software is provided as is without warranty of any '
              |    || 'kind express or implied including fitness for a '
              |    || 'particular purpose and noninfringement zz'
              |    || CAST(doc_id AS VARCHAR)
              |  FROM documents WHERE doc_id < 40),
              |hs AS (SELECT id, ${text.shingleHashes(D, "text", 3)} AS hs
              |       FROM corpus),
              |tp AS (SELECT a.id AS a_id, b.id AS b_id
              |  FROM hs a JOIN hs b ON a.id < b.id
              |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.6),
              |sig AS (SELECT id, hs,
              |    ${text.minhashFromHashes(D, "hs", 16)} AS sig
              |  FROM hs),
              |bands AS (SELECT id, hs, sig, j,
              |    ${D.arrayJoin(D.slice("sig", "4*j + 1", "4"), "_")} AS bk
              |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS j)),
              |big AS (SELECT j, bk FROM bands GROUP BY j, bk
              |  HAVING count(*) > 64),
              |small AS (SELECT * FROM bands WHERE NOT EXISTS (
              |  SELECT 1 FROM big WHERE big.j = bands.j AND big.bk = bands.bk)),
              |capped AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
              |  FROM small a JOIN small b
              |    ON a.j = b.j AND a.bk = b.bk AND a.id < b.id
              |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.hs, b.hs))) >= 0.6),
              |mega AS (SELECT bands.* FROM bands WHERE EXISTS (
              |  SELECT 1 FROM big WHERE big.j = bands.j AND big.bk = bands.bk)),
              |grp AS (SELECT j, bk, sig, min(id) AS rep,
              |    arg_min(hs, id) AS rep_hs
              |  FROM mega GROUP BY j, bk, sig),
              |stars AS (SELECT DISTINCT least(m.id, g.rep) AS a_id,
              |    greatest(m.id, g.rep) AS b_id
              |  FROM mega m JOIN grp g
              |    ON m.j = g.j AND m.bk = g.bk AND m.sig = g.sig
              |  WHERE m.id <> g.rep
              |    AND CAST(len(list_intersect(m.hs, g.rep_hs)) AS DOUBLE)
              |      / len(list_distinct(list_concat(m.hs, g.rep_hs))) >= 0.6),
              |pairable AS (SELECT j, bk FROM grp GROUP BY j, bk
              |  HAVING count(*) <= 64),
              |reppairs AS (SELECT DISTINCT a.rep AS a_id, b.rep AS b_id
              |  FROM grp a JOIN grp b
              |    ON a.j = b.j AND a.bk = b.bk AND a.rep < b.rep
              |  WHERE EXISTS (SELECT 1 FROM pairable p
              |                WHERE p.j = a.j AND p.bk = a.bk)
              |    AND CAST(len(list_intersect(a.rep_hs, b.rep_hs)) AS DOUBLE)
              |      / len(list_distinct(list_concat(a.rep_hs, b.rep_hs))) >= 0.6),
              |salv AS (SELECT a_id, b_id FROM capped
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
      import graft.operators.Dedup
      val boiler = "this software is provided as is without warranty of " +
        "any kind express or implied including fitness for a particular " +
        "purpose and noninfringement"
      val docs = documents(s, dir)
      val corpus = docs.filter(col("doc_id") < 100)
        .select((col("doc_id") + 100000).as("id"), lit(boiler).as("text"))
        .unionByName(docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 200000).as("id"),
            concat(lit(boiler + " zz"), col("doc_id").cast("string"))
              .as("text")))
      // recall leg (graft.plans.Shared): one signature pass feeds every leg
      val sigs = Dedup.minhashSignatures(corpus, "id", "text",
        k = 16, shingleN = 3).localCheckpoint(true)
      // ground truth: exact Jaccard over ALL pairs (one constant block —
      // affordable on the planted fixture, the join you cannot run at
      // 100 TB, which is why the recall number matters); each pair leg
      // checkpoints eagerly over the signature leaf
      val truePairs = Dedup.pairJoin(
          sigs.select(col("id"), col("hs"), lit(1).as("blk")), Seq("blk"))
        .filter(size(array_intersect(col("a_hs"), col("b_hs")))
          .cast("double") /
          size(array_union(col("a_hs"), col("b_hs"))) >= 0.6)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val capped = Dedup.minhashLshVerifiedPairsFromSignatures(sigs,
          k = 16, bands = 4, threshold = 0.6, maxBucket = 64)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val salvageEdges = Dedup.minhashSalvageVerifiedPairs(sigs,
          k = 16, bands = 4, threshold = 0.6, maxBucket = 64, maxReps = 64)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      // the same 3-hop closure as q_dedup_cap_recall — here a MEASURE of
      // the construction's radius, not a theorem
      recallReport(truePairs, capped, salvageEdges)
    },

    Q("q_dedup_apply_salvaged",
      "The salvage tier wired into the operator users actually run — " +
        "capped pairs ∪ salvage edges → Dedup.clusters → survivors: the " +
        "recall trilogy MEASURES what the cap loses and salvage " +
        "recovers; this query proves the recovered connectivity reaches " +
        "the dedup verdict end-to-end. Fixture: 50 healthy docs with " +
        "well-spread hash fingerprints (singletons — nothing may " +
        "disturb them), 100 genuinely decoded monochrome thumbnails " +
        "(dHash exactly 0, every chunk bucket a mega-bucket at cap 64) " +
        "and 40 single-bright-pixel edits one bit away — the " +
        "q_dedup_cap_recall corpus. Under the plain cap the verdict is " +
        "WRONG: 100 mono singletons + 8 five-member edit clusters " +
        "survive separately; with salvage edges unioned in, min-label " +
        "propagation folds all 140 into ONE cluster with one survivor. " +
        "Output: one row per cluster (survivor = min id, the " +
        "q_dedup_apply policy, + member count) — 50 healthy singletons " +
        "and the 140-member salvaged component. Oracle replays " +
        "fingerprints closed-form, mirrors cap + salvage exactly as " +
        "q_dedup_cap_recall, then runs the WITH RECURSIVE closure of " +
        "q_dedup_clusters over the union",
      Some("""WITH RECURSIVE corpus AS (
             |  SELECT doc_id AS id,
             |    (doc_id + 11) * 2654435761 % 1000000007 AS fp
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 100000, CAST(0 AS BIGINT)
             |  FROM documents WHERE doc_id < 100
             |  UNION ALL
             |  SELECT doc_id + 200000,
             |    CASE WHEN doc_id % 8 = 7 THEN (-9223372036854775807 - 1)
             |         ELSE (1::BIGINT << CAST((doc_id % 8) * 8 + 7 AS INT))
             |    END
             |  FROM documents WHERE doc_id < 40),
             |ch AS (SELECT id, fp, j, (fp >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |capped AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.id < b.id
             |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
             |mega AS (SELECT ch.* FROM ch WHERE EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |grp AS (SELECT j, cv, fp, min(id) AS rep
             |  FROM mega GROUP BY j, cv, fp),
             |stars AS (SELECT DISTINCT least(m.id, g.rep) AS a_id,
             |    greatest(m.id, g.rep) AS b_id
             |  FROM mega m JOIN grp g
             |    ON m.j = g.j AND m.cv = g.cv AND m.fp = g.fp
             |  WHERE m.id <> g.rep),
             |pairable AS (SELECT j, cv FROM grp GROUP BY j, cv
             |  HAVING count(*) <= 16),
             |reppairs AS (SELECT DISTINCT a.rep AS a_id, b.rep AS b_id
             |  FROM grp a JOIN grp b
             |    ON a.j = b.j AND a.cv = b.cv AND a.rep < b.rep
             |  WHERE EXISTS (SELECT 1 FROM pairable p
             |                WHERE p.j = a.j AND p.cv = a.cv)
             |    AND bit_count(xor(a.fp, b.fp)) <= 3),
             |salv AS (SELECT a_id, b_id FROM capped
             |  UNION SELECT a_id, b_id FROM stars
             |  UNION SELECT a_id, b_id FROM reppairs),
             |edges AS (SELECT a_id AS src, b_id AS dst FROM salv
             |  UNION SELECT b_id, a_id FROM salv),
             |reach(id, r) AS (
             |  SELECT id, id FROM corpus
             |  UNION
             |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
             |SELECT cluster AS survivor_id,
             |  CAST(count(*) AS BIGINT) AS n_members
             |FROM comp GROUP BY cluster
             |ORDER BY survivor_id""".stripMargin)) { (s, dir) =>
      import graft.operators.{Dedup, Multimodal}
      val docs = documents(s, dir)
      // healthy fingerprints are a pure hash-mix expression (this query
      // pins the pairs→clusters→survivor PLUMBING; the decode path is
      // pinned by q_image_neardup and the recall trilogy); the mono and
      // edit tiers walk the REAL decode, and only the oracle replays
      // their closed forms — the q_dedup_cap_recall contract
      val fps = docs.filter(col("doc_id") < 50)
        .select(col("doc_id").as("id"),
          expr("(doc_id + 11) * 2654435761 % 1000000007").as("fp"))
        .unionByName(docs.filter(col("doc_id") < 100)
          .select((col("doc_id") + 100000).as("id"),
            Multimodal.dHash64Udf(
              Multimodal.monoImageForDocUdf(col("doc_id"))).as("fp")))
        .unionByName(docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 200000).as("id"),
            Multimodal.dHash64Udf(
              Multimodal.monoEditImageForDocUdf(col("doc_id"))).as("fp")))
        // driver-side reader (graft.plans.Shared): Dedup.clusters' label
        // loop reads fps and the index below
        .localCheckpoint(true)
      val index = Dedup.hammingChunkIndex(fps, "id", "fp",
        bits = 64, chunks = 4).localCheckpoint(true)
      val pairs = Dedup.hammingPairsFromIndex(index, maxHamming = 3,
          maxBucket = 64)
        .select(col("a_id"), col("b_id"))
        .unionByName(Dedup.hammingSalvageEdges(index, maxHamming = 3,
            maxBucket = 64, maxReps = 16)
          .select(col("a_id"), col("b_id")))
        .distinct()
      Dedup.clusters(fps.select(col("id")), "id", pairs)
        .filter(col("id") === col("cluster"))
        .select(col("cluster").as("survivor_id"), col("n_members"))
        .orderBy("survivor_id")
    },

    Q("q_crossmodal_match",
      "Cross-modal retrieval (the LAION/CLIP-style caption-to-image " +
        "matcher, machinery-real / encoders-stubbed): captions and " +
        "images meet through DUAL ENCODERS — text side = token hashes, " +
        "image side = a 16-bucket channel-sum gray histogram over the " +
        "genuinely decoded raster — and similarity is the exact-integer " +
        "dot product folded as one pass over the caption's tokens " +
        "indexing the image vector (no histogram materialization on the " +
        "text side at all). Top-3 images per caption. The REAL encoder " +
        "is an external model (DEVIATIONS #1, same stance as " +
        "q_embed_stub); what this pins is the retrieval machinery a " +
        "100 TB pairing run needs: image vectors are encoder-output-" +
        "sized and BROADCAST (never the rasters), the dot product is " +
        "scan-side arithmetic, and the per-caption top-k is a window " +
        "partitioned by caption. Oracle replays both encoders " +
        "closed-form from the pixel/token formulas",
      Some(s"""WITH cap AS (SELECT doc_id, ${text.tokenHashes(D, "text")} AS th
              |  FROM documents WHERE doc_id < 50),
              |img AS (SELECT doc_id AS img_id, 8 + doc_id % 5 AS w,
              |    8 + doc_id % 3 AS h
              |  FROM documents WHERE doc_id < 60),
              |ivj AS (SELECT img_id, j,
              |    list_sum(list_transform(
              |      list_filter(generate_series(0, w * h - 1), p -> p % 16 = j),
              |      p -> ((img_id + 3 * p) * 2654435761 % 1000000007) % 251
              |         + ((img_id + 3 * p + 1) * 2654435761 % 1000000007) % 251
              |         + ((img_id + 3 * p + 2) * 2654435761 % 1000000007) % 251))
              |      AS v
              |  FROM img, (SELECT unnest(generate_series(0, 15)) AS j)),
              |ivarr AS (SELECT img_id, list(coalesce(v, 0) ORDER BY j) AS iv
              |  FROM ivj GROUP BY img_id),
              |sims AS (SELECT c.doc_id, i.img_id,
              |    CAST(coalesce(list_sum(list_transform(c.th,
              |      t -> i.iv[CAST(t % 16 AS INT) + 1])), 0) AS BIGINT) AS sim
              |  FROM cap c CROSS JOIN ivarr i),
              |r AS (SELECT doc_id, img_id, sim,
              |    row_number() OVER (PARTITION BY doc_id
              |                       ORDER BY sim DESC, img_id) AS rnk
              |  FROM sims)
              |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, img_id, sim
              |FROM r WHERE rnk <= 3
              |ORDER BY doc_id, rnk""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val caps = documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), expr(text.tokenHashes(S, "text")).as("th"))
      // image vectors through the REAL decode path (nearImageForDoc's
      // unperturbed tier is the hash-mixed BMP writer); 60 16-long vectors
      // broadcast — the raster bytes never cross an exchange
      val imgs = documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id").as("img_id"),
          Multimodal.imageGrayBucketsUdf(
            Multimodal.nearImageForDocUdf(col("doc_id")), lit(16)).as("iv"))
      val w = Window.partitionBy("doc_id").orderBy(desc("sim"), col("img_id"))
      caps.crossJoin(broadcast(imgs))
        // coalesce mirrors the oracle's coalesce(list_sum(...), 0):
        // aggregate() over a NULL token array is NULL, so a null-text
        // caption would otherwise diverge (NULL vs 0 sim)
        .withColumn("sim", coalesce(expr(
          "aggregate(th, CAST(0 AS BIGINT), " +
            "(acc, t) -> acc + element_at(iv, CAST(t % 16 AS INT) + 1))"),
          lit(0L)))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("img_id"), col("sim"))
        .orderBy("doc_id", "rnk")
    },

    Q("q_crossmodal_ann",
      "ANN-ROUTED cross-modal retrieval — q_crossmodal_match rebuilt " +
        "the way a real pairing run must ship: at 100 TB the image-" +
        "vector side outgrows broadcast, so the image vectors live in " +
        "an IVF store (ivfFit over the encoder outputs, persisted " +
        "PARTITIONED BY list_id) and each caption probes only its " +
        "nProbe=4 of 8 best lists by query-centroid dot product — a " +
        "partition-pruned read of half the lists instead of every " +
        "caption scanning every image. The caption's query vector is " +
        "its token-bucket histogram (sim = sum over tokens of " +
        "iv[t%16] = capVec . iv EXACTLY, so the dot-product routing " +
        "ranks the same score the exact path computes). KMeans routing " +
        "is engine-specific, so the sketch pattern applies " +
        "(q_ivf_topk's): output is the EXACT per-caption top-3 plus " +
        "recall_ok = the routed path recovered >= 2 of the true top-3 " +
        "for that caption. TRIAGE: recall_ok=false on new data means " +
        "probe width vs list granularity, not an engine bug",
      Some(s"""WITH cap AS (SELECT doc_id, ${text.tokenHashes(D, "text")} AS th
              |  FROM documents WHERE doc_id < 50),
              |img AS (SELECT doc_id AS img_id, 8 + doc_id % 5 AS w,
              |    8 + doc_id % 3 AS h
              |  FROM documents WHERE doc_id < 60),
              |ivj AS (SELECT img_id, j,
              |    list_sum(list_transform(
              |      list_filter(generate_series(0, w * h - 1), p -> p % 16 = j),
              |      p -> ((img_id + 3 * p) * 2654435761 % 1000000007) % 251
              |         + ((img_id + 3 * p + 1) * 2654435761 % 1000000007) % 251
              |         + ((img_id + 3 * p + 2) * 2654435761 % 1000000007) % 251))
              |      AS v
              |  FROM img, (SELECT unnest(generate_series(0, 15)) AS j)),
              |ivarr AS (SELECT img_id, list(coalesce(v, 0) ORDER BY j) AS iv
              |  FROM ivj GROUP BY img_id),
              |sims AS (SELECT c.doc_id, i.img_id,
              |    CAST(coalesce(list_sum(list_transform(c.th,
              |      t -> i.iv[CAST(t % 16 AS INT) + 1])), 0) AS BIGINT) AS sim
              |  FROM cap c CROSS JOIN ivarr i),
              |r AS (SELECT doc_id, img_id, sim,
              |    row_number() OVER (PARTITION BY doc_id
              |                       ORDER BY sim DESC, img_id) AS rnk
              |  FROM sims)
              |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, img_id, sim,
              |  TRUE AS recall_ok
              |FROM r WHERE rnk <= 3
              |ORDER BY doc_id, rnk""".stripMargin)) { (s, dir) =>
      import graft.operators.{AnnIndex, Multimodal}
      val caps = documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), expr(text.tokenHashes(S, "text")).as("th"))
        // the caption's query vector: token-bucket histogram, the exact
        // linear form of the token-indexed sim (sum_t iv[t%16] = cv . iv).
        // coalesce per bucket: a null-text caption (th NULL) must yield
        // the zero vector, not an array of NULLs that kills vectors.dot —
        // the same latent-null class the sim coalesce guards
        .withColumn("cv", expr(
          "transform(sequence(0, 15), j -> " +
            "coalesce(CAST(size(filter(th, t -> t % 16 = j)) AS DOUBLE)," +
            " CAST(0 AS DOUBLE)))"))
      // driver-side reader (graft.plans.Shared): ivfFit reads imgs too
      val imgs = documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id").as("img_id"),
          Multimodal.imageGrayBucketsUdf(
            Multimodal.nearImageForDocUdf(col("doc_id")), lit(16)).as("iv"))
        .withColumn("ivd", col("iv").cast("array<double>"))
        .localCheckpoint(true)
      // the IVF store over the image-vector side: fit + assign once; at
      // scale this persists partitioned by list_id and a probe is a
      // partition-pruned read (AnnIndex.ivfStore), never a broadcast of
      // the image side
      val model = AnnIndex.ivfFit(imgs, "ivd", nLists = 8)
      val assigned = AnnIndex.ivfAssign(model, imgs, "ivd")
        .select(col("img_id"), col("iv"), col("list_id"))
      val cents = AnnIndex.centroidFrame(s, model)
      // MIPS routing: the score is linear in the image vector, so the
      // best lists for a caption are the centroids maximizing cv . c
      val wRoute = Window.partitionBy("doc_id")
        .orderBy(desc("route"), col("list_id"))
      val probes = caps.crossJoin(broadcast(cents))
        .withColumn("route", vectors.dot(col("cv"), col("centroid")))
        .withColumn("prnk", row_number().over(wRoute))
        .filter(col("prnk") <= 4)
        .select(col("doc_id"), col("th"), col("list_id"))
      val simExpr = coalesce(expr(
        "aggregate(th, CAST(0 AS BIGINT), " +
          "(acc, t) -> acc + element_at(iv, CAST(t % 16 AS INT) + 1))"),
        lit(0L))
      val wTop = Window.partitionBy("doc_id").orderBy(desc("sim"), col("img_id"))
      // the routed page: probe rows broadcast, the store joins on its
      // partition key — only probed lists' images are scored
      val annTop = assigned.join(broadcast(probes), "list_id")
        .withColumn("sim", simExpr)
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("img_id"), lit(1L).as("hit"))
      // exact baseline (the gate's replayable half, as in q_ivf_topk)
      val exact = caps.select(col("doc_id"), col("th"))
        .crossJoin(broadcast(imgs.select(col("img_id"), col("iv"))))
        .withColumn("sim", simExpr)
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
      exact.join(broadcast(annTop), Seq("doc_id", "img_id"), "left")
        .withColumn("nhit",
          sum(coalesce(col("hit"), lit(0L)))
            .over(Window.partitionBy("doc_id")))
        // a tokenless caption has the zero query vector: every image ties
        // at sim 0 and "recall" is meaningless — vacuously true, matching
        // the oracle's constant, instead of failing on an arbitrary tie
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("img_id"), col("sim"),
          (col("nhit") >= 2 || coalesce(size(col("th")), lit(0)) === 0)
            .as("recall_ok"))
        .orderBy("doc_id", "rnk")
    },

    Q("q_crossmodal_ann_cos",
      "ANN-routed cross-modal retrieval under a NON-LINEAR score — " +
        "q_crossmodal_ann's centroid routing is exact because its " +
        "token-indexed sim is linear in the image vector; real " +
        "CLIP-style retrieval ranks by COSINE, where centroid routing " +
        "is genuinely approximate. Same machinery (image vectors in " +
        "the IVF store, partition-pruned probes, never a broadcast of " +
        "the image side at scale), but captions rank lists by " +
        "cos(cv, centroid) and images by cos(cv, iv) — norms staged " +
        "per row so each pair costs one dot product. All sums are " +
        "exact-integer-in-double and both engines evaluate the " +
        "identical IEEE expression tree, so the cosine DOUBLES are " +
        "bit-equal and the x10000 fixed-point ships hash-exact. " +
        "Lists are SPHERICAL (fit + assign on L2-normalized vectors — " +
        "direction is what cosine ranks; raw-vector lists measured " +
        "8/50 captions under recall at the same probe width) and the " +
        "probe page is nProbe=5 of 8: one list wider than the linear " +
        "sibling, because centroids here depend on the KMeans fit and " +
        "a marginal caption flipped across input partitionings at " +
        "nProbe=4. Output: the EXACT per-caption top-3 plus recall_ok " +
        "= the cosine-routed page recovered >= 2 of the true top-3 " +
        "(the q_ivf_tuning measured-recall discipline; TRIAGE: " +
        "recall_ok=false on new data means probe width vs list " +
        "granularity, not an engine bug)",
      Some(s"""WITH cap AS (SELECT doc_id, ${text.tokenHashes(D, "text")} AS th
              |  FROM documents WHERE doc_id < 50),
              |cvv AS (SELECT doc_id,
              |    list_transform(generate_series(0, 15), j ->
              |      CAST(coalesce(len(list_filter(th, t -> t % 16 = j)), 0)
              |        AS DOUBLE)) AS cv
              |  FROM cap),
              |img AS (SELECT doc_id AS img_id, 8 + doc_id % 5 AS w,
              |    8 + doc_id % 3 AS h
              |  FROM documents WHERE doc_id < 60),
              |ivj AS (SELECT img_id, j,
              |    list_sum(list_transform(
              |      list_filter(generate_series(0, w * h - 1), p -> p % 16 = j),
              |      p -> ((img_id + 3 * p) * 2654435761 % 1000000007) % 251
              |         + ((img_id + 3 * p + 1) * 2654435761 % 1000000007) % 251
              |         + ((img_id + 3 * p + 2) * 2654435761 % 1000000007) % 251))
              |      AS v
              |  FROM img, (SELECT unnest(generate_series(0, 15)) AS j)),
              |ivarr AS (SELECT img_id, list(coalesce(v, 0) ORDER BY j) AS iv
              |  FROM ivj GROUP BY img_id),
              |sims AS (SELECT c.doc_id, i.img_id,
              |    list_sum(list_transform(generate_series(1, 16),
              |      k -> c.cv[k] * CAST(i.iv[k] AS DOUBLE))) AS dt,
              |    sqrt(list_sum(list_transform(generate_series(1, 16),
              |      k -> c.cv[k] * c.cv[k]))) AS cn,
              |    sqrt(list_sum(list_transform(generate_series(1, 16),
              |      k -> CAST(i.iv[k] AS DOUBLE) * CAST(i.iv[k] AS DOUBLE))))
              |      AS inm
              |  FROM cvv c CROSS JOIN ivarr i),
              |sc AS (SELECT doc_id, img_id,
              |    CASE WHEN cn = 0 OR inm = 0 THEN 0.0
              |         ELSE dt / (cn * inm) END AS cos
              |  FROM sims),
              |r AS (SELECT doc_id, img_id, cos,
              |    row_number() OVER (PARTITION BY doc_id
              |                       ORDER BY cos DESC, img_id) AS rnk
              |  FROM sc)
              |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, img_id,
              |  ${text.fixedPoint("cos", 4)} AS cos_x10000,
              |  TRUE AS recall_ok
              |FROM r WHERE rnk <= 3
              |ORDER BY doc_id, rnk""".stripMargin)) { (s, dir) =>
      import graft.operators.{AnnIndex, Multimodal}
      val caps = documents(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), expr(text.tokenHashes(S, "text")).as("th"))
        // per-bucket coalesce: a null-text caption must yield the zero
        // vector (the q_crossmodal_ann latent-null guard)
        .withColumn("cv", expr(
          "transform(sequence(0, 15), j -> " +
            "coalesce(CAST(size(filter(th, t -> t % 16 = j)) AS DOUBLE)," +
            " CAST(0 AS DOUBLE)))"))
        .withColumn("cnorm", vectors.l2Norm(col("cv")))
        .select(col("doc_id"), col("cv"), col("cnorm"))
      val imgs = documents(s, dir).filter(col("doc_id") < 60)
        .select(col("doc_id").as("img_id"),
          Multimodal.imageGrayBucketsUdf(
            Multimodal.nearImageForDocUdf(col("doc_id")), lit(16)).as("iv"))
        .withColumn("ivd", col("iv").cast("array<double>"))
        .withColumn("inorm", vectors.l2Norm(col("ivd")))
        // the spherical-IVF recipe: for a cosine score, fit and assign on
        // the L2-NORMALIZED vectors (direction is what cosine ranks;
        // norm-skewed lists mis-route — measured 8/50 captions under
        // recall with raw-vector lists at the same probe width)
        .withColumn("ivn",
          expr("transform(ivd, x -> x / greatest(inorm, 1e-12d))"))
        .select(col("img_id"), col("ivd"), col("inorm"), col("ivn"))
        // driver-side reader (graft.plans.Shared): ivfFit reads imgs too
        .localCheckpoint(true)
      val model = AnnIndex.ivfFit(imgs, "ivn", nLists = 8)
      val assigned = AnnIndex.ivfAssign(model, imgs, "ivn")
        .select(col("img_id"), col("ivd"), col("inorm"), col("list_id"))
      val cents = AnnIndex.centroidFrame(s, model)
      // cosine routing: rank lists by cos(cv, centroid); |cv| is constant
      // within a caption, so the ranking needs only dot / |centroid| —
      // genuinely approximate for the cosine score, hence the recall pin
      val wRoute = Window.partitionBy("doc_id")
        .orderBy(desc("route"), col("list_id"))
      val probes = caps.crossJoin(broadcast(cents))
        .withColumn("route",
          vectors.dot(col("cv"), col("centroid")) /
            greatest(vectors.l2Norm(col("centroid")), lit(1e-12)))
        .withColumn("prnk", row_number().over(wRoute))
        .filter(col("prnk") <= 5)
        .select(col("doc_id"), col("cv"), col("cnorm"), col("list_id"))
      val cosCol = when(col("cnorm") === 0.0 || col("inorm") === 0.0, lit(0.0))
        .otherwise(vectors.dot(col("cv"), col("ivd")) /
          (col("cnorm") * col("inorm")))
      val wTop = Window.partitionBy("doc_id").orderBy(desc("cos"), col("img_id"))
      // the routed page: probe rows broadcast, the store joins on its
      // partition key — only probed lists' images are scored
      val annTop = assigned.join(broadcast(probes), "list_id")
        .withColumn("cos", cosCol)
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("img_id"), lit(1L).as("hit"))
      // exact baseline (the gate's replayable half)
      val exact = caps.crossJoin(broadcast(imgs))
        .withColumn("cos", cosCol)
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= 3)
      exact.join(broadcast(annTop), Seq("doc_id", "img_id"), "left")
        .withColumn("nhit",
          sum(coalesce(col("hit"), lit(0L)))
            .over(Window.partitionBy("doc_id")))
        // a tokenless caption has the zero query vector: every image ties
        // at cos 0 and recall is vacuously true, matching the oracle
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("img_id"), expr(text.fixedPoint("cos", 4)).as("cos_x10000"),
          (col("nhit") >= 2 || col("cnorm") === 0.0).as("recall_ok"))
        .orderBy("doc_id", "rnk")
    },

    Q("q_image_clusters",
      "Near-dup image GALLERIES: connected components over the dHash " +
        "hamming pair graph — q_image_neardup's pairs fed through the " +
        "same min-label propagation (Dedup.clusters) the text corpus " +
        "uses, proving the pair-graph machinery is modality-agnostic: " +
        "an edited chain a~b~c lands in ONE gallery even where a and c " +
        "differ by more than the pair threshold. Oracle replays hashes " +
        "closed-form, brute-forces the pair graph, and closes it with " +
        "WITH RECURSIVE — the unique fixpoint checks the distributed " +
        "iterative algorithm exactly. Scale shape: pairs from the " +
        "capped blocked join; propagation only ever touches pair-graph " +
        "vertices (singletons rejoin at the end), localCheckpoint per " +
        "round",
      Some("""WITH RECURSIVE
             |d AS (SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h
             |  FROM documents WHERE doc_id < 240),
             |g AS (SELECT doc_id, v, r, c,
             |    CASE WHEN v = 1 AND r = 7 AND c = 8 THEN 750 ELSE
             |      ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9))
             |        * 2654435761 % 1000000007) % 251
             |    + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 1)
             |        * 2654435761 % 1000000007) % 251
             |    + ((doc_id + (r * h // 8) * 3 * w + 3 * (c * w // 9) + 2)
             |        * 2654435761 % 1000000007) % 251
             |    END AS gray
             |  FROM d, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS c),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, r, c,
             |    CASE WHEN lead(gray) OVER (PARTITION BY doc_id, v, r ORDER BY c)
             |              > gray THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id, v,
             |    CAST(sum(CASE WHEN r * 8 + c < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + c))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + c = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS dhash
             |  FROM b0 WHERE c < 8 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS img_id, dhash FROM hx WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, dhash FROM hx
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT img_id, dhash, j, (dhash >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |pairs AS (SELECT DISTINCT a.img_id AS a_id, b.img_id AS b_id
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.img_id < b.img_id
             |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
             |edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
             |          UNION SELECT b_id, a_id FROM pairs),
             |reach(id, r) AS (
             |  SELECT img_id, img_id FROM corpus
             |  UNION
             |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
             |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
             |SELECT c.id, c.cluster, s.n_members
             |FROM comp c
             |JOIN (SELECT cluster, count(*) AS n_members
             |      FROM comp GROUP BY cluster) s USING (cluster)
             |ORDER BY id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val corpus = ids.select(col("doc_id").as("img_id"))
        .unionByName(ids.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 80000).as("img_id")))
      val hashes = corpus.select(col("img_id"), Multimodal.dHash64Udf(
        Multimodal.nearImageForDocUdf(col("img_id"))).as("dhash"))
      val pairs = graft.operators.Dedup.hammingPairs(hashes, "img_id",
        "dhash", bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64)
      graft.operators.Dedup.clusters(corpus, "img_id", pairs)
        .select(col("id"), col("cluster"), col("n_members"))
        .orderBy("id")
    },

    Q("q_audio_dedup",
      "Audio fingerprint dedup — dHash's sibling for the audio tier, " +
        "over genuinely parsed PCM: 32-bit difference fingerprint of " +
        "per-frame exact integer energies (bit f = E(f+1) > E(f), 256-" +
        "sample frames). The fixture renders each recording as three " +
        "byte-DIFFERENT takes — base WAV, the same take at 2x master " +
        "gain through the real parse-transform-encode wavGain path " +
        "(energy scales by gain^2 uniformly, so every comparison is " +
        "preserved), and a longer cut sharing the prefix — and the " +
        "fingerprint collapses all three where byte hashes see three " +
        "files. Oracle replays every energy and bit closed-form from " +
        "the sample formula; n_takes proves byte-distinct variants " +
        "actually merged. Scale shape: per-row DSP kernel + ONE map-" +
        "side-combined aggregate on the fingerprint — same cost as " +
        "exact dedup once the column exists",
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 240),
             |e AS (SELECT doc_id, f,
             |    list_sum(list_transform(generate_series(f * 256, f * 256 + 255),
             |      i -> (((doc_id + i) * 2654435761 % 1000000007) % 4001 - 2000)
             |         * (((doc_id + i) * 2654435761 % 1000000007) % 4001 - 2000)))
             |      AS energy
             |  FROM d, (SELECT unnest(generate_series(0, 33)) AS f)),
             |b0 AS (SELECT doc_id, f,
             |    CASE WHEN lead(energy) OVER (PARTITION BY doc_id ORDER BY f)
             |              > energy THEN 1 ELSE 0 END AS bit
             |  FROM e),
             |fps AS (SELECT doc_id,
             |    CAST(sum(CAST(bit AS BIGINT) * (1::BIGINT << f)) AS BIGINT)
             |      AS fingerprint
             |  FROM b0 WHERE f < 33 GROUP BY doc_id),
             |corpus AS (
             |  SELECT doc_id AS clip_id, doc_id AS base_id FROM d
             |  UNION ALL SELECT doc_id + 20000, doc_id FROM d WHERE doc_id % 3 = 0
             |  UNION ALL SELECT doc_id + 40000, doc_id FROM d WHERE doc_id % 4 = 0)
             |SELECT fingerprint, CAST(min(clip_id) AS BIGINT) AS keep_id,
             |  count(*) AS n_clips,
             |  CAST(count(DISTINCT clip_id // 20000) AS BIGINT) AS n_takes
             |FROM corpus JOIN fps ON fps.doc_id = corpus.base_id
             |GROUP BY fingerprint
             |ORDER BY keep_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val corpus = ids.select(col("doc_id").as("clip_id"))
        .unionByName(ids.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 20000).as("clip_id")))
        .unionByName(ids.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 40000).as("clip_id")))
      corpus
        .select(col("clip_id"), Multimodal.audioFingerprintUdf(
          Multimodal.audioVariantForDocUdf(col("clip_id")), lit(256))
          .as("fingerprint"))
        .groupBy("fingerprint")
        .agg(min("clip_id").as("keep_id"),
          count(lit(1)).as("n_clips"),
          countDistinct(expr("clip_id div 20000")).as("n_takes"))
        .select(col("fingerprint"), col("keep_id"), col("n_clips"),
          col("n_takes").cast("long").as("n_takes"))
        .orderBy("keep_id")
    },

    Q("q_audio_neardup",
      "NEAR-duplicate audio pairs — q_audio_dedup finds re-masters of " +
        "the SAME take; this finds slightly-EDITED recordings (hamming " +
        "<= 2 over the 33-bit energy fingerprint) via the same " +
        "Dedup.hammingPairs pigeonhole the image and text tiers use " +
        "(3 chunks of 12 bits: hamming <= 2 implies >= 1 equal chunk, " +
        "exact prefilter). Fixture: every 2nd recording also appears " +
        "with ONE frame's samples overwritten (+80000 ids) — a bounded " +
        "edit that can flip only the two energy comparisons touching " +
        "that frame — and the oracle replays the capped pigeonhole " +
        "join closed-form (chunk extraction + the >64 bucket " +
        "exclusion, exactly the Spark plan; no fixture bucket reaches " +
        "the cap, so pairs remain exhaustive ground truth). Scale " +
        "shape: per-row DSP kernel, then the capped blocked self-join " +
        "with maxBucket=64 ENGAGED — silence-heavy clips all carry " +
        "zero-energy frames, making the all-zero fingerprint chunk a " +
        "mega-bucket on a real crawl — never corpus x corpus",
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 240),
             |e AS (SELECT doc_id, v, f,
             |    CASE WHEN v = 1 AND f = 17 THEN 256 * 500 * 500 ELSE
             |      list_sum(list_transform(generate_series(f * 256, f * 256 + 255),
             |        i -> (((doc_id + i) * 2654435761 % 1000000007) % 4001 - 2000)
             |           * (((doc_id + i) * 2654435761 % 1000000007) % 4001 - 2000)))
             |    END AS energy
             |  FROM d, (SELECT unnest(generate_series(0, 33)) AS f),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, f,
             |    CASE WHEN lead(energy) OVER (PARTITION BY doc_id, v ORDER BY f)
             |              > energy THEN 1 ELSE 0 END AS bit
             |  FROM e),
             |fps AS (SELECT doc_id, v,
             |    CAST(sum(CAST(bit AS BIGINT) * (1::BIGINT << f)) AS BIGINT)
             |      AS fingerprint
             |  FROM b0 WHERE f < 33 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS clip_id, fingerprint FROM fps WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, fingerprint FROM fps
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT clip_id, fingerprint, j,
             |    (fingerprint >> (j * 12)) & 4095 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 2)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |cand AS (SELECT DISTINCT a.clip_id AS a_id, b.clip_id AS b_id,
             |    a.fingerprint AS a_fp, b.fingerprint AS b_fp
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.clip_id < b.clip_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a_fp, b_fp)) <= 2
             |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val corpus = ids.select(col("doc_id").as("clip_id"))
        .unionByName(ids.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 80000).as("clip_id")))
      val fps = corpus.select(col("clip_id"), Multimodal.audioFingerprintUdf(
        Multimodal.nearAudioForDocUdf(col("clip_id")), lit(256)).as("fp"))
      graft.operators.Dedup.hammingPairs(fps, "clip_id", "fp",
          bits = 36, chunks = 3, maxHamming = 2, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_audio_neardup_incremental",
      "INCREMENTAL audio near-dup — q_image_neardup_incremental's " +
        "continuous-ingest pattern at the AUDIO geometry (36-bit/3-chunk " +
        "energy fingerprints, hamming <= 2), completing the driver-gated " +
        "incremental story across the perceptual modalities: the 240 base " +
        "recordings are DSP'd and chunk-indexed ONCE " +
        "(Dedup.hammingChunkIndex — at 100 TB it persists partitioned by " +
        "chunk_idx), and the day's batch (the 120 one-frame-edited takes) " +
        "mines pairs by joining new x (index UNION batch) — new x corpus " +
        "and new x new, NEVER corpus x corpus, so a daily ingest batch " +
        "costs |batch| x bucket-mates, independent of corpus size. " +
        "maxBucket=64's population is the full post-batch bucket " +
        "(generic machinery, ModulesSpec randomized battery covers the " +
        "cap-crossing case). Oracle: the full capped pigeonhole join " +
        "restricted to pairs touching a batch id — the from-scratch " +
        "equivalence IS the check",
      Some("""WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 240),
             |e AS (SELECT doc_id, v, f,
             |    CASE WHEN v = 1 AND f = 17 THEN 256 * 500 * 500 ELSE
             |      list_sum(list_transform(generate_series(f * 256, f * 256 + 255),
             |        i -> (((doc_id + i) * 2654435761 % 1000000007) % 4001 - 2000)
             |           * (((doc_id + i) * 2654435761 % 1000000007) % 4001 - 2000)))
             |    END AS energy
             |  FROM d, (SELECT unnest(generate_series(0, 33)) AS f),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, f,
             |    CASE WHEN lead(energy) OVER (PARTITION BY doc_id, v ORDER BY f)
             |              > energy THEN 1 ELSE 0 END AS bit
             |  FROM e),
             |fps AS (SELECT doc_id, v,
             |    CAST(sum(CAST(bit AS BIGINT) * (1::BIGINT << f)) AS BIGINT)
             |      AS fingerprint
             |  FROM b0 WHERE f < 33 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS clip_id, fingerprint FROM fps WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, fingerprint FROM fps
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT clip_id, fingerprint, j,
             |    (fingerprint >> (j * 12)) & 4095 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 2)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |cand AS (SELECT DISTINCT a.clip_id AS a_id, b.clip_id AS b_id,
             |    a.fingerprint AS a_fp, b.fingerprint AS b_fp
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.clip_id < b.clip_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a_fp, b_fp)) <= 2
             |  AND (a_id >= 80000 OR b_id >= 80000)
             |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.{Dedup, Multimodal}
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      // the prebuilt corpus-side artifact: parse + DSP + chunk ONCE
      val corpusIndex = Dedup.hammingChunkIndex(
        ids.select(col("doc_id").as("clip_id"))
          .select(col("clip_id"), Multimodal.audioFingerprintUdf(
            Multimodal.nearAudioForDocUdf(col("clip_id")), lit(256)).as("fp")),
        "clip_id", "fp", bits = 36, chunks = 3)
      // the day's batch: only these takes are decoded in this run
      val batch = ids.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 80000).as("clip_id"))
        .select(col("clip_id"), Multimodal.audioFingerprintUdf(
          Multimodal.nearAudioForDocUdf(col("clip_id")), lit(256)).as("fp"))
      Dedup.hammingIncrementalPairs(batch, corpusIndex, "clip_id", "fp",
          bits = 36, chunks = 3, maxHamming = 2, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_video_dedup",
      "Cross-CONTAINER video dedup — q_image_dedup's story lifted to the " +
        "time axis: every clip in the fixture exists as two byte-" +
        "UNRELATED blobs — raw hash-mixed Y4M and the SAME frames as " +
        "real LZW-compressed GIF through the JDK ImageIO codec — and " +
        "the temporal-mean dHash over the genuinely DECODED frames " +
        "collapses both where any byte hash sees two files. The " +
        "invariance is arithmetic, not approximate: GIF's channel-sum " +
        "gray is exactly 3x the Y4M luma value (gray palette), and " +
        "dHash bits are order comparisons — invariant under positive " +
        "scaling (property-pinned over random dims/seeds). n_formats " +
        "proves byte-distinct containers actually merged; the oracle " +
        "replays every 64-bit fingerprint closed-form from the payload " +
        "formula (sign bit via the two's-complement trick). Scale " +
        "shape: per-row codec walk + ONE map-side-combined aggregate " +
        "on the fingerprint — video dedup costs the same as exact text " +
        "dedup once the column exists",
      Some("""WITH d AS (SELECT doc_id, 10 + 2 * (doc_id % 4) AS w,
             |    8 + 2 * (doc_id % 3) AS h, 3 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 240),
             |e AS (SELECT doc_id, w, h, nf, 3 * w * h // 2 AS fb FROM d),
             |g AS (SELECT doc_id, r, j,
             |    list_sum(list_transform(
             |      list_filter(generate_series(0, nf - 1), f -> f % 2 = 0),
             |      f -> ((doc_id + f * fb + (r * h // 8) * w + j * w // 9)
             |             * 2654435761 % 1000000007) % 241)) AS s
             |  FROM e, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS j)),
             |b0 AS (SELECT doc_id, r, j,
             |    CASE WHEN lead(s) OVER (PARTITION BY doc_id, r ORDER BY j)
             |              > s THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id,
             |    CAST(sum(CASE WHEN r * 8 + j < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + j))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + j = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS fp
             |  FROM b0 WHERE j < 8 GROUP BY doc_id),
             |corpus AS (
             |  SELECT doc_id AS clip_id, doc_id AS base_id FROM d
             |  UNION ALL
             |  SELECT doc_id + 20000, doc_id FROM d WHERE doc_id % 3 = 0)
             |SELECT fp AS fingerprint, CAST(min(clip_id) AS BIGINT) AS keep_id,
             |  count(*) AS n_clips,
             |  CAST(count(DISTINCT clip_id // 20000) AS BIGINT) AS n_formats
             |FROM corpus JOIN hx ON hx.doc_id = corpus.base_id
             |GROUP BY fp
             |ORDER BY keep_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val corpus = ids.select(col("doc_id").as("clip_id"))
        .unionByName(ids.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 20000).as("clip_id")))
      corpus
        .select(col("clip_id"), Multimodal.videoFingerprintUdf(
          Multimodal.videoVariantForDocUdf(col("clip_id")), lit(2))
          .as("fingerprint"))
        .groupBy("fingerprint")
        .agg(min("clip_id").as("keep_id"),
          count(lit(1)).as("n_clips"),
          countDistinct(expr("clip_id div 20000")).as("n_formats"))
        .select(col("fingerprint"), col("keep_id"), col("n_clips"),
          col("n_formats").cast("long").as("n_formats"))
        .orderBy("keep_id")
    },

    Q("q_video_neardup",
      "NEAR-duplicate VIDEO pairs — the last missing modality in the " +
        "fingerprint matrix (text SimHash, image dHash, audio energy " +
        "fingerprint, now video): a 64-bit temporal-mean dHash folds " +
        "every 2nd frame's luma at the dHash 8x9 grid into per-position " +
        "sums over genuinely parsed Y4M (Multimodal.videoFingerprint — " +
        "comparing sums over an equal frame count IS comparing temporal " +
        "means, so a bounded single-pixel edit in one sampled frame " +
        "moves one grid sum and flips at most one bit). Fixture: " +
        "hash-mixed clips (the linear payload formula would phase-shift-" +
        "collide clips sharing dims — the documented fixture trap), " +
        "every 2nd clip also appearing with ONE luma pixel of sampled " +
        "frame 2 overwritten (+80000 ids), a pixel only the (r=7,j=8) " +
        "grid position reads, so the twin differs in at most hash bit " +
        "63. Pairs via the same capped Dedup.hammingPairs pigeonhole as " +
        "the image tier (4x16-bit chunks, hamming <= 3, maxBucket=64 — " +
        "black frames and letterboxed clips make the all-zero chunk a " +
        "mega-bucket on a real crawl), oracle replays fingerprints " +
        "closed-form from the payload formula and mirrors the capped " +
        "chunk join exactly. Scale shape: per-row codec walk (unsampled " +
        "frames never decode), then the capped blocked self-join — " +
        "never corpus x corpus",
      Some("""WITH d AS (SELECT doc_id, 10 + 2 * (doc_id % 4) AS w,
             |    8 + 2 * (doc_id % 3) AS h, 3 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 240),
             |e AS (SELECT doc_id, w, h, nf, 3 * w * h // 2 AS fb FROM d),
             |g AS (SELECT doc_id, v, r, j,
             |    list_sum(list_transform(
             |      list_filter(generate_series(0, nf - 1), f -> f % 2 = 0),
             |      f -> CASE WHEN v = 1 AND f = 2 AND r = 7 AND j = 8 THEN 240
             |        ELSE ((doc_id + f * fb + (r * h // 8) * w + j * w // 9)
             |               * 2654435761 % 1000000007) % 241 END)) AS s
             |  FROM e, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS j),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, r, j,
             |    CASE WHEN lead(s) OVER (PARTITION BY doc_id, v, r ORDER BY j)
             |              > s THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id, v,
             |    CAST(sum(CASE WHEN r * 8 + j < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + j))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + j = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS fp
             |  FROM b0 WHERE j < 8 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS clip_id, fp FROM hx WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, fp FROM hx
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT clip_id, fp, j, (fp >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |cand AS (SELECT DISTINCT a.clip_id AS a_id, b.clip_id AS b_id,
             |    a.fp AS a_fp, b.fp AS b_fp
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.clip_id < b.clip_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a_fp, b_fp)) <= 3
             |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      val corpus = ids.select(col("doc_id").as("clip_id"))
        .unionByName(ids.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 80000).as("clip_id")))
      val fps = corpus.select(col("clip_id"), Multimodal.videoFingerprintUdf(
        Multimodal.nearVideoForDocUdf(col("clip_id")), lit(2)).as("fp"))
      graft.operators.Dedup.hammingPairs(fps, "clip_id", "fp",
          bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_video_neardup_incremental",
      "INCREMENTAL video near-dup — the continuous-ingest face of " +
        "q_video_neardup at the video geometry (64-bit temporal-mean " +
        "dHash, 4x16-bit chunks, hamming <= 3), the last modality " +
        "joining the driver-gated incremental family: the 240 base clips " +
        "are codec-walked and chunk-indexed ONCE (Dedup.hammingChunkIndex " +
        "— at 100 TB it persists partitioned by chunk_idx), and the " +
        "day's batch (the 120 single-pixel-edited clips) mines pairs by " +
        "joining new x (index UNION batch) — new x corpus and new x new, " +
        "NEVER corpus x corpus, so a daily clip ingest costs |batch| x " +
        "bucket-mates, independent of corpus size. maxBucket=64's " +
        "population is the full post-batch bucket (generic machinery, " +
        "ModulesSpec randomized battery covers the cap-crossing case). " +
        "Oracle: the full capped pigeonhole join restricted to pairs " +
        "touching a batch id — the from-scratch equivalence IS the check",
      Some("""WITH d AS (SELECT doc_id, 10 + 2 * (doc_id % 4) AS w,
             |    8 + 2 * (doc_id % 3) AS h, 3 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 240),
             |e AS (SELECT doc_id, w, h, nf, 3 * w * h // 2 AS fb FROM d),
             |g AS (SELECT doc_id, v, r, j,
             |    list_sum(list_transform(
             |      list_filter(generate_series(0, nf - 1), f -> f % 2 = 0),
             |      f -> CASE WHEN v = 1 AND f = 2 AND r = 7 AND j = 8 THEN 240
             |        ELSE ((doc_id + f * fb + (r * h // 8) * w + j * w // 9)
             |               * 2654435761 % 1000000007) % 241 END)) AS s
             |  FROM e, (SELECT unnest(generate_series(0, 7)) AS r),
             |       (SELECT unnest(generate_series(0, 8)) AS j),
             |       (SELECT unnest(generate_series(0, 1)) AS v)),
             |b0 AS (SELECT doc_id, v, r, j,
             |    CASE WHEN lead(s) OVER (PARTITION BY doc_id, v, r ORDER BY j)
             |              > s THEN 1 ELSE 0 END AS bit
             |  FROM g),
             |hx AS (SELECT doc_id, v,
             |    CAST(sum(CASE WHEN r * 8 + j < 63
             |      THEN CAST(bit AS BIGINT) * (1::BIGINT << (r * 8 + j))
             |      ELSE 0 END) AS BIGINT)
             |    + CASE WHEN max(CASE WHEN r * 8 + j = 63 THEN bit ELSE 0 END) = 1
             |           THEN (-9223372036854775807 - 1) ELSE 0 END AS fp
             |  FROM b0 WHERE j < 8 GROUP BY doc_id, v),
             |corpus AS (
             |  SELECT doc_id AS clip_id, fp FROM hx WHERE v = 0
             |  UNION ALL
             |  SELECT doc_id + 80000, fp FROM hx
             |  WHERE v = 1 AND doc_id % 2 = 0),
             |ch AS (SELECT clip_id, fp, j, (fp >> (j * 16)) & 65535 AS cv
             |  FROM corpus, (SELECT unnest(generate_series(0, 3)) AS j)),
             |big AS (SELECT j, cv FROM ch GROUP BY j, cv HAVING count(*) > 64),
             |ch2 AS (SELECT * FROM ch WHERE NOT EXISTS (
             |  SELECT 1 FROM big WHERE big.j = ch.j AND big.cv = ch.cv)),
             |cand AS (SELECT DISTINCT a.clip_id AS a_id, b.clip_id AS b_id,
             |    a.fp AS a_fp, b.fp AS b_fp
             |  FROM ch2 a JOIN ch2 b
             |    ON a.j = b.j AND a.cv = b.cv AND a.clip_id < b.clip_id)
             |SELECT a_id, b_id,
             |  CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
             |FROM cand
             |WHERE bit_count(xor(a_fp, b_fp)) <= 3
             |  AND (a_id >= 80000 OR b_id >= 80000)
             |ORDER BY a_id, b_id""".stripMargin)) { (s, dir) =>
      import graft.operators.{Dedup, Multimodal}
      val ids = documents(s, dir).filter(col("doc_id") < 240)
        .select(col("doc_id"))
      // the prebuilt corpus-side artifact: codec walk + hash + chunk ONCE
      val corpusIndex = Dedup.hammingChunkIndex(
        ids.select(col("doc_id").as("clip_id"))
          .select(col("clip_id"), Multimodal.videoFingerprintUdf(
            Multimodal.nearVideoForDocUdf(col("clip_id")), lit(2)).as("fp")),
        "clip_id", "fp", bits = 64, chunks = 4)
      // the day's batch: only these clips are decoded in this run
      val batch = ids.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 80000).as("clip_id"))
        .select(col("clip_id"), Multimodal.videoFingerprintUdf(
          Multimodal.nearVideoForDocUdf(col("clip_id")), lit(2)).as("fp"))
      Dedup.hammingIncrementalPairs(batch, corpusIndex, "clip_id", "fp",
          bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64)
        .orderBy("a_id", "b_id")
    },

    Q("q_audio_features",
      "Real DSP over real WAV bytes (the audio analog of the decoded-pixel " +
        "queries): parse the RIFF/PCM payload, then compute zero-crossing " +
        "count, exact integer energy (sum of squared samples) total and " +
        "per 256-sample frame (max reported) — the framing/energy/ZCR " +
        "primitives every audio-curation filter (silence, clipping, " +
        "speech/music) builds on. All integer arithmetic, so the oracle " +
        "replays every value closed-form from the deterministic sample " +
        "formula — a parser or framing bug breaks the hash. Scale shape: " +
        "one per-row kernel over the blob column, zero shuffle before " +
        "the sort",
      Some("""WITH d AS (
             |  SELECT doc_id, 8 * (100 + doc_id % 100) AS n
             |  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 300)
             |SELECT doc_id AS media_id,
             |  CAST(n // 256 AS BIGINT) AS n_frames,
             |  CAST(len(list_filter(generate_series(1, n - 1), i ->
             |    ((doc_id*7 + i - 1) % 4001 - 2000 < 0) !=
             |      ((doc_id*7 + i) % 4001 - 2000 < 0))) AS BIGINT)
             |    AS zero_crossings,
             |  CAST(list_max(list_transform(generate_series(0, n // 256 - 1), f ->
             |    list_sum(list_transform(generate_series(0, 255), j ->
             |      ((doc_id*7 + f*256 + j) % 4001 - 2000)
             |        * ((doc_id*7 + f*256 + j) % 4001 - 2000))))) AS BIGINT)
             |    AS max_frame_energy,
             |  CAST(list_sum(list_transform(generate_series(0, n - 1), i ->
             |    ((doc_id*7 + i) % 4001 - 2000)
             |      * ((doc_id*7 + i) % 4001 - 2000))) AS BIGINT)
             |    AS total_energy
             |FROM d ORDER BY media_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      documents(s, dir)
        .filter(col("doc_id") % 3 === 2 && col("doc_id") < 300)
        .select(col("doc_id").as("media_id"),
          Multimodal.audioFeaturesUdf(
            Multimodal.mediaForDocUdf(col("doc_id")), lit(256)).as("f"))
        .select(col("media_id"), col("f.n_frames").as("n_frames"),
          col("f.zero_crossings").as("zero_crossings"),
          col("f.max_frame_energy").as("max_frame_energy"),
          col("f.total_energy").as("total_energy"))
        .orderBy("media_id")
    },

    Q("q_multimodal_codec",
      "Compressed-codec decode, REAL (closing the last multimodal stub " +
        "tier): genuine PNG (even ids) and baseline-JPEG (odd ids) bytes " +
        "are produced by the JDK's own ImageIO codecs and decoded BACK " +
        "with the same codecs — real entropy coding, real DCT, no fake. " +
        "The oracle pins what each codec guarantees: dims survive both " +
        "codecs exactly; the decoded-pixel checksum is closed-form exact " +
        "for lossless PNG and bounded within 5% of the source sum for " +
        "lossy JPEG (measured worst 0.7% at these dims — the q_pq_topk " +
        "bound-check-boolean pattern). Scale shape: per-row codec kernels, " +
        "zero shuffle before the final sort; MP3/H.264 remain documented " +
        "stubs (no JVM codec exists)",
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
             |  CAST(16 + doc_id % 13 AS BIGINT) AS width,
             |  CAST(16 + doc_id % 7 AS BIGINT) AS height,
             |  TRUE AS sum_ok
             |FROM documents WHERE doc_id < 300
             |ORDER BY media_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      // closed-form source-raster sum (the shared (seed*3+i)%251 formula)
      val srcSum = expr(
        "aggregate(sequence(0, (16 + doc_id % 13) * (16 + doc_id % 7) * 3 - 1), " +
          "0L, (acc, i) -> acc + (doc_id * 3 + i) % 251)")
      documents(s, dir)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"),
          Multimodal.metaUdf(Multimodal.codecMediaForDocUdf(col("doc_id"))).as("m"),
          srcSum.as("src_sum"))
        .select(col("doc_id").as("media_id"), col("m.kind").as("kind"),
          col("m.width").as("width"), col("m.height").as("height"),
          when(col("m.kind") === "png", col("m.content_sum") === col("src_sum"))
            .otherwise(abs(col("m.content_sum") - col("src_sum")) * 20
              <= col("src_sum")).as("sum_ok"))
        .orderBy("media_id")
    },

    Q("q_multimodal_resize_codec",
      "Compressed-format resize, REAL end to end: decode PNG/JPEG with the " +
        "JDK codec, nearest-neighbor resample to half dims with the same " +
        "index arithmetic as the BMP kernel, re-encode in the input's own " +
        "format, decode BACK. The oracle pins dims exactly for both " +
        "codecs; the pixel proof splits by what each codec guarantees — " +
        "PNG (lossless both ways) must match the position-weighted raster " +
        "checksum of the closed-form NN resample EXACTLY, JPEG (lossy " +
        "both ways) holds a 10% plain-sum bound (measured ~1-2%). " +
        "Scale shape: per-row codec kernels, zero shuffle before the sort",
      Some("""SELECT doc_id AS media_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind,
             |  CAST((16 + doc_id % 13) // 2 AS BIGINT) AS dst_w,
             |  CAST((16 + doc_id % 7) // 2 AS BIGINT) AS dst_h,
             |  TRUE AS ok
             |FROM documents WHERE doc_id < 300
             |ORDER BY media_id""".stripMargin)) { (s, dir) =>
      import graft.operators.Multimodal
      // closed-form byte of the NN-resampled source raster at position j
      val nnByte = "(media_id * 3 " +
        "+ ((j div (3*dw)) * sh div dh) * 3 * sw " +
        "+ (((j % (3*dw)) div 3) * sw div dw) * 3 + (j % 3)) % 251"
      val nnWsum = s"aggregate(sequence(0, 3*dw*dh - 1), 0L, " +
        s"(acc, j) -> acc + ($nnByte) * (j + 1))"
      val nnSum = s"aggregate(sequence(0, 3*dw*dh - 1), 0L, " +
        s"(acc, j) -> acc + ($nnByte))"
      documents(s, dir)
        .filter(col("doc_id") < 300)
        .select(col("doc_id").as("media_id"),
          (lit(16) + col("doc_id") % 13).cast("int").as("sw"),
          (lit(16) + col("doc_id") % 7).cast("int").as("sh"))
        .withColumn("dw", expr("sw div 2").cast("int"))
        .withColumn("dh", expr("sh div 2").cast("int"))
        .withColumn("rb", Multimodal.resizeImageUdf(
          Multimodal.codecMediaForDocUdf(col("media_id")), col("dw"), col("dh")))
        .withColumn("m", Multimodal.metaUdf(col("rb")))
        .select(col("media_id"),
          col("m.kind").as("kind"),
          col("m.width").as("dst_w"), col("m.height").as("dst_h"),
          when(col("m.kind") === "png",
            Multimodal.rasterWeightedSumUdf(col("rb")) === expr(nnWsum))
            .otherwise(abs(col("m.content_sum") - expr(nnSum)) * 10
              <= expr(nnSum)).as("ok"))
        .orderBy("media_id")
    },

    Q("q_stream_dedup",
      "Batch twin of the streaming ingest dedup (EventsStream.dedupStream: " +
        "dropDuplicatesWithinWatermark keyed by content fingerprint, state " +
        "aged out by the watermark): keep the event-time-FIRST event per " +
        "fingerprint of (event_type + props), report how many duplicates " +
        "each survivor absorbed. Equals the streaming output whenever a " +
        "fingerprint's duplicates span less than the watermark horizon " +
        "(ModulesSpec pins the streaming side on a fixture; a dupe arriving " +
        "after the horizon re-opens its fingerprint there by design — " +
        "bounded state is the point). Scale shape: one fingerprint-keyed " +
        "window over a codegen'd scan projection — the same single shuffle " +
        "the streaming state store does by key",
      Some {
        val fp = text.fingerprint(D, "(event_type || ' ' || props)")
        s"""WITH f AS (
           |  SELECT event_id, user_id, event_type, ts, $fp AS fp
           |  FROM events),
           |r AS (
           |  SELECT event_id, user_id, event_type,
           |    row_number() OVER (PARTITION BY fp ORDER BY ts, event_id) AS rn,
           |    count(*) OVER (PARTITION BY fp) AS n_dupes
           |  FROM f)
           |SELECT event_id, user_id, event_type, CAST(n_dupes AS BIGINT) AS n_dupes
           |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin
      }) { (s, dir) =>
      val w = Window.partitionBy("fp").orderBy("ts", "event_id")
      events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          expr(text.fingerprint(S, "(event_type || ' ' || props)")).as("fp"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_dupes", count(lit(1)).over(Window.partitionBy("fp")))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("n_dupes").cast("long").as("n_dupes"))
        .orderBy("event_id")
    },

    Q("q_bigram_logprob",
      "Bigram language-model scoring — one order up from q_unigram_logprob's " +
        "perplexity proxy: p(w2|w1) = c(w1,w2) / c(w1,·), each doc reports " +
        "its bigram count and summed conditional surprisal. Catches " +
        "word-salad that unigram frequency misses (every token common, no " +
        "two ever adjacent in real prose). Scale shape: the bigram table " +
        "is corpus-vocabulary-squared bounded but Zipf-truncated in " +
        "practice; unlike the unigram table it may NOT fit a broadcast at " +
        "100 TB, so both count joins are plain equi-joins on the bigram " +
        "key and AQE picks broadcast vs shuffle-hash from observed size. " +
        "Determinism: the per-bigram -ln p is quantized x10k before the " +
        "per-doc sum (exact integer arithmetic, the q_unigram_logprob " +
        "contract); docs under 2 tokens are excluded in both engines " +
        "before the pair build (Spark's sequence(1, 0) would count " +
        "DOWN where DuckDB's generate_series returns empty). The pair " +
        "array is built INSIDE a per-row transform and exploded as " +
        "'w1 w2' strings — a position explode that carries the token " +
        "array into every output row duplicates O(tokens²) bytes per " +
        "doc (measured 4×: 7.1 s → 1.8 s at sf0.1); tokens cannot " +
        "contain whitespace, so split_part recovers w1 losslessly",
      Some {
        val lp = text.fixedPoint("-ln(CAST(c2 AS DOUBLE) / c1)", 4)
        def pairs(d: graft.functions.Dialect) = d.transform(
          d.seq("1", s"${d.size("toks")} - 1"), "i",
          s"concat(${d.elementAt("toks", "i")}, ' ', ${d.elementAt("toks", "i + 1")})")
        s"""WITH tk AS (
           |  SELECT doc_id, ${text.tokens(D, "text")} AS toks FROM documents),
           |bg AS (
           |  SELECT doc_id, unnest(${pairs(D)}) AS pair
           |  FROM tk WHERE ${D.size("toks")} >= 2),
           |bfreq AS (
           |  SELECT pair, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY pair),
           |cfreq AS (
           |  SELECT split_part(pair, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
           |  FROM bfreq GROUP BY 1),
           |scored AS (
           |  SELECT bg.doc_id, $lp AS lp
           |  FROM bg JOIN bfreq USING (pair)
           |  JOIN cfreq ON split_part(bg.pair, ' ', 1) = cfreq.w1
           |  WHERE bg.doc_id < 100)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigram,
           |  CAST(sum(lp) AS BIGINT) AS surprisal_x10k
           |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val lp = text.fixedPoint("-ln(CAST(c2 AS DOUBLE) / c1)", 4)
      val pairsS = S.transform(
        S.seq("1", s"${S.size("toks")} - 1"), "i",
        s"concat(${S.elementAt("toks", "i")}, ' ', ${S.elementAt("toks", "i + 1")})")
      val bg = documents(s, dir)
        .select(col("doc_id"), expr(text.tokens(S, "text")).as("toks"))
        .filter(expr(s"${S.size("toks")} >= 2"))
        .select(col("doc_id"), explode(expr(pairsS)).as("pair"))
      val bfreq = share(bg.groupBy("pair").agg(count(lit(1)).as("c2")))
      val cfreq = bfreq.groupBy(expr("split_part(pair, ' ', 1)").as("w1"))
        .agg(sum(col("c2")).as("c1"))
      bg.filter(col("doc_id") < 100)
        .join(bfreq, Seq("pair"))
        .join(cfreq, expr("split_part(pair, ' ', 1)") === col("w1"))
        .select(col("doc_id"), expr(lp).as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigram"),
          sum(col("lp")).cast("long").as("surprisal_x10k"))
        .orderBy("doc_id")
    },

    Q("q_dsir_weights",
      "DSIR-style importance weights (Xie et al. 2023, 'Data Selection for " +
        "Language Models via Importance Resampling' — hashed n-gram LMs " +
        "for target and raw distributions, resample by the likelihood " +
        "ratio): target LM = the curated sources src1-3, raw LM = the " +
        "whole corpus, per-doc log-weight = sum over tokens of " +
        "ln p_target - ln p_raw with add-one smoothing over the shared " +
        "raw vocabulary. Docs that look like the curated slice score " +
        "high; resampling by this weight is the principled alternative " +
        "to hard source filtering. Scale shape: both frequency tables " +
        "are vocab-sized after map-side-combined aggregates and " +
        "broadcast onto the exploded corpus (the unigram-LM shape, " +
        "twice); the scalar totals are 1-row broadcasts. Determinism: " +
        "per-token quantization x10k before the doc sum",
      Some {
        val lw = text.fixedPoint(
          "ln((COALESCE(ct, 0) + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v))", 4)
        s"""WITH tok AS (
           |  SELECT doc_id, source, unnest(${text.tokens(D, "text")}) AS tok
           |  FROM documents),
           |rawf AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS cr FROM tok GROUP BY tok),
           |vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM rawf),
           |rtot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr FROM rawf),
           |tgtf AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM tok
           |  WHERE source IN ('src1', 'src2', 'src3') GROUP BY tok),
           |ttot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM tgtf),
           |scored AS (
           |  SELECT tok.doc_id, $lw AS lw
           |  FROM tok
           |  JOIN rawf USING (tok)
           |  LEFT JOIN tgtf USING (tok)
           |  CROSS JOIN vocab CROSS JOIN rtot CROSS JOIN ttot
           |  WHERE tok.doc_id < 100)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
           |  CAST(sum(lw) AS BIGINT) AS logweight_x10k
           |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val lw = text.fixedPoint(
        "ln((COALESCE(ct, 0) + 1.0) / (tt + v)) - ln((cr + 1.0) / (tr + v))", 4)
      val tok = documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(expr(text.tokens(S, "text"))).as("tok"))
      val rawf = share(tok.groupBy("tok").agg(count(lit(1)).as("cr")))
      val vocab = rawf.agg(count(lit(1)).as("v"))
      val rtot = rawf.agg(sum(col("cr")).as("tr"))
      val tgtf = share(tok.filter(col("source").isin("src1", "src2", "src3"))
        .groupBy("tok").agg(count(lit(1)).as("ct")))
      val ttot = tgtf.agg(sum(col("ct")).as("tt"))
      tok.filter(col("doc_id") < 100)
        .join(broadcast(rawf), Seq("tok"))
        .join(broadcast(tgtf), Seq("tok"), "left")
        .crossJoin(broadcast(vocab))
        .crossJoin(broadcast(rtot))
        .crossJoin(broadcast(ttot))
        .select(col("doc_id"), expr(lw).as("lw"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(col("lw")).cast("long").as("logweight_x10k"))
        .orderBy("doc_id")
    },

    Q("q_bpe_pairs",
      "Tokenizer training, first BPE merge iteration (Sennrich et al. 2016): " +
        "count adjacent character pairs across the corpus weighted by word " +
        "frequency, emit the top-20 merge candidates. The scale-smart " +
        "formulation pre-aggregates words FIRST — the pair explode runs " +
        "over the vocab-sized distinct-word table carrying its count, not " +
        "over every corpus occurrence, so a 100 TB corpus pays one " +
        "map-side-combined word count and then a vocab-bounded explode " +
        "(this is why real BPE trainers operate on a word-frequency dict). " +
        "1-char words contribute no pairs and are excluded identically in " +
        "both engines; ties rank alphabetically for a deterministic top-20",
      Some {
        s"""WITH tok AS (
           |  SELECT unnest(${text.tokens(D, "text")}) AS tok FROM documents),
           |wf AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
           |ch AS (
           |  SELECT c, ${D.splitChars("tok")} AS cs FROM wf),
           |ex AS (
           |  SELECT c, cs, unnest(${D.seq("1", s"${D.size("cs")} - 1")}) AS i
           |  FROM ch WHERE ${D.size("cs")} >= 2),
           |pr AS (
           |  SELECT concat(${D.elementAt("cs", "i")},
           |    ${D.elementAt("cs", "i + 1")}) AS pair, c FROM ex)
           |SELECT pair, CAST(sum(c) AS BIGINT) AS n
           |FROM pr GROUP BY pair
           |ORDER BY n DESC, pair LIMIT 20""".stripMargin
      }) { (s, dir) =>
      documents(s, dir)
        .select(explode(expr(text.tokens(S, "text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .select(col("c"), expr(S.splitChars("tok")).as("cs"))
        .filter(expr(s"${S.size("cs")} >= 2"))
        .select(col("c"), col("cs"),
          explode(expr(S.seq("1", s"${S.size("cs")} - 1"))).as("i"))
        .select(concat(expr(S.elementAt("cs", "i")),
          expr(S.elementAt("cs", "i + 1"))).as("pair"), col("c"))
        .groupBy("pair").agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    Q("q_pagerank",
      "Domain-authority PageRank over the crawl link graph (Page et al. " +
        "1999; the Common Crawl-style domain ranking a curation pipeline " +
        "uses as a quality prior): 3 unrolled power iterations, damping " +
        "0.85, over domain→domain edges synthesized deterministically " +
        "from doc_id (same stance as q_domain_filter's URLs — the " +
        "synthetic corpus carries no hyperlinks). Scale shape: the " +
        "Pregel/GraphX pattern without the library — each iteration is " +
        "ONE join of the edge table against the vertex-sized rank table " +
        "(rank broadcasts: vertices ≪ edges at web scale) plus one " +
        "map-side-combined sum keyed by dst; at 100 TB the edge table " +
        "would be persisted once and ranks checkpointed per iteration " +
        "(the Dedup.clusters recipe). Determinism: ranks are x1e12 " +
        "BIGINTs and every step uses integer div — contribution sums " +
        "are exact integer arithmetic, so float accumulation order " +
        "cannot flip a digit between engines (mass lost to integer " +
        "truncation and dangling nodes is identical in both)",
      Some {
        def dom(x: String) =
          s"concat('host', ${D.castString(s"($x) % 10")}, '.example.', " +
            s"(CASE WHEN ($x) % 3 = 0 THEN 'com' " +
            s"WHEN ($x) % 3 = 1 THEN 'org' ELSE 'net' END))"
        val link = s"(${text.mix("doc_id")} % 1000)"
        val base = D.intDiv(s"15 * ${D.intDiv("1000000000000", "n")}", "100")
        def iter(k: Int): String = {
          val prev = s"r${k - 1}"
          s"""m$k AS (
             |  SELECT dst, CAST(sum(${D.intDiv("r", "outdeg")}) AS BIGINT) AS m
             |  FROM ew JOIN $prev ON ew.src = $prev.v GROUP BY dst),
             |r$k AS (
             |  SELECT nodes.v,
             |    $base + ${D.intDiv("85 * COALESCE(m, 0)", "100")} AS r
             |  FROM nodes CROSS JOIN nn LEFT JOIN m$k ON nodes.v = m$k.dst)"""
            .stripMargin
        }
        s"""WITH e AS (
           |  SELECT DISTINCT ${dom("doc_id")} AS src, ${dom(link)} AS dst
           |  FROM documents),
           |nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |deg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
           |ew AS (SELECT e.src, e.dst, deg.outdeg FROM e JOIN deg USING (src)),
           |r0 AS (
           |  SELECT v, ${D.intDiv("1000000000000", "n")} AS r
           |  FROM nodes CROSS JOIN nn),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT v AS domain, CAST(r AS BIGINT) AS rank_x1e12
           |FROM r3 ORDER BY domain""".stripMargin
      }) { (s, dir) =>
      def dom(x: String) =
        s"concat('host', ${S.castString(s"($x) % 10")}, '.example.', " +
          s"(CASE WHEN ($x) % 3 = 0 THEN 'com' " +
          s"WHEN ($x) % 3 = 1 THEN 'org' ELSE 'net' END))"
      val link = s"(${text.mix("doc_id")} % 1000)"
      // iterative loop (graft.plans.Shared): 3 unrolled rounds re-read them
      val e = documents(s, dir)
        .select(expr(dom("doc_id")).as("src"), expr(dom(link)).as("dst"))
        .distinct().localCheckpoint()
      val nodes = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v"))).distinct().localCheckpoint()
      val nn = nodes.agg(count(lit(1)).as("n"))
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val ew = e.join(deg, Seq("src")).localCheckpoint()
      val rankExpr = expr(
        s"${S.intDiv(s"15 * ${S.intDiv("1000000000000", "n")}", "100")} + " +
          s"${S.intDiv("85 * COALESCE(m, 0)", "100")}").as("r")
      var r = nodes.crossJoin(broadcast(nn))
        .select(col("v"), expr(S.intDiv("1000000000000", "n")).as("r"))
      for (_ <- 1 to 3) {
        val m = ew.join(broadcast(r.withColumnRenamed("v", "src")), Seq("src"))
          .groupBy("dst").agg(sum(expr(S.intDiv("r", "outdeg"))).as("m"))
        r = nodes.crossJoin(broadcast(nn))
          .join(m.withColumnRenamed("dst", "v"), Seq("v"), "left")
          .select(col("v"), rankExpr)
      }
      r.select(col("v").as("domain"), col("r").cast("long").as("rank_x1e12"))
        .orderBy("domain")
    },

    Q("q_substring_dedup",
      "Duplicate-substring span detection (Lee et al. 2021, 'Deduplicating " +
        "Training Data Makes Language Models Better' — their ExactSubstr " +
        "finds verbatim >= 50-token spans shared across documents via a " +
        "corpus suffix array; a suffix array is inherently single-machine, " +
        "so the shuffle-friendly equivalent is positional 5-gram " +
        "fingerprints): every 5-token window is polynomial-hashed WITH its " +
        "position, grams whose corpus-wide occurrence count > 1 mark their " +
        "token range duplicated, and overlapping ranges merge per doc via " +
        "the classic gaps-and-islands window. Output: per-doc merged span " +
        "count and duplicated-token total — the columns a curation pass " +
        "thresholds on before cutting spans out. Scale shape: the gram " +
        "frequency table is corpus-sized, so unlike a vocab table it is " +
        "NEVER broadcast — the count and the join back are both plain " +
        "equi-shuffles on the gram hash (map-side-combined aggregate; AQE " +
        "picks the join strategy), and the island merge windows partition " +
        "by doc_id. Determinism: positions are unique per doc so the " +
        "window order key never ties; hash collisions (mod 1e9+7) would " +
        "mark a false span but identically in both engines",
      Some {
        val n = 5
        def ghs(d: graft.functions.Dialect) = d.transform(
          d.seq("1", s"${d.size("toks")} - ${n - 1}"), "i",
          text.tokenHash(d, d.arrayJoin(d.slice("toks", "i", n.toString), " ")))
        s"""WITH tk AS (
           |  SELECT doc_id, ${text.tokens(D, "text")} AS toks FROM documents),
           |g AS (
           |  SELECT doc_id, ${ghs(D)} AS ghs
           |  FROM tk WHERE ${D.size("toks")} >= $n),
           |pos AS (
           |  SELECT doc_id, ${D.elementAt("ghs", "i")} AS h, i FROM (
           |    SELECT doc_id, ghs, unnest(${D.seq("1", D.size("ghs"))}) AS i
           |    FROM g)),
           |freq AS (
           |  SELECT h, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY h),
           |dup AS (
           |  SELECT pos.doc_id, pos.i AS s, pos.i + ${n - 1} AS e
           |  FROM pos JOIN freq USING (h) WHERE c > 1),
           |m AS (
           |  SELECT doc_id, s, e,
           |    max(e) OVER (PARTITION BY doc_id ORDER BY s
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
           |  FROM dup),
           |isl AS (
           |  SELECT doc_id, s, e,
           |    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY s
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl_id
           |  FROM m),
           |sp AS (
           |  SELECT doc_id, isl_id, min(s) AS ss, max(e) AS ee
           |  FROM isl GROUP BY doc_id, isl_id)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           |  CAST(sum(ee - ss + 1) AS BIGINT) AS dup_tokens
           |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val n = 5
      // compiled kernel (TextSig.gramHashSeq), not the dialect HOF fragment:
      // char-fold hashing per gram as an interpreted Catalyst lambda is the
      // exact shape the house rule bans from hot paths (benchmarked ~100x
      // on the MinHash family); kernel-vs-SQL parity asserted in ModulesSpec
      val pos = documents(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.TextSig.gramHashSeqUdf(col("text"), lit(n))))
        .select(col("doc_id"), col("col").as("h"), (col("pos") + 1).as("i"))
      val freq = pos.groupBy("h").agg(count(lit(1)).as("c"))
      val dup = pos.join(freq.filter(col("c") > 1), Seq("h"))
        .select(col("doc_id"), col("i").as("s"), (col("i") + (n - 1)).as("e"))
      val wPrev = Window.partitionBy("doc_id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dup.withColumn("pm", max(col("e")).over(wPrev))
        .withColumn("isl_id",
          sum(when(col("pm").isNull || col("s") > col("pm"), 1).otherwise(0))
            .over(wRun))
        .groupBy("doc_id", "isl_id")
        .agg(min(col("s")).as("ss"), max(col("e")).as("ee"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("ee") - col("ss") + 1).as("dup_tokens"))
        .orderBy("doc_id")
    },

    Q("q_semdedup",
      "SemDeDup (Abbas et al. 2023): semantic dedup by clustering embeddings " +
        "and pruning near-identical pairs WITHIN each cluster — the cluster " +
        "assignment is what bounds the quadratic (k grows with the corpus, " +
        "so cluster populations stay flat; the same job the LSH bucket does " +
        "for MinHash). Centroids here are the first 8 base vectors (a real " +
        "run feeds k-means centroids in as a table — the assignment plan is " +
        "identical); assignment = argmax cosine, quantized x10k with " +
        "centroid-id tie-break so both engines pick the same cluster at " +
        "equal similarity. The corpus is augmented with x2-rescaled copies " +
        "(cosine-invariant, sim exactly 1.0 — the q_dedup_embed fixture): " +
        "each copy lands in its original's cluster (assignment is " +
        "scale-invariant, asserted by the pairs found) and is pruned as " +
        "the higher-id member. Scale shape: centroid table broadcasts (k " +
        "rows); the only self-join is cluster-blocked; per-vector work is " +
        "k dot products — linear scan, no shuffle until the blocked join",
      Some {
        val k = 8
        s"""WITH base AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |corpus AS (
           |  SELECT vec_id, emb FROM base
           |  UNION ALL
           |  SELECT vec_id + 10000, list_transform(emb, x -> x * 2.0) FROM base),
           |cent AS (SELECT vec_id AS cid, emb AS cemb FROM base WHERE vec_id < $k),
           |scored AS (
           |  SELECT c.vec_id, c.emb, t.cid,
           |    CAST(floor(${graft.functions.vectors.cosineSimSql("c.emb", "t.cemb")} * 10000.0 + 0.5) AS BIGINT) AS sim
           |  FROM corpus c CROSS JOIN cent t),
           |asg AS (
           |  SELECT vec_id, emb, cid AS cluster FROM (
           |    SELECT vec_id, emb, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
           |    FROM scored) WHERE rn = 1),
           |nrm AS (
           |  SELECT vec_id, emb, cluster, sqrt(list_dot_product(emb, emb)) AS nrm
           |  FROM asg),
           |pairs AS (
           |  SELECT a.vec_id AS a_id, b.vec_id AS b_id, b.cluster AS cluster,
           |    CASE WHEN a.nrm = 0.0 OR b.nrm = 0.0 THEN 0.0
           |         ELSE list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
           |    END AS cosine
           |  FROM nrm a JOIN nrm b
           |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
           |SELECT b_id AS pruned_id, cluster,
           |  CAST(floor(max(cosine) * 10000.0 + 0.5) AS BIGINT) AS best_x10k
           |FROM pairs WHERE cosine >= 0.99
           |GROUP BY b_id, cluster ORDER BY pruned_id""".stripMargin
      }) { (s, dir) =>
      import graft.functions.vectors
      val k = 8
      val base = embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      val corpus = base.unionByName(base.select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("emb"), x => x * 2.0).as("emb")))
      val cent = base.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("emb").as("cemb"))
      val wAsg = Window.partitionBy("vec_id").orderBy(col("sim").desc, col("cid"))
      val asg = corpus.crossJoin(broadcast(cent))
        .withColumn("sim",
          floor(vectors.cosineSim(col("emb"), col("cemb")) * 10000.0 + 0.5)
            .cast("long"))
        .withColumn("rn", row_number().over(wAsg)).filter(col("rn") === 1)
        .select(col("vec_id"), col("emb"), col("cid").as("cluster"))
        .withColumn("nrm", vectors.l2Norm(col("emb")))
      val a = asg.select(col("vec_id").as("a_id"), col("cluster"),
        col("emb").as("a_emb"), col("nrm").as("a_nrm"))
      val b = asg.select(col("vec_id").as("b_id"), col("cluster"),
        col("emb").as("b_emb"), col("nrm").as("b_nrm"))
      a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id"))
        .withColumn("cosine",
          when(col("a_nrm") === 0.0 || col("b_nrm") === 0.0, lit(0.0))
            .otherwise(vectors.dot(col("a_emb"), col("b_emb")) /
              (col("a_nrm") * col("b_nrm"))))
        .filter(col("cosine") >= 0.99)
        .groupBy(col("b_id").as("pruned_id"), col("cluster"))
        .agg(floor(max(col("cosine")) * 10000.0 + 0.5).cast("long").as("best_x10k"))
        .orderBy("pruned_id")
    },

    Q("q_ppl_bucket",
      "CCNet-style perplexity bucketing (Wenzek et al. 2020): per-doc " +
        "surprisal-per-token under the corpus unigram LM, bucketed " +
        "head/middle/tail by per-language terciles — the standard " +
        "quality-tier split a curation pipeline samples from. The tercile " +
        "thresholds come from a HISTOGRAM of the x10k-quantized integer " +
        "score (group by (lang, score) → cumulative count over the " +
        "distinct-score rows), not from a global sort: that is the shape " +
        "that survives 100 TB — the histogram is score-cardinality-sized, " +
        "its window partitions by lang over distinct values only, and the " +
        "thresholds broadcast back onto the doc frame. Determinism: " +
        "per-token x10k quantization (the q_unigram_logprob contract), " +
        "integer div for per-token surprisal, and threshold comparison on " +
        "BIGINTs — no doubles cross an ordering boundary",
      Some {
        val logp = text.fixedPoint("-ln(CAST(c AS DOUBLE) / t)", 4)
        s"""WITH tok AS (
           |  SELECT doc_id, lang, unnest(${text.tokens(D, "text")}) AS tok
           |  FROM documents),
           |freq AS (
           |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY tok),
           |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
           |doc AS (
           |  SELECT doc_id, lang,
           |    ${D.intDiv("CAST(sum(lp) AS BIGINT)", "CAST(count(*) AS BIGINT)")} AS ppl
           |  FROM (SELECT tok.doc_id, tok.lang, $logp AS lp
           |        FROM tok JOIN freq USING (tok) CROSS JOIN tot)
           |  GROUP BY doc_id, lang),
           |hist AS (
           |  SELECT lang, ppl, CAST(count(*) AS BIGINT) AS cnt
           |  FROM doc GROUP BY lang, ppl),
           |cum AS (
           |  SELECT lang, ppl,
           |    sum(cnt) OVER (PARTITION BY lang ORDER BY ppl
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
           |    sum(cnt) OVER (PARTITION BY lang) AS nl
           |  FROM hist),
           |th AS (
           |  SELECT lang,
           |    min(CASE WHEN cw * 3 >= nl THEN ppl END) AS t1,
           |    min(CASE WHEN cw * 3 >= nl * 2 THEN ppl END) AS t2
           |  FROM cum GROUP BY lang)
           |SELECT doc.lang AS lang,
           |  CASE WHEN ppl <= t1 THEN 'head'
           |       WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  min(ppl) AS min_ppl, max(ppl) AS max_ppl
           |FROM doc JOIN th USING (lang)
           |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin
      }) { (s, dir) =>
      val logp = text.fixedPoint("-ln(CAST(c AS DOUBLE) / t)", 4)
      val tok = documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(expr(text.tokens(S, "text"))).as("tok"))
      val freq = share(tok.groupBy("tok").agg(count(lit(1)).as("c")))
      val tot = freq.agg(sum(col("c")).as("t"))
      val docScore = share(tok.join(broadcast(freq), Seq("tok"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("lang"), expr(logp).as("lp"))
        .groupBy("doc_id", "lang")
        .agg(expr(S.intDiv("CAST(sum(lp) AS BIGINT)", "CAST(count(*) AS BIGINT)"))
          .as("ppl")))
      val hist = docScore.groupBy("lang", "ppl").agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy("lang").orderBy("ppl")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wLang = Window.partitionBy("lang")
      val th = hist
        .withColumn("cw", sum(col("cnt")).over(wCum))
        .withColumn("nl", sum(col("cnt")).over(wLang))
        .groupBy("lang").agg(
          min(when(col("cw") * 3 >= col("nl"), col("ppl"))).as("t1"),
          min(when(col("cw") * 3 >= col("nl") * 2, col("ppl"))).as("t2"))
      docScore.join(broadcast(th), Seq("lang"))
        .withColumn("bucket",
          when(col("ppl") <= col("t1"), "head")
            .when(col("ppl") <= col("t2"), "middle").otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("ppl")).as("min_ppl"), max(col("ppl")).as("max_ppl"))
        .orderBy("lang", "bucket")
    },

    Q("q_quality_classifier",
      "Model-based quality filtering (the fasttext-style classifier stage " +
        "of modern curation pipelines): a hashing-trick linear classifier " +
        "scores every doc as one scan-side fold — each token hashes to a " +
        "bucket whose integer weight is a pure function of the bucket " +
        "(the deterministic stand-in for learned weights, the embedStub " +
        "argument), the doc logit is the exact BIGINT sum of its token " +
        "weights, keep = logit > 0. Inference shuffles NOTHING at 100 TB " +
        "— no weight-table join, no explode+regroup: the weight lookup is " +
        "arithmetic inside the same per-row fold that reads the tokens, so " +
        "the classifier runs at scan speed and only the per-(source, " +
        "verdict) yield rollup exchanges. Integer weights in [-10000, " +
        "10000] make every logit exact under any partitioning; the mean " +
        "token weight divides two exact sums once, then fixed-points",
      Some {
        val logit = D.fold(text.tokenHashes(D, "text"), "CAST(0 AS BIGINT)",
          "acc", "h", s"acc + (((h * 2654435761) % ${text.P}) % 20001 - 10000)")
        s"""SELECT source, keep, count(*) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
           |  ${text.fixedPoint(
                 "CAST(sum(logit) AS DOUBLE) / " +
                   "(10000.0 * greatest(CAST(sum(n_toks) AS BIGINT), 1))", 6)}
           |    AS mean_w
           |FROM (
           |  SELECT source, n_toks, logit, (logit > 0) AS keep
           |  FROM (
           |    SELECT source, ${text.nTokens(D, "text")} AS n_toks,
           |      $logit AS logit
           |    FROM documents))
           |GROUP BY source, keep
           |ORDER BY source, keep""".stripMargin
      }) { (s, dir) =>
      val logit = S.fold(text.tokenHashes(S, "text"), "CAST(0 AS BIGINT)",
        "acc", "h", s"acc + (((h * 2654435761) % ${text.P}) % 20001 - 10000)")
      documents(s, dir)
        .select(col("source"),
          expr(text.nTokens(S, "text")).as("n_toks"),
          expr(logit).as("logit"))
        .groupBy(col("source"), (col("logit") > lit(0)).as("keep"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("sum_tokens"),
          expr(text.fixedPoint(
            "CAST(sum(logit) AS DOUBLE) / " +
              "(10000.0 * greatest(sum(n_toks), 1))", 6)).as("mean_w"))
        .orderBy("source", "keep")
    },

    Q("q_pr_curve",
      "Classifier evaluation, threshold sweep: precision/recall/F1 of the " +
        "hashing-trick classifier (q_quality_classifier's scan-side fold) " +
        "against the heuristic gate (q_quality_filter's predicate) as " +
        "ground truth — the calibration table a curation run consults " +
        "before picking its filter threshold. Scale-honest construction: " +
        "scores collapse into fixed-width logit bins in the SAME one-pass " +
        "aggregate that reads the corpus, so the sweep operates on a " +
        "BOUNDED bin table; cumulative TP/FP at each threshold ride a " +
        "triangle join over that table (bins x bins, broadcast) — no " +
        "global sort, no single-task window, corpus read once " +
        "(the bin table is shared, so the total row cannot re-scan)",
      Some {
        s"""WITH b AS $evalBinsSql,
           |tot AS (SELECT CAST(sum(p) AS BIGINT) AS tp_all FROM b),
           |pr AS (SELECT b1.bin AS threshold_bin,
           |         CAST(sum(b2.p) AS BIGINT) AS tp,
           |         CAST(sum(b2.n) AS BIGINT) AS fp
           |       FROM b b1 JOIN b b2 ON b2.bin >= b1.bin
           |       GROUP BY b1.bin)
           |SELECT threshold_bin, tp, fp,
           |  CAST(tp_all - tp AS BIGINT) AS fn,
           |  ${text.fixedPoint(
               "CAST(tp AS DOUBLE) / greatest(tp + fp, 1)", 6)} AS precision_x1e6,
           |  ${text.fixedPoint(
               "CAST(tp AS DOUBLE) / greatest(tp_all, 1)", 6)} AS recall_x1e6,
           |  ${text.fixedPoint(
               "CAST(2 * tp AS DOUBLE) / greatest(tp + fp + tp_all, 1)",
               6)} AS f1_x1e6
           |FROM pr, tot ORDER BY threshold_bin""".stripMargin
      }) { (s, dir) =>
      val b = share(evalBinsDf(s, dir))
      val tot = b.agg(sum("p").cast("long").as("tp_all"))
      val b2 = b.select(col("bin").as("bin2"), col("p").as("p2"),
        col("n").as("n2"))
      b.join(broadcast(b2), col("bin2") >= col("bin"))
        .groupBy("bin")
        .agg(sum("p2").cast("long").as("tp"), sum("n2").cast("long").as("fp"))
        .crossJoin(broadcast(tot))
        .select(col("bin").as("threshold_bin"), col("tp"), col("fp"),
          (col("tp_all") - col("tp")).cast("long").as("fn"),
          expr(text.fixedPoint(
            "CAST(tp AS DOUBLE) / greatest(tp + fp, 1)", 6))
            .as("precision_x1e6"),
          expr(text.fixedPoint(
            "CAST(tp AS DOUBLE) / greatest(tp_all, 1)", 6)).as("recall_x1e6"),
          expr(text.fixedPoint(
            "CAST(2 * tp AS DOUBLE) / greatest(tp + fp + tp_all, 1)", 6))
            .as("f1_x1e6"))
        .orderBy("threshold_bin")
    },

    Q("q_auc",
      "Classifier evaluation, rank statistic: exact binned AUC (Mann-" +
        "Whitney with the half-credit tie convention — every score pair " +
        "inside one bin counts 0.5) of the hashing classifier against the " +
        "heuristic gate. The identity AUC = (concordant + ties/2)/(P*N) " +
        "needs only, per bin, the count of negatives in LOWER bins — a " +
        "bounded left triangle join, so the whole statistic costs one " +
        "corpus pass + bin-table arithmetic: no global rank, no " +
        "single-task window, and the bin tables merge associatively " +
        "across partitions exactly like the sketch family. (The measured " +
        "AUC is ~0.49: hash-derived weights are independent of the gate " +
        "by construction, so ~0.5 is the HONEST readout — the operator " +
        "under test is the eval machinery, not the stand-in classifier)",
      Some {
        s"""WITH b AS $evalBinsSql,
           |tot AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
           |               CAST(sum(n) AS BIGINT) AS n_neg FROM b),
           |below AS (SELECT b1.bin, b1.p, b1.n,
           |            CAST(coalesce(sum(b2.n), 0) AS BIGINT) AS n_below
           |          FROM b b1 LEFT JOIN b b2 ON b2.bin < b1.bin
           |          GROUP BY b1.bin, b1.p, b1.n)
           |SELECT n_pos, n_neg,
           |  CAST(sum(p * n_below) AS BIGINT) AS n_concordant,
           |  CAST(sum(p * n) AS BIGINT) AS n_tied,
           |  ${text.fixedPoint(
               "(CAST(sum(p * n_below) AS DOUBLE) + 0.5 * sum(p * n)) / " +
                 "greatest(n_pos * n_neg, 1)", 6)} AS auc_x1e6
           |FROM below, tot GROUP BY n_pos, n_neg
           |ORDER BY n_pos""".stripMargin
      }) { (s, dir) =>
      val b = share(evalBinsDf(s, dir))
      val tot = b.agg(sum("p").cast("long").as("n_pos"),
        sum("n").cast("long").as("n_neg"))
      val b2 = b.select(col("bin").as("bin2"), col("n").as("n2"))
      b.join(broadcast(b2), col("bin2") < col("bin"), "left")
        .groupBy("bin", "p", "n")
        .agg(coalesce(sum("n2"), lit(0L)).cast("long").as("n_below"))
        .crossJoin(broadcast(tot))
        .groupBy("n_pos", "n_neg")
        .agg(sum(col("p") * col("n_below")).cast("long").as("n_concordant"),
          sum(col("p") * col("n")).cast("long").as("n_tied"))
        .select(col("n_pos"), col("n_neg"), col("n_concordant"), col("n_tied"),
          expr(text.fixedPoint(
            "(CAST(n_concordant AS DOUBLE) + 0.5 * n_tied) / " +
              "greatest(n_pos * n_neg, 1)", 6)).as("auc_x1e6"))
        .orderBy("n_pos")
    },

    Q("q_curation_e2e",
      "The whole curation recipe as ONE declarative plan — quality gate, " +
        "exact dedup, train/val/test split, per-(split, source) yield — " +
        "proving the catalog's stages COMPOSE: a user chains the operators " +
        "and Catalyst fuses the scan-side steps (gate predicates and split " +
        "assignment are projections hugging the dedup exchange), so the " +
        "4-stage pipeline costs two keyed shuffles (dedup by content, " +
        "final rollup) plus the output sort — at 100 TB the recipe reads " +
        "the corpus ONCE. Stage " +
        "semantics reuse the standalone operators verbatim: the " +
        "q_quality_filter token gate, q_dedup_exact's min-id-per-text " +
        "survivor, q_train_test_split's key-mix split",
      Some {
        val nt = text.nTokens(D, "text")
        s"""SELECT split, source, count(*) AS n_docs,
           |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens
           |FROM (
           |  SELECT source, n_tok, CASE
           |      WHEN ($mixDoc) % 10 < 8 THEN 'train'
           |      WHEN ($mixDoc) % 10 = 8 THEN 'val'
           |      ELSE 'test' END AS split
           |  FROM (
           |    SELECT source, doc_id, n_tok,
           |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           |    FROM (
           |      SELECT source, doc_id, text, $nt AS n_tok
           |      FROM documents)
           |    WHERE n_tok BETWEEN 20 AND 5000)
           |  WHERE rn = 1)
           |GROUP BY split, source
           |ORDER BY split, source""".stripMargin
      }) { (s, dir) =>
      val w = Window.partitionBy("text").orderBy("doc_id")
      documents(s, dir)
        .select(col("source"), col("doc_id"), col("text"),
          expr(text.nTokens(S, "text")).as("n_tok"))
        .filter(col("n_tok").between(20, 5000))          // gate
        .withColumn("rn", row_number().over(w))          // exact dedup
        .filter(col("rn") === 1)
        .withColumn("split", expr(                       // split
          s"""CASE WHEN ($mixDoc) % 10 < 8 THEN 'train'
             |     WHEN ($mixDoc) % 10 = 8 THEN 'val'
             |     ELSE 'test' END""".stripMargin))
        .groupBy("split", "source")                      // yield
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("sum_tokens"))
        .orderBy("split", "source")
    },

    Q("q_chunk_cdc",
      "Content-defined chunking (the LBFS/FastCDC boundary rule, token " +
        "granularity — unrelated to q_cdc_apply's change-data-capture): a " +
        "chunk ends wherever the rolling 3-token window hash is 0 mod 8, " +
        "so boundaries depend ONLY on local content — prepend two tokens " +
        "to a doc and every boundary past the first window lands on the " +
        "same content again, where q_chunk_overlap's fixed windows all " +
        "shift (the property that makes storage-level and crawl-recrawl " +
        "dedup survive insertions). The corpus here is documents plus a " +
        "'zz zz '-prefixed copy of each, and the output PROVES the resync: " +
        "the top duplicated chunk fingerprints all occur in an original " +
        "and its shifted twin. Shape: the per-doc chunking (gram hashes, " +
        "boundary flags, fingerprint folds) is ONE compiled-kernel pass " +
        "per row (TextSig.cdcChunkFps) — scan-shaped, only the corpus-" +
        "level fingerprint rollup shuffles; the oracle independently " +
        "derives the same chunks relationally (explode + doc-partitioned " +
        "cumsum window + per-chunk fold), so kernel and derivation check " +
        "each other",
      Some {
        val P = text.P
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, 'zz zz ' || text FROM documents),
           |staged AS (
           |  SELECT doc_id, ${text.tokenHashes(D, "text")} AS ths,
           |    ${text.gramHashes(D, "text", 3)} AS ghs
           |  FROM corpus),
           |toks AS (
           |  SELECT doc_id,
           |    unnest(ths) AS h,
           |    unnest(generate_series(1, len(ths))) AS pos,
           |    unnest(${D.transform(D.seq("1", D.size("ths")), "i",
                 s"CASE WHEN i >= 3 AND ${D.elementAt("ghs", "i - 2")} % 8 = 0 " +
                   "THEN 1 ELSE 0 END")}) AS f
           |  FROM staged),
           |chunked AS (
           |  SELECT doc_id, h, pos,
           |    sum(f) OVER (PARTITION BY doc_id ORDER BY pos) - f AS chunk
           |  FROM toks),
           |fps AS (
           |  SELECT doc_id, chunk,
           |    ${D.fold("list(h ORDER BY pos)", "CAST(0 AS BIGINT)",
                 "acc", "x", s"(acc * 131 + x) % $P")} AS fp,
           |    count(*) AS len
           |  FROM chunked GROUP BY doc_id, chunk)
           |SELECT fp, count(DISTINCT doc_id) AS n_docs,
           |  count(*) AS n_occurrences, CAST(max(len) AS BIGINT) AS chunk_len
           |FROM fps GROUP BY fp
           |HAVING count(*) >= 2 AND CAST(max(len) AS BIGINT) >= 4
           |ORDER BY n_occurrences DESC, fp
           |LIMIT 20""".stripMargin
      }) { (s, dir) =>
      val base = documents(s, dir).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(base.select(
        (col("doc_id") + 10000).as("doc_id"),
        concat(lit("zz zz "), col("text")).as("text")))
      // compiled kernel: the whole per-doc chunking (gram hashes, boundary
      // flags, fingerprint folds) is one pass per row, replacing the
      // token explode + doc-partitioned cumsum window + per-chunk
      // aggregate of the relational form the oracle runs (measured 5.9 s
      // isolated at sf0.1 -> scan-bound); the oracle still runs the
      // relational derivation, so any kernel drift breaks the hash
      corpus
        .select(col("doc_id"),
          explode(graft.functions.TextSig.cdcChunkFpsUdf(
            col("text"), lit(3), lit(8))).as("ch"))
        .select(col("doc_id"), col("ch._1").as("fp"), col("ch._2").as("len"))
        .groupBy("fp")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"),
          max(col("len")).as("chunk_len"))
        // substantive chunks only: 1-token boundary chunks repeat across
        // the whole corpus trivially and would bury the twin-resync signal
        .filter(col("n_occurrences") >= 2 && col("chunk_len") >= 4)
        .orderBy(desc("n_occurrences"), col("fp"))
        .limit(20)
    },

    Q("q_bpe_encode",
      "Tokenizer application — the other half of q_bpe_pairs' training " +
        "step: replay a 4-entry ranked merge table ((t,h)->(th,e) chains " +
        "into 'the', plus (i,n) and (e,r)) over the corpus and report the " +
        "top-25 encoded tokens by occurrence. Canonical BPE semantics per " +
        "pass: greedy leftmost, merged tokens don't re-merge within their " +
        "pass, merges compose in priority order (text.bpeApply — one " +
        "sequential fold per merge). Scale shape is q_bpe_pairs': the " +
        "corpus pays ONE map-side-combined word count, the per-word " +
        "encode fold runs over the vocab-sized distinct-word table " +
        "carrying its count, and occurrence totals are count-weighted " +
        "sums — a 100 TB corpus never re-encodes a repeated word",
      Some {
        val enc = text.bpeApply(D, D.splitChars("w"), BpeMerges)
        s"""SELECT tok, CAST(sum(c) AS BIGINT) AS n_occurrences,
           |  count(*) AS n_words
           |FROM (
           |  SELECT unnest(toks) AS tok, c FROM (
           |    SELECT $enc AS toks, c FROM (
           |      SELECT w, count(*) AS c FROM (
           |        SELECT unnest(${text.tokens(D, "text")}) AS w
           |        FROM documents)
           |      GROUP BY w)))
           |GROUP BY tok
           |ORDER BY n_occurrences DESC, tok
           |LIMIT 25""".stripMargin
      }) { (s, dir) =>
      // compiled kernel, not the foldArr fragment: the 4-level nested
      // interpreted fold measured 5.9 s isolated at sf0.1, the kernel is
      // scan-bound; the DuckDB oracle still runs the fragment, so kernel
      // drift breaks the hash (plus direct parity in ModulesSpec)
      documents(s, dir)
        .select(explode(expr(text.tokens(S, "text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .select(explode(graft.functions.TextSig.bpeEncodeUdf(BpeMerges)(col("w")))
          .as("tok"), col("c"))
        .groupBy("tok")
        .agg(sum(col("c")).cast("long").as("n_occurrences"),
          count(lit(1)).as("n_words"))
        .orderBy(desc("n_occurrences"), col("tok"))
        .limit(25)
    },

    Q("q_bpe_train",
      "Tokenizer training, the FULL loop (closing q_bpe_pairs' one-" +
        "iteration gap the way q_kmeans_iter closed it for centroids): 4 " +
        "unrolled count-pairs -> take-best-merge -> re-segment rounds over " +
        "the word-frequency table, emitting the ranked merge table that " +
        "q_bpe_encode-style replay consumes. The corpus pays ONE map-side-" +
        "combined word count; each round's pair count explodes only the " +
        "vocab's segmentations, the best pair is a global top-1 " +
        "(TakeOrderedAndProject) broadcast back as a 1-row frame, and the " +
        "re-segment is the compiled one-pass merge kernel — per-round " +
        "lineage truncated like Dedup.clusters. The oracle replays the " +
        "identical rounds as a WITH chain with the merge rendered from the " +
        "same dialect builder the kernel mirrors",
      Some(s"""${bpeTrainSql(4)}
              |SELECT rank, a, b, n FROM (
              |  SELECT CAST(1 AS BIGINT) AS rank, a, b, n FROM b1
              |  UNION ALL SELECT 2, a, b, n FROM b2
              |  UNION ALL SELECT 3, a, b, n FROM b3
              |  UNION ALL SELECT 4, a, b, n FROM b4)
              |ORDER BY rank""".stripMargin)) { (s, dir) =>
      bpeTrain(s, dir, 4)._1.orderBy("rank")
    },

    Q("q_bpe_train_encode",
      "Train-then-encode end to end: the corpus encoded under the merge " +
        "table q_bpe_train just learned, as ONE plan — the trainer's " +
        "re-segmented word table IS the encode (replaying the ranked " +
        "merges equals the trainer's own passes, asserted in ModulesSpec), " +
        "so consuming it costs only the vocab-sized explode + weighted " +
        "count, never a corpus re-scan. Top-25 learned tokens by " +
        "occurrence; same output shape as q_bpe_encode for comparison",
      Some(s"""${bpeTrainSql(4)}
              |SELECT tok, CAST(sum(c) AS BIGINT) AS n_occurrences,
              |  count(*) AS n_words
              |FROM (SELECT unnest(seg) AS tok, c FROM wf4)
              |GROUP BY tok
              |ORDER BY n_occurrences DESC, tok
              |LIMIT 25""".stripMargin)) { (s, dir) =>
      bpeTrain(s, dir, 4)._2
        .select(explode(col("seg")).as("tok"), col("c"))
        .groupBy("tok")
        .agg(sum(col("c")).cast("long").as("n_occurrences"),
          count(lit(1)).as("n_words"))
        .orderBy(desc("n_occurrences"), col("tok"))
        .limit(25)
    },

    Q("q_collocations",
      "Collocation mining, word2vec-standard form (the distributional-" +
        "statistics op behind phrase detection): unordered token pairs " +
        "co-occurring within a +-4-token window, token-level joint " +
        "frequency and LIFT = n_ab*N/(n_a*n_b) — the PMI statistic kept " +
        "as an exact-integer ratio instead of its log, because IEEE " +
        "division of exact counts replays bit-identically across engines " +
        "where libm's ln need not. Support floor n_ab >= 50, top-20 by " +
        "lift. Scale shape: pair generation is a per-row array kernel " +
        "(each position pairs with at most the 4 tokens after it), so a " +
        "doc emits <= 4*len pairs — LINEAR in doc length, where the " +
        "r6 document-level form was doc-length SQUARED (one 10k-distinct-" +
        "token log dump emitted ~50M pairs from a single row). Unigram " +
        "counts broadcast back (vocab-sized), N is one broadcast scalar",
      Some(s"""WITH d AS (SELECT doc_id, ${text.tokens(D, "text")} AS toks
              |  FROM documents),
              |t AS (SELECT doc_id, i AS pos, toks[i] AS w
              |      FROM d, unnest(generate_series(1, len(toks))) AS s(i)),
              |nw AS (SELECT w, count(*) AS nw FROM t GROUP BY w),
              |nt AS (SELECT count(*) AS n FROM t),
              |ab AS (SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb,
              |         count(*) AS nab
              |       FROM t a JOIN t b ON a.doc_id = b.doc_id
              |         AND b.pos BETWEEN a.pos + 1 AND a.pos + 4
              |       WHERE a.w <> b.w
              |       GROUP BY 1, 2)
              |SELECT wa, wb, CAST(nab AS BIGINT) AS n_cooc,
              |  ${text.fixedPoint(
                  "CAST(nab AS DOUBLE) * n / (CAST(na.nw AS DOUBLE) * nb.nw)",
                  4)} AS lift_x10k
              |FROM ab
              |JOIN nw na ON na.w = ab.wa
              |JOIN nw nb ON nb.w = ab.wb
              |CROSS JOIN nt
              |WHERE nab >= 50
              |ORDER BY lift_x10k DESC, wa, wb
              |LIMIT 20""".stripMargin)) { (s, dir) =>
      // the oracle replays the window as a positions range-join (fine for
      // a correctness gate); the engine never joins — the window pairs are
      // generated INSIDE the row by one HOF projection, so the only
      // shuffles are the two vocab-sized aggregates
      val dw = share(documents(s, dir)
        .select(col("doc_id"), expr(text.tokens(S, "text")).as("toks")))
      val pairs = dw.select(explode(expr(windowPairsExpr("toks", 4))).as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      val tok = dw.select(explode(col("toks")).as("w"))
      val nw = tok.groupBy("w").agg(count(lit(1)).as("nw"))
      val nt = tok.agg(count(lit(1)).as("n"))
      val ab = pairs.groupBy("wa", "wb").agg(count(lit(1)).as("nab"))
        .filter(col("nab") >= 50)
      ab.join(broadcast(nw.select(col("w").as("wa"), col("nw").as("na"))), "wa")
        .join(broadcast(nw.select(col("w").as("wb"), col("nw").as("nb"))), "wb")
        .crossJoin(broadcast(nt))
        .select(col("wa"), col("wb"), col("nab").cast("long").as("n_cooc"),
          expr(text.fixedPoint(
            "CAST(nab AS DOUBLE) * n / (CAST(na AS DOUBLE) * nb)", 4))
            .as("lift_x10k"))
        .orderBy(desc("lift_x10k"), col("wa"), col("wb"))
        .limit(20)
    },

    Q("q_wordpiece",
      "WordPiece-family tokenizer, trained AND applied in one plan (the " +
        "BERT-style greedy longest-match alternative to the BPE pair): " +
        "vocab = every corpus character plus the top-40 2..4-char " +
        "substrings by count-weighted frequency; segmentation = at each " +
        "position take the longest vocab piece that matches (single " +
        "chars guarantee progress). Segmentation runs in the compiled " +
        "wordpiecePieces kernel — one pass per word against the " +
        "broadcast sorted vocab (r14: the relational best-piece table + " +
        "11 chained frontier hops it replaces were ~14 sequential " +
        "exchanges of pure overhead; the bpeEncode kernel lesson). The " +
        "oracle still replays the functional-graph reachability as a " +
        "recursive CTE, so kernel drift breaks the hash. Scale shape: " +
        "the corpus pays ONE map-side-combined word count; everything " +
        "later is vocab-sized or per-row scan work",
      Some(s"""WITH RECURSIVE
              |wf AS (SELECT w, count(*) AS c FROM (
              |  SELECT unnest(${text.tokens(D, "text")}) AS w FROM documents)
              |  WHERE length(w) <= $MaxWordLen GROUP BY w),
              |pc AS (SELECT substr(w, i, L) AS p, sum(c) AS score
              |       FROM wf, unnest(generate_series(2, 4)) AS ls(L),
              |            unnest(generate_series(1, length(w) - L + 1)) AS ps(i)
              |       GROUP BY p),
              |tp AS (SELECT p FROM pc ORDER BY score DESC, p LIMIT 40),
              |ch AS (SELECT DISTINCT substr(w, i, 1) AS p
              |       FROM wf, unnest(generate_series(1, length(w))) AS ps(i)),
              |vocab AS (SELECT p FROM tp UNION SELECT p FROM ch),
              |best AS (SELECT w, c, pos, max(L) AS best_len
              |         FROM (SELECT wf.w, wf.c, ps.i - 1 AS pos, ls.L
              |               FROM wf, unnest(generate_series(1, 4)) AS ls(L),
              |                    unnest(generate_series(1, length(w))) AS ps(i)
              |               WHERE ps.i - 1 + ls.L <= length(w)
              |                 AND substr(w, ps.i, ls.L) IN (SELECT p FROM vocab))
              |         GROUP BY w, c, pos),
              |reach AS (SELECT w, 0 AS pos FROM wf
              |          UNION ALL
              |          SELECT r.w, r.pos + b.best_len FROM reach r
              |          JOIN best b ON b.w = r.w AND b.pos = r.pos
              |          WHERE r.pos + b.best_len < length(r.w))
              |SELECT substr(b.w, b.pos + 1, b.best_len) AS tok,
              |  CAST(sum(b.c) AS BIGINT) AS n_occurrences, count(*) AS n_sites
              |FROM reach r JOIN best b ON b.w = r.w AND b.pos = r.pos
              |GROUP BY tok ORDER BY n_occurrences DESC, tok
              |LIMIT 25""".stripMargin)) { (s, dir) =>
      val wf = share(wordFreq(s, dir))
      val top = wf
        .select(col("w"), col("c"), explode(expr("sequence(2, 4)")).as("L"))
        .filter(length(col("w")) >= col("L"))
        .select(explode(expr(
          "transform(sequence(1, length(w) - L + 1), i -> substr(w, i, L))"))
          .as("p"), col("c"))
        .groupBy("p").agg(sum("c").as("score"))
        .orderBy(desc("score"), col("p")).limit(40).select("p")
      val ch = wf.select(explode(expr(
        "transform(sequence(1, length(w)), i -> substr(w, i, 1))")).as("p"))
        .distinct()
      val vocab = top.union(ch).distinct()
      // greedy longest-match runs in the compiled wordpiecePieces kernel
      // (one pass per word against the broadcast sorted-vocab row) — the
      // r13 relational best-piece table + 11 chained frontier joins were
      // ~14 sequential exchanges; the oracle keeps the recursive-CTE
      // form, so kernel drift breaks the hash (parity in ModulesSpec).
      // Measured at sf0.1 (interleaved A/B, 3-rep medians, same host,
      // r14): 1.70 -> 0.60 s
      wf.crossJoin(broadcast(vocabRow(vocab)))
        .select(col("c"), explode(graft.functions.TextSig
          .wordpiecePathUdf(MaxPiece)(col("w"), col("ps"))).as("tok"))
        .groupBy("tok")
        .agg(sum("c").cast("long").as("n_occurrences"),
          count(lit(1)).as("n_sites"))
        .orderBy(desc("n_occurrences"), col("tok"))
        .limit(25)
    },

    Q("q_unigram_tokenizer",
      "Unigram-LM tokenizer (the SentencePiece-family third member of " +
        "the trio, next to q_bpe_train's merge ranks and q_wordpiece's " +
        "greedy longest-match): SAME vocab constructor as q_wordpiece " +
        "(every corpus char + top-40 2..4-char substrings), but " +
        "segmentation is the GLOBAL max-likelihood path — Viterbi over " +
        "per-piece log-probabilities ln(score/total) quantized x1e6 " +
        "(the q_weighted_sample libm-ln caveat class; sums of the " +
        "quantized integers are then exact, and every argmax carries " +
        "the (sum desc, len desc, piece) tie-break so the chosen path " +
        "is unique in both engines). The engine runs the DP in the " +
        "compiled unigramPathPieces kernel — suffix-best, argmax and " +
        "frontier walk in one exact-integer pass per word against the " +
        "broadcast sorted vocab (r14: the relational 12-round Bellman " +
        "unroll it replaces was ~24 sequential exchanges of pure " +
        "overhead; the bpeEncode kernel lesson); the ORACLE keeps the " +
        "unrolled recurrence as engine-shared ANSI rounds, so kernel " +
        "drift breaks the hash. Scale shape: the corpus pays ONE " +
        "map-side-combined word count; everything later is vocab-sized " +
        "or per-row scan work",
      Some(s"""WITH RECURSIVE
              |wf AS (SELECT w, count(*) AS c FROM (
              |  SELECT unnest(${text.tokens(D, "text")}) AS w FROM documents)
              |  WHERE length(w) <= $MaxWordLen GROUP BY w),
              |pc AS (SELECT substr(w, i, L) AS p, CAST(sum(c) AS BIGINT) AS score
              |       FROM wf, unnest(generate_series(1, 4)) AS ls(L),
              |            unnest(generate_series(1, length(w) - L + 1)) AS ps(i)
              |       GROUP BY p),
              |tp AS (SELECT p, score FROM pc WHERE length(p) >= 2
              |       ORDER BY score DESC, p LIMIT 40),
              |chv AS (SELECT p, score FROM pc WHERE length(p) = 1),
              |vocab AS (SELECT p, score FROM tp UNION ALL SELECT p, score FROM chv),
              |tot AS (SELECT CAST(sum(score) AS BIGINT) AS total FROM vocab),
              |vl AS (SELECT p,
              |         ${text.fixedPoint("ln(CAST(score AS DOUBLE) / total)", 6)} AS lp
              |       FROM vocab, tot),
              |cand AS (SELECT wf.w, wf.c, ps.i - 1 AS pos, ls.L, vl.lp, vl.p
              |         FROM wf, unnest(generate_series(1, 4)) AS ls(L),
              |              unnest(generate_series(1, length(w))) AS ps(i), vl
              |         WHERE ps.i - 1 + ls.L <= length(w)
              |           AND vl.p = substr(w, ps.i, ls.L)),
              |dbase AS (SELECT w, length(w) AS pos, CAST(0 AS BIGINT) AS best
              |          FROM wf),
              |d0 AS (SELECT * FROM dbase),
              |${unigramDpRounds(MaxWordLen)},
              |chosen AS (SELECT w, c, pos, L, p FROM (
              |             SELECT c.w, c.c, c.pos, c.L, c.p,
              |               row_number() OVER (PARTITION BY c.w, c.pos
              |                 ORDER BY c.lp + b.best DESC, c.L DESC, c.p) AS rn
              |             FROM cand c JOIN d$MaxWordLen b
              |               ON b.w = c.w AND b.pos = c.pos + c.L)
              |           WHERE rn = 1),
              |reach AS (SELECT w, 0 AS pos FROM wf
              |          UNION ALL
              |          SELECT r.w, r.pos + s.L FROM reach r
              |          JOIN chosen s ON s.w = r.w AND s.pos = r.pos
              |          WHERE r.pos + s.L < length(r.w))
              |SELECT s.p AS tok, CAST(sum(s.c) AS BIGINT) AS n_occurrences,
              |  count(*) AS n_sites
              |FROM reach r JOIN chosen s ON s.w = r.w AND s.pos = r.pos
              |GROUP BY tok ORDER BY n_occurrences DESC, tok
              |LIMIT 25""".stripMargin)) { (s, dir) =>
      val wf = share(wordFreq(s, dir))
      val vocab = unigramVocab(wf)
      val vl = vocab
        .crossJoin(broadcast(vocab.agg(sum("score").cast("long").as("total"))))
        .select(col("p"),
          expr(text.fixedPoint("ln(CAST(score AS DOUBLE) / total)", 6)).as("lp"))
      segUsage(wf, vl)
        .select(col("p").as("tok"), col("n_occurrences"), col("n_sites"))
        .orderBy(desc("n_occurrences"), col("tok"))
        .limit(25)
    },

    Q("q_unigram_train",
      "Unigram-LM tokenizer TRAINING — one relational EM round on top of " +
        "q_unigram_tokenizer's segmentation (the SentencePiece " +
        "distinguishing step the fixed-vocab query omits): E-step = the " +
        "Viterbi segmentation under the initial substring-count scores " +
        "(Viterbi-approximated posterior, the hard-EM standard), M-step = " +
        "re-estimate each piece's score as its corpus-weighted usage in " +
        "the chosen paths, PRUNE the bottom half of the multi-char vocab " +
        "(top-20 of 40 by re-estimated usage; single chars always survive " +
        "for coverage, exactly SentencePiece's protected base alphabet), " +
        "then RE-SEGMENT under Laplace-smoothed log-probs " +
        "ln((used+1)/(total+|V|)) — smoothing keeps never-chosen base " +
        "chars finite. Both Viterbi passes run in the SAME compiled " +
        "unigramPathPieces kernel as q_unigram_tokenizer (x1e6-" +
        "quantized log-probs, exact-integer DP sums, unique argmax " +
        "tie-break); the ORACLE states both passes as the factored CTE " +
        "chain, so kernel drift breaks the hash. Scale shape: still " +
        "ONE corpus word count; everything downstream is vocab-word-" +
        "sized or per-row scan work, and the usage/prune/re-score step " +
        "between passes touches only the ~(40+chars)-row vocab",
      Some(s"""WITH RECURSIVE
              |wf AS MATERIALIZED (SELECT w, count(*) AS c FROM (
              |  SELECT unnest(${text.tokens(D, "text")}) AS w FROM documents)
              |  WHERE length(w) <= $MaxWordLen GROUP BY w),
              |pc AS MATERIALIZED (
              |       SELECT substr(w, i, L) AS p, CAST(sum(c) AS BIGINT) AS score
              |       FROM wf, unnest(generate_series(1, 4)) AS ls(L),
              |            unnest(generate_series(1, length(w) - L + 1)) AS ps(i)
              |       GROUP BY p),
              |tp AS (SELECT p, score FROM pc WHERE length(p) >= 2
              |       ORDER BY score DESC, p LIMIT 40),
              |chv AS (SELECT p, score FROM pc WHERE length(p) = 1),
              |vocab AS MATERIALIZED (
              |  SELECT p, score FROM tp UNION ALL SELECT p, score FROM chv),
              |tot AS (SELECT CAST(sum(score) AS BIGINT) AS total FROM vocab),
              |vl AS (SELECT p,
              |         ${text.fixedPoint("ln(CAST(score AS DOUBLE) / total)", 6)} AS lp
              |       FROM vocab, tot),
              |${unigramSegSql("vl", "a")},
              |usea AS (SELECT s.p, CAST(sum(s.c) AS BIGINT) AS used
              |         FROM reacha r JOIN chosena s
              |           ON s.w = r.w AND s.pos = r.pos
              |         GROUP BY s.p),
              |vj AS MATERIALIZED (
              |       SELECT v.p, COALESCE(u.used, CAST(0 AS BIGINT)) AS used
              |       FROM vocab v LEFT JOIN usea u ON u.p = v.p),
              |mult2 AS (SELECT p, used FROM vj WHERE length(p) >= 2
              |          ORDER BY used DESC, p LIMIT 20),
              |vocab2 AS MATERIALIZED (
              |           SELECT p, used FROM mult2
              |           UNION ALL
              |           SELECT p, used FROM vj WHERE length(p) = 1),
              |tot2 AS (SELECT CAST(sum(used) AS BIGINT) AS total,
              |                CAST(count(*) AS BIGINT) AS nv FROM vocab2),
              |vl2 AS (SELECT p,
              |          ${text.fixedPoint(
                 "ln((CAST(used AS DOUBLE) + 1.0) / " +
                   "(CAST(total AS DOUBLE) + CAST(nv AS DOUBLE)))", 6)} AS lp
              |        FROM vocab2, tot2),
              |${unigramSegSql("vl2", "b")}
              |SELECT s.p AS tok, CAST(sum(s.c) AS BIGINT) AS n_occurrences,
              |  count(*) AS n_sites
              |FROM reachb r JOIN chosenb s ON s.w = r.w AND s.pos = r.pos
              |GROUP BY tok ORDER BY n_occurrences DESC, tok
              |LIMIT 25""".stripMargin)) { (s, dir) =>
      val wf = share(wordFreq(s, dir))
      val vocab = unigramVocab(wf)
      val vl = vocab
        .crossJoin(broadcast(vocab.agg(sum("score").cast("long").as("total"))))
        .select(col("p"),
          expr(text.fixedPoint("ln(CAST(score AS DOUBLE) / total)", 6)).as("lp"))
      // E-step: corpus-weighted piece usage under the Viterbi paths. The
      // r13 eager checkpoint here guarded round B's planner against round
      // A's 12-hop frontier lineage; the kernel segmentation is 3 plan
      // nodes deep, so the leaf (and its extra eager job) is gone.
      val use1 = segUsage(wf, vl)
        .select(col("p"), col("n_occurrences").as("used"))
      // M-step: re-score by usage, prune the bottom multi-char slice;
      // single chars are the protected base alphabet
      val vj = vocab.join(use1, Seq("p"), "left")
        .select(col("p"), coalesce(col("used"), lit(0L)).as("used"))
      val vocab2 = vj.filter(length(col("p")) >= 2)
        .orderBy(desc("used"), col("p")).limit(20)
        .unionByName(vj.filter(length(col("p")) === 1))
      val vl2 = vocab2
        .crossJoin(broadcast(vocab2.agg(sum("used").cast("long").as("total"),
          count(lit(1)).as("nv"))))
        .select(col("p"), expr(text.fixedPoint(
          "ln((CAST(used AS DOUBLE) + 1.0) / " +
            "(CAST(total AS DOUBLE) + CAST(nv AS DOUBLE)))", 6)).as("lp"))
      // re-segment under the trained vocab
      segUsage(wf, vl2)
        .select(col("p").as("tok"), col("n_occurrences"), col("n_sites"))
        .orderBy(desc("n_occurrences"), col("tok"))
        .limit(25)
    },

    Q("q_kmeans_iter",
      "Embedding clustering, 2 unrolled Lloyd iterations (the k-means that " +
        "PRODUCES the centroid tables q_semdedup and q_ivf_topk consume): " +
        "k=8 centroids seeded from the lowest vec_ids, assignment = argmin " +
        "squared L2, update = per-dimension mean, reported as final " +
        "cluster sizes + centroid checksums. Everything is EXACT integer " +
        "arithmetic: vectors quantize x10k once, distances are the native " +
        "qdist_sq BIGINT kernel (codegen'd, scan-side — no float " +
        "association anywhere, so assignment can never flip under " +
        "repartitioning), and the mean divides two exact sums once per " +
        "(cluster, dim). Scale shape per iteration: the k x dim centroid " +
        "table broadcasts (KB), assignment is k kernel calls per row in " +
        "the scan, and the update exchange carries at most k x dim " +
        "(cluster, dim, sum, count) rows after map-side combine — the " +
        "corpus shuffles ZERO times; real runs checkpoint centroids per " +
        "iteration exactly like Dedup.clusters' label table",
      Some {
        val quant = D.transform(D.castDoubleArray("embedding"), "x",
          "CAST(floor(x * 10000.0 + 0.5) AS BIGINT)")
        s"""WITH qv AS (SELECT vec_id, $quant AS qv FROM embeddings),
           |c0 AS (SELECT vec_id AS cid, qv AS cq FROM qv WHERE vec_id < 8),
           |a1 AS (${kmAsgSql("c0")}),
           |c1 AS (${kmUpdSql("a1")}),
           |a2 AS (${kmAsgSql("c1")}),
           |c2 AS (${kmUpdSql("a2")})
           |SELECT a.cluster, count(*) AS n_members,
           |  ${D.fold("c.cq", "CAST(0 AS BIGINT)", "acc", "x", "acc + x")}
           |    AS cent_sum,
           |  ${D.fold("c.cq", "CAST(0 AS BIGINT)", "acc", "x", "acc + abs(x)")}
           |    AS cent_abs
           |FROM a2 a JOIN c2 c ON a.cluster = c.cid
           |GROUP BY a.cluster, cent_sum, cent_abs
           |ORDER BY cluster""".stripMargin
      }) { (s, dir) =>
      val qv = share(embeddings(s, dir).select(col("vec_id"),
        expr(S.transform(S.castDoubleArray("embedding"), "x",
          "CAST(floor(x * 10000.0 + 0.5) AS BIGINT)")).as("qv")))
      val c0 = qv.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("qv").as("cq"))
      val a2 = share(kmAssign(qv, kmUpdate(kmAssign(qv, c0))))
      val c2 = kmUpdate(a2)
      a2.groupBy("cluster").agg(count(lit(1)).as("n_members"))
        .join(c2.select(col("cid").as("cluster"),
          expr(S.fold("cq", "CAST(0 AS BIGINT)", "acc", "x", "acc + x"))
            .as("cent_sum"),
          expr(S.fold("cq", "CAST(0 AS BIGINT)", "acc", "x", "acc + abs(x)"))
            .as("cent_abs")), "cluster")
        .orderBy("cluster")
    },

    Q("q_tokenizer_fertility",
      "Tokenizer fertility accounting — the metric a team tracks when " +
        "choosing merges/vocab size: per source, tokens-per-word and " +
        "chars-per-token under the merge table q_bpe_train just learned " +
        "(ratios as exact-count divisions, x10k). Consumes the trainer's " +
        "own final segmentation through a vocab-sized broadcast join " +
        "back over the corpus words — the per-source re-scan is one " +
        "explode + map-side-combined rollup, and no word is ever " +
        "re-segmented (the q_bpe_train_encode consume contract, with " +
        "source attribution added)",
      Some(s"""${bpeTrainSql(4)},
              |tok AS (SELECT source, unnest(${text.tokens(D, "text")}) AS w
              |        FROM documents)
              |SELECT source, count(*) AS n_words,
              |  CAST(sum(len(f.seg)) AS BIGINT) AS n_tokens,
              |  CAST(sum(length(t.w)) AS BIGINT) AS n_chars,
              |  ${text.fixedPoint(
                  "CAST(sum(len(f.seg)) AS DOUBLE) / count(*)",
                  4)} AS tokens_per_word_x10k,
              |  ${text.fixedPoint(
                  "CAST(sum(length(t.w)) AS DOUBLE) / sum(len(f.seg))",
                  4)} AS chars_per_token_x10k
              |FROM tok t JOIN wf4 f ON f.w = t.w
              |GROUP BY source ORDER BY source""".stripMargin)) { (s, dir) =>
      val wf4 = bpeTrain(s, dir, 4)._2.select(col("w"), col("seg"))
      documents(s, dir)
        .select(col("source"), explode(expr(text.tokens(S, "text"))).as("w"))
        .join(broadcast(wf4), "w")
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("seg"))).cast("long").as("n_tokens"),
          sum(length(col("w"))).cast("long").as("n_chars"))
        .select(col("source"), col("n_words"), col("n_tokens"), col("n_chars"),
          expr(text.fixedPoint(
            "CAST(n_tokens AS DOUBLE) / n_words", 4)).as("tokens_per_word_x10k"),
          expr(text.fixedPoint(
            "CAST(n_chars AS DOUBLE) / n_tokens", 4)).as("chars_per_token_x10k"))
        .orderBy("source")
    },

    Q("q_cluster_topics",
      "Cluster LABELING — the step that turns q_kmeans_iter's anonymous " +
        "cluster ids into something a curation report can print: docs " +
        "cluster by their deterministic embedStub embeddings (the shared " +
        "exact-integer Lloyd machinery, k=4, 2 unrolled iterations), then " +
        "each cluster is named by its top-3 tokens ranked by tf x N/df — " +
        "tf-idf with the idf kept as an exact-count RATIO (the " +
        "q_collocations trick: IEEE division replays across engines, " +
        "libm's ln need not). Scale shape: clustering is the kmeans " +
        "shape (corpus never shuffles, centroids broadcast); labeling " +
        "adds one cluster-keyed token count, a vocab-sized df broadcast, " +
        "and a per-cluster window over vocab-sized groups",
      Some {
        val quant = "list_transform(e, x -> CAST(floor(x * 10000.0 + 0.5) " +
          "AS BIGINT))"
        s"""WITH emb AS (SELECT doc_id, ${vectors.embedStubSql(D, "text", 16)} AS e
           |            FROM documents),
           |qv AS (SELECT doc_id AS vec_id, $quant AS qv FROM emb),
           |c0 AS (SELECT vec_id AS cid, qv AS cq FROM qv WHERE vec_id < 4),
           |a1 AS (${kmAsgSql("c0")}),
           |c1 AS (${kmUpdSql("a1")}),
           |a2 AS (${kmAsgSql("c1")}),
           |tok AS (SELECT doc_id, unnest(${text.tokens(D, "text")}) AS tok
           |        FROM documents),
           |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
           |nd AS (SELECT count(*) AS n FROM documents),
           |tf AS (SELECT a.cluster, t.tok, count(*) AS tf
           |       FROM tok t JOIN a2 a ON a.vec_id = t.doc_id
           |       GROUP BY a.cluster, t.tok),
           |sz AS (SELECT cluster, count(*) AS n_docs FROM a2 GROUP BY cluster),
           |scored AS (SELECT cluster, tok,
           |    ${text.fixedPoint("CAST(tf AS DOUBLE) * n / df", 2)} AS score_x100,
           |    row_number() OVER (PARTITION BY cluster
           |      ORDER BY CAST(tf AS DOUBLE) * n / df DESC, tok) AS rk
           |  FROM tf JOIN dfq USING (tok) CROSS JOIN nd)
           |SELECT s.cluster, CAST(rk AS BIGINT) AS rank, tok, score_x100,
           |  CAST(z.n_docs AS BIGINT) AS n_docs
           |FROM scored s JOIN sz z ON z.cluster = s.cluster
           |WHERE rk <= 3
           |ORDER BY s.cluster, rank""".stripMargin
      }) { (s, dir) =>
      val qv = share(documents(s, dir)
        .select(col("doc_id").as("vec_id"),
          vectors.embedStub("text", 16).as("e"))
        .select(col("vec_id"), expr(S.transform("e", "x",
          "CAST(floor(x * 10000.0 + 0.5) AS BIGINT)")).as("qv")))
      val c0 = qv.filter(col("vec_id") < 4)
        .select(col("vec_id").as("cid"), col("qv").as("cq"))
      val a2 = kmAssign(qv, kmUpdate(kmAssign(qv, c0)))
        .select(col("vec_id").as("doc_id"), col("cluster"))
      val toks = share(documents(s, dir)
        .select(col("doc_id"), explode(expr(text.tokens(S, "text"))).as("tok")))
      val dfq = toks.distinct().groupBy("tok").agg(count(lit(1)).as("df"))
      val nd = documents(s, dir).agg(count(lit(1)).as("n"))
      val tf = toks.join(a2, "doc_id")
        .groupBy("cluster", "tok").agg(count(lit(1)).as("tf"))
      val sz = a2.groupBy("cluster").agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(dfq), "tok")
        .crossJoin(broadcast(nd))
        .withColumn("sc", expr("CAST(tf AS DOUBLE) * n / df"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("cluster").orderBy(desc("sc"), col("tok"))))
        .filter(col("rk") <= 3)
        .join(broadcast(sz), "cluster")
        .select(col("cluster"), col("rk").cast("long").as("rank"), col("tok"),
          expr(text.fixedPoint("sc", 2)).as("score_x100"),
          col("n_docs").cast("long").as("n_docs"))
        .orderBy("cluster", "rank")
    },

    Q("q_inverted_index",
      "Inverted-index build (the index behind q_bm25's keyword search, " +
        "materialized): token -> document frequency + the first 8 posting " +
        "doc_ids, top-20 tokens by df. The scale-honest formulation caps " +
        "the posting page BEFORE it crosses the exchange: the bounded-" +
        "buffer TopK Aggregator (constant score, id-ascending tie-break) " +
        "combines map-side, so at most 8 doc_ids per token per map " +
        "partition ship through the token shuffle, and df rides the same " +
        "partial aggregate as a plain count. A window-rank formulation " +
        "(the oracle's, and this query's until r6) shuffles EVERY distinct " +
        "(tok, doc) pair to the token's one partition first — a stopword's " +
        "postings are corpus-sized at 100 TB and land on one task (the " +
        "full index would land list-partitioned on disk, page by page, " +
        "exactly like AnnIndex's bucket layout)",
      Some(s"""SELECT tok, df,
              |  array_to_string(list_sort(list(doc_id)), ',') AS postings
              |FROM (
              |  SELECT tok, doc_id,
              |    CAST(count(*) OVER (PARTITION BY tok) AS BIGINT) AS df,
              |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
              |  FROM (SELECT DISTINCT doc_id, tok FROM (
              |    SELECT doc_id, unnest(${text.tokens(D, "text")}) AS tok
              |    FROM documents)))
              |WHERE rn <= 8
              |GROUP BY tok, df
              |ORDER BY df DESC, tok
              |LIMIT 20""".stripMargin)) { (s, dir) =>
      // TopK with a constant score ties every row, so the (score DESC,
      // id ASC) buffer order degenerates to id ASC — the 8 SMALLEST
      // doc_ids, already sorted the way the oracle's list_sort emits them
      val tk = graft.operators.TopK.topK(8)
      documents(s, dir)
        .select(col("doc_id"), explode(expr(text.tokens(S, "text"))).as("tok"))
        .distinct()
        .groupBy("tok")
        .agg(count(lit(1)).as("df"),
          tk(col("doc_id"), lit(0.0)).as("tk"))
        .select(col("tok"), col("df"),
          array_join(transform(col("tk").getField("id"),
            _.cast("string")), ",").as("postings"))
        .orderBy(desc("df"), col("tok"))
        .limit(20)
    },

    Q("q_text_normalize",
      "Unicode normalization — the stage-zero scrub every crawl pipeline " +
        "runs before hashing, shingling or language-ID (a decomposed " +
        "e+U+0301 and a composed é would otherwise dedup-miss and " +
        "tokenize apart): NFC compose, strip C0 controls except the five " +
        "ASCII whitespace controls (plus DEL), collapse whitespace runs " +
        "to one space, trim — pinned order, TextNorm.scala's contract. " +
        "Both engines build the same dirty input (combining marks, BEL, " +
        "CRLF, tab runs appended to each doc) and the oracle replays the " +
        "pipeline with DuckDB's own UAX#15 nfc_normalize + RE2, so the " +
        "kernel is checked against an independent Unicode implementation, " +
        "not against itself. Scale shape: one narrow per-row projection, " +
        "zero shuffle before the sort",
      Some("""WITH d AS (SELECT doc_id,
             |  substr(text, 1, 60) || ' Cafe' || chr(769) || ' A' || chr(778)
             |    || chr(9) || ' x' || chr(7) || 'y ' || chr(13) || chr(10)
             |    || ' end  ' AS raw
             |  FROM documents),
             |n AS (SELECT doc_id, raw,
             |  trim(regexp_replace(regexp_replace(nfc_normalize(raw),
             |    '[\x00-\x08\x0E-\x1F\x7F]', '', 'g'),
             |    '[ \x09-\x0D]+', ' ', 'g')) AS text_norm
             |  FROM d)
             |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
             |  CAST(length(text_norm) AS BIGINT) AS n_norm, text_norm
             |FROM n ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      import graft.functions.TextNorm
      documents(s, dir)
        .select(col("doc_id"), concat(substring(col("text"), 1, 60),
          lit(" Cafe\u0301 A\u030A\t x\u0007y \r\n end  ")).as("raw"))
        .withColumn("text_norm", TextNorm.normalizeCol(col("raw")))
        .select(col("doc_id"), length(col("raw")).cast("long").as("n_raw"),
          length(col("text_norm")).cast("long").as("n_norm"),
          col("text_norm"))
        .orderBy("doc_id")
    },

    Q("q_html_extract",
      "HTML-to-text extraction (trafilatura's job, kernel-sized): real " +
        "crawl corpora are markup, not text — drop script/style WITH " +
        "their content (the scanner must not leak 'var x = 1 < 2;' into " +
        "the corpus), every other tag becomes one space, entities decode " +
        "(named + decimal + hex), then the q_text_normalize collapse. " +
        "The oracle is by-construction: both engines assemble the same " +
        "HTML around each doc's text, and DuckDB states the expected " +
        "VISIBLE text directly — the extractor must invert the markup " +
        "exactly, including a per-doc variable link count whose hrefs " +
        "the kernel also extracts (n_links = the link-graph out-degree " +
        "feed). Scale shape: one per-row scanner pass, zero shuffle " +
        "before the sort",
      Some("""WITH d AS (SELECT doc_id,
             |  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
             |  regexp_replace(substr(text, 1, 50), '[^A-Za-z0-9 .,]', '', 'g')
             |    AS piece
             |  FROM documents)
             |SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS n_links,
             |  trim(regexp_replace(
             |    title || ' ' || title || ' ' || piece || ' & more ' ||
             |      repeat('L ', CAST(doc_id % 3 AS INT)) ||
             |      'x < y > z ''q'' "w" end AB',
             |    '[ \x09-\x0D]+', ' ', 'g')) AS text_out
             |FROM d ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      import graft.functions.TextNorm
      val title = concat(lit("Doc "), col("doc_id").cast("string"))
      val piece = regexp_replace(substring(col("text"), 1, 50),
        "[^A-Za-z0-9 .,]", "")
      val links = expr(
        "repeat('<a href=\"https://ex.org/p\">L</a>', cast(doc_id % 3 as int))")
      documents(s, dir)
        .select(col("doc_id"), concat(
          lit("<html><head><title>"), title,
          lit("</title><style>p{margin:0}</style></head>" +
            "<body><script>var x = 1 < 2;</script><h1>"), title,
          lit("</h1><p>"), piece, lit(" &amp; more</p>"), links,
          lit("<div>x &lt; y &gt; z &#39;q&#39; &quot;w&quot;&nbsp;end" +
            " &#65;&#x42;</div></body></html>")).as("html"))
        .select(col("doc_id"),
          size(TextNorm.extractLinksUdf(col("html"))).cast("long").as("n_links"),
          TextNorm.htmlToTextCol(col("html")).as("text_out"))
        .orderBy("doc_id")
    },

    Q("q_url_dedup",
      "URL canonicalization + crawl-level dedup: scheme/host lowercase, " +
        "default-port strip, fragment drop, tracking params (utm_*, " +
        "fbclid, gclid, msclkid) removed and the rest sorted, path " +
        "slash-collapse — TextNorm.canonicalizeUrl's pinned rules — then " +
        "group by canonical form. Both engines build the same raw URLs " +
        "(case, port, duplicate-slash, tracking-param variants that MUST " +
        "collapse) and the oracle states each URL's canonical form by " +
        "construction, so every rule is pinned; n_raw_variants proves " +
        "distinct raw spellings actually merged. Scale shape: one per-row " +
        "kernel + one map-side-combined aggregate on the canonical key — " +
        "URL-level dedup is the cheapest dedup tier and runs before any " +
        "content hash touches the corpus",
      Some("""WITH u AS (SELECT doc_id,
             |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
             |    || '://WWW.Example' || (doc_id % 7) || '.Com'
             |    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             |    || (CASE WHEN doc_id % 4 = 0 THEN '/a//b'
             |             WHEN doc_id % 4 = 1 THEN '/a/b/' ELSE '/a/b' END)
             |    || (CASE WHEN doc_id % 2 = 0
             |         THEN '?utm_source=news&b=' || (doc_id % 5)
             |           || '&a=xyz&fbclid=F#sec'
             |         ELSE '?a=xyz&b=' || (doc_id % 5) || '#sec' END) AS url,
             |  'https://www.example' || (doc_id % 7) || '.com/a/b?a=xyz&b='
             |    || (doc_id % 5) AS canonical_url
             |  FROM documents)
             |SELECT canonical_url, count(*) AS n_urls,
             |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
             |  CAST(min(doc_id) AS BIGINT) AS first_doc
             |FROM u GROUP BY canonical_url
             |ORDER BY canonical_url""".stripMargin)) { (s, dir) =>
      import graft.functions.TextNorm
      val raw = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
        lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".Com"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("/a//b"))
          .when(col("doc_id") % 4 === 1, lit("/a/b/"))
          .otherwise(lit("/a/b")),
        when(col("doc_id") % 2 === 0,
          concat(lit("?utm_source=news&b="), (col("doc_id") % 5).cast("string"),
            lit("&a=xyz&fbclid=F#sec")))
          .otherwise(concat(lit("?a=xyz&b="), (col("doc_id") % 5).cast("string"),
            lit("#sec"))))
      documents(s, dir)
        .select(col("doc_id"), raw.as("url"))
        .withColumn("canonical_url", TextNorm.canonicalizeUrlCol(col("url")))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct("url").as("n_raw_variants"),
          min("doc_id").as("first_doc"))
        .orderBy("canonical_url")
    }
  )
}
