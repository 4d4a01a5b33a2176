package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

import graft.functions.{text, TextSig, SparkDialect => S}

/** Corpus deduplication operators — the training-data-pipeline family.
  *
  * The reference's only dedup is exact-by-id (backend/chatbot.py:315); a
  * 100 TB document corpus needs the full ladder: exact → n-gram Jaccard →
  * MinHash LSH → SimHash → embedding cosine. Every operator here is a pure
  * declarative plan: per-row signature computation is a codegen'd projection
  * (no UDFs — all expressions come from [[graft.functions.text]]), and the
  * quadratic pair search is always bounded by a blocking key (the LSH band /
  * bit-chunk / caller-supplied block), so the shuffle is hash-partitioned by
  * block and no executor ever materializes the full cross product.
  *
  * Scale notes (1000-executor / 100 TB):
  *  - exact: one hash aggregate, fully map-side combinable.
  *  - Jaccard: only sane with a blocking column; prefer [[minhashLshPairs]].
  *  - MinHash LSH: the canonical near-dup path — shuffle is `bands × docs`
  *    rows keyed by (band_idx, band_hash); skewed mega-buckets (boilerplate
  *    docs) are dropped by the `maxBucket` cap (see [[pairJoin]]), audited
  *    via [[minhashBandBucketStats]].
  *  - SimHash: 16-bit chunks give a pigeonhole-exact prefilter for
  *    hamming ≤ 3 at 4 chunk-joins.
  *  - embedding: exact within blocks; for open-domain use [[AnnIndex]].
  */
object Dedup {

  /** Exact dedup by text content: one survivor (min key) per distinct text,
    * with the duplicate count. Single hash-aggregate, no join.
    *
    * NULL texts follow SQL GROUP BY semantics — they form ONE group with
    * one survivor, exactly the verdict the DuckDB oracle and the
    * streaming twin ([[graft.streaming.EventsStream.dedupStream]], where
    * the state store keys nulls the same way) reach, so the three
    * cadences can never disagree. That is deliberate and DIFFERENT from
    * the near-dup faces' "null doc matches nothing": exact dedup asks
    * "is the content byte-equal", and a caller for whom null means
    * MISSING (failed extraction) rather than "empty content" must filter
    * nulls upstream — keeping only `keep_id`s of this output would
    * otherwise discard every null-text document but one. */
  def exact(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol))
      .agg(min(col(keyCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop(textCol)

  /** Deterministically release a localCheckpoint'd frame's persisted
    * blocks (r13): `Dataset.unpersist` goes through the CacheManager and
    * no-ops on checkpoints, so without this the blocks live until the
    * driver GCs the frame and the ContextCleaner gets around to it — an
    * operator that checkpoints per call (pqFit) would pin one
    * copy of its largest intermediate per invocation in executor storage
    * between GCs. Callers may only release frames the RETURNED plan no
    * longer references (a released checkpoint cannot recompute — its
    * lineage is truncated by construction). No-op on non-checkpoint
    * frames, so round-1 loop bodies can release their uncheckpointed
    * seed unconditionally. */
  private[graft] def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Block keys whose bucket holds more than `maxBucket` rows — the
    * mega-buckets a cap excludes. Map-side-combinable aggregate whose
    * output is only the OVERSIZED keys, which are by definition few (each
    * holds > maxBucket of the corpus), so the frame broadcasts. */
  private def oversizedKeys(sigs: DataFrame, joinCols: Seq[String],
                            maxBucket: Int): DataFrame =
    sigs.groupBy(joinCols.map(col): _*)
      .agg(count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") > maxBucket)
      .drop("__n_docs")

  /** The mega-bucket cap every capped join here applies: `rows` minus
    * those whose `keys` bucket holds more than `maxBucket` rows of
    * `population` (a left-anti join against the broadcast
    * [[oversizedKeys]], null-safe like every key compare here). Buckets
    * at or under the cap are untouched; `Int.MaxValue` is no cap. */
  private def dropOversized(rows: DataFrame, population: DataFrame,
                            keys: Seq[String], maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) rows
    else {
      val over = oversizedKeys(population, keys, maxBucket)
        .select(keys.map(c => col(c).as(s"__over_$c")): _*)
      rows.join(broadcast(over),
        keys.map(c => col(c) <=> col(s"__over_$c")).reduce(_ && _),
        "left_anti")
    }

  /** Generic block-key bucket census — the drop-audit behind every
    * `maxBucket` cap here: one row per distinct `joinCols` key with its
    * bucket size, largest first. Run it before committing a cap to see
    * exactly which keys (and how many docs) the cap would exclude. One
    * map-side-combinable aggregate; at 100 TB add a LIMIT — only the head
    * (the skew) is ever interesting. */
  def blockBucketStats(sigs: DataFrame, joinCols: Seq[String]): DataFrame =
    sigs.groupBy(joinCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), col(joinCols.head))

  /** Capped blocked self-join — the one shape every pair-mining operator
    * in this file reduces to, public so ad-hoc blocking schemes (e.g. the
    * containment dedup's first-3-token prefix) get the same mega-bucket
    * protection as the LSH band join instead of re-rolling an uncapped
    * join. Contract: `sigs` must carry an `id` column (pair order is
    * `a.id < b.id`); output duplicates every column as `a_`/`b_` pairs.
    * Audit what a cap would drop with [[blockBucketStats]].
    *
    * `enrich` attaches columns AFTER the cap, before the self-join: put
    * expensive per-row signatures (shingle sets, embeddings) there rather
    * than in `sigs`, and they are computed only for rows that can still
    * pair — on a boilerplate-heavy corpus the cap drops the bulk of the
    * rows, and paying the signature UDF for a row the cap then discards
    * is pure waste (measured: the hot-prefix stress corpus drops ~100%,
    * and moving the shingle UDF into enrich removed the dominant cost).
    * Semantics are unchanged — dropped rows produce no pairs either way. */
  def pairJoin(sigs: DataFrame, joinCols: Seq[String],
               maxBucket: Int = Int.MaxValue,
               enrich: DataFrame => DataFrame = identity): DataFrame = {
    // Mega-bucket cap (drop-and-count, not salt-and-split): a block key
    // shared by > maxBucket docs is boilerplate by construction — its
    // pairs are O(bucket²) shuffle rows of near-zero information, and ONE
    // such key (a license header, a template page) can hold 30% of a
    // 100 TB corpus and sink the band shuffle. Dropping the bucket bounds
    // every join task at maxBucket² candidate rows and is deterministic;
    // a salted re-split would keep only a random 1/s of each mega-bucket's
    // pairs — nondeterministic recall with the same information loss.
    // Buckets at or under the cap are untouched (asserted in ModulesSpec);
    // audit what a cap would drop with [[minhashBandBucketStats]].
    // JOINS ARE NULL-SAFE (<=>) THROUGHOUT, deliberately: plain `=` makes
    // Spark infer isnotnull() on every join key and PUSH IT BELOW the
    // signature projection — the filter then re-evaluates the whole UDF
    // chain (tokenize + hash) once per key per branch, and the capped
    // self-join paid FOUR full signature passes where one suffices
    // (measured 43 s → 9 s at the M=120 hot-prefix stress corpus).
    // Null-safe equality infers no null filters, so signatures are
    // computed exactly once per projection. Semantics: null signature
    // keys (null text) now bucket together instead of never matching —
    // their pairs carry null similarity and every caller's threshold
    // drops them, so no survivor can differ.
    val bounded = dropOversized(sigs, sigs, joinCols, maxBucket)
    // shuffle_hash, never broadcast: both sides of this self-join are the
    // whole corpus, and the signature projections feeding it are UDF-heavy —
    // a broadcast build would evaluate one full side single-threaded on the
    // driver (measured 4x the query), and at 100 TB the corpus can't be
    // broadcast at all. Hash beats merge: the block key needs no sort.
    //
    // Self-join via .as() aliases with the a_/b_ renames AFTER the join,
    // not before: renaming first made the two shuffle subtrees textually
    // different, so ReuseExchange never fired and the UDF-heavy signature
    // projection ran TWICE (visible as two full scan+UDF branches in the
    // executed plan). With identical subtrees the second exchange reads
    // the first's shuffle files — signatures are computed once per corpus
    // pass, for free, with no checkpoint/persist memory cost.
    val full = enrich(bounded)
    val cols = full.columns.toIndexedSeq
    val a = full.as("a").hint("shuffle_hash")
    val b = full.as("b").hint("shuffle_hash")
    val cond = joinCols.map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _) &&
      col("a.id") < col("b.id")
    a.join(b, cond)
      .select(cols.map(c => col(s"a.$c").as("a_" + c)) ++
        cols.map(c => col(s"b.$c").as("b_" + c)): _*)
  }

  /** One dedup face's persisted store format, spelled once: the token
    * column, the token, the stale text (the token gate's mismatch
    * description), the partition columns and the batch's index-row
    * builder. Every step that touches the face's store reads it — the
    * batch refresh ([[refreshStore]]), the streaming seeder
    * ([[seedIngestStore]]), the streaming micro-batch
    * ([[storeIngestBatch]]) and the incremental mine
    * ([[incrementalJoin]]) — so no step can drift from another. The
    * serving stores' streaming faces ([[AnnIndex.ivfStoreIngestBatch]],
    * [[Quantize.pqStoreIngestBatch]]) spell theirs the same way. */
  private[operators] final case class StoreFormat(
      sigCol: String, sig: Long, stale: String,
      partitionCols: Seq[String], index: DataFrame => DataFrame)

  /** The incremental mine behind [[minhashIncrementalPairs]],
    * [[hammingIncrementalPairs]] and [[embeddingIncrementalPairs]]:
    * candidate pairs INVOLVING a new batch — new×corpus and new×new,
    * never corpus×corpus — of the batch's index `rows` (`f.index`
    * output, built once by the caller) against the face's prebuilt
    * persisted index. This is what makes continuous ingest dedup
    * affordable: per-batch cost is |batch| × bucket-mates, independent
    * of corpus size, where a from-scratch re-run grows with the corpus
    * square. The contract, for every face:
    *
    *  - Cap population: the `maxBucket` cap counts the FULL post-batch
    *    bucket (index ∪ batch) and drops it from BOTH sides
    *    ([[dropOversized]]), so a bucket the batch pushes over the cap
    *    drops exactly as a capped from-scratch run over old ∪ new would
    *    drop it: increment = that run restricted to pairs touching the
    *    batch (ModulesSpec pins it per face, with a bucket only the
    *    batch pushes over the cap, plus randomized trials). Buckets at
    *    the cap are untouched. Cap-dropped increments recover their
    *    connectivity from the periodic offline salvage sweep over the
    *    full store (the `*Salvage*` operators, on the audit cadence) or,
    *    in flight, from the streaming star tier (SCALE.md § "Continuous
    *    ingest").
    *  - Per-row geometry assert: a missing `f.sigCol` column is refused
    *    up front, and the token assert is folded into the last join key
    *    (zero added, or an empty string appended) — the load-bearing
    *    column — so it runs once per index row at key-hash time and
    *    fires even when nothing joins. An index built under another
    *    geometry would otherwise just never match and silently miss
    *    every cross pair; a per-candidate assert never fires when no
    *    keys join. The `<=>` compare makes a NULL token (a stamped ∪ raw
    *    union) fail the same assert.
    *  - Null-safe keys: every key compare is `<=>`, the [[pairJoin]]
    *    rationale — `=` makes Spark infer isnotnull(key) and push it
    *    below the signature projection, re-evaluating the UDF chain once
    *    per key per branch.
    *  - `shuffle_hash`: both sides are keyed by the block and carry
    *    UDF-built columns; a broadcast build would evaluate one side
    *    single-threaded on the driver, and hash beats merge because the
    *    block key needs no sort.
    *
    * Output: (a_id, b_id, the a_/b_ `payload` columns, the a-side
    * `keys`) with a_id ≠ b_id, a new×new pair in both orientations; each
    * face verifies, then collapses orientations with [[normalizedPairs]]. */
  private def incrementalJoin(name: String, f: StoreFormat,
                              rows: DataFrame, corpusIndex: DataFrame,
                              keys: Seq[String], payload: Seq[String],
                              maxBucket: Int): DataFrame = {
    require(corpusIndex.columns.contains(f.sigCol),
      s"$name carries no ${f.sigCol} token — rebuild it with its index " +
        "builder before mining increments against it")
    val cols = ("id" +: payload) ++ keys
    val guard = assert_true(col(f.sigCol) <=> lit(f.sig),
      lit(s"stale $name (or unstamped rows — a NULL ${f.sigCol} from a " +
        s"stamped ∪ raw union): ${f.stale}; rebuild the index"))
    val key = keys.last
    val checked =
      if (rows.schema(key).dataType == org.apache.spark.sql.types.StringType)
        concat(col(key), coalesce(guard.cast("string"), lit("")))
      else col(key) + coalesce(guard.cast("long"), lit(0L))
    val all = corpusIndex.select((cols :+ f.sigCol).map(col): _*)
      .unionByName(rows.select((cols :+ f.sigCol).map(col): _*))
      .select(cols.map(c => if (c == key) checked.as(c) else col(c)): _*)
    def side(df: DataFrame, p: String, keyAs: String => String) =
      dropOversized(df, all, keys, maxBucket)
        .select((col("id").as(s"${p}_id") +:
          payload.map(c => col(c).as(s"${p}_$c"))) ++
          keys.map(c => col(c).as(keyAs(c))): _*)
        .hint("shuffle_hash")
    side(rows.select(cols.map(col): _*), "a", identity)
      .join(side(all, "b", "__b_" + _),
        keys.map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _))
      .filter(col("a_id") =!= col("b_id"))
  }

  /** `pairs` with each pair's ids ordered a_id < b_id, plus `extra`
    * columns, deduplicated: a new×new pair [[incrementalJoin]] finds from
    * both orientations lands once (every face's `extra` is symmetric). */
  private def normalizedPairs(pairs: DataFrame, extra: Column*): DataFrame =
    pairs.select((least(col("a_id"), col("b_id")).as("a_id") +:
        greatest(col("a_id"), col("b_id")).as("b_id") +: extra): _*)
      .distinct()

  /** Near-duplicate pairs by word n-gram Jaccard similarity ≥ `threshold`,
    * compared only within equal `blockCol` (blocking bounds the quadratic).
    * Shingles are compared as BIGINT hashes, not strings — set ops over int
    * arrays are several times cheaper per pair and mod-1e9+7 collisions are
    * negligible next to the threshold. */
  def ngramJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                        blockCol: String, n: Int, threshold: Double,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    // NULL caller blocks never pair — SQL equality-blocking semantics.
    // pairJoin's null-safe keys are justified only when the key derives
    // from the same text as the signature (null key ⟺ null similarity,
    // the threshold backstop); a caller-supplied block column (domain,
    // language) can be NULL on rows with genuine text, and <=> would
    // compare all unknown-block rows against each other — and collapse
    // them into one uncapped mega-bucket. The filter runs on the raw
    // input column, before any UDF projection, so nothing re-evaluates.
    val sigs = df.filter(col(blockCol).isNotNull).select(
      col(keyCol).as("id"),
      col(blockCol).as("block"),
      TextSig.shingleHashesUdf(col(textCol), lit(n)).as("sh"))
    pairJoin(sigs, Seq("block"), maxBucket)
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Near-duplicate pairs by token-set Jaccard ≥ num/den via PREFIX
    * FILTERING (Chaudhuri et al. 2006 / PPJoin's base filter) — the
    * blocking-free exact alternative to [[ngramJaccardPairs]] when no
    * caller block column exists and LSH's probabilistic recall is not
    * acceptable. Tokens are globally ordered rarest-first (document
    * frequency, then hash); each doc contributes only its first
    * p = |T| − ⌈τ·|T|⌉ + 1 tokens as candidate keys. The prefix lemma
    * makes the filter LOSSLESS: any pair with J ≥ τ must share a prefix
    * token, so verification against the full token sets returns exactly
    * the true pairs (the oracle is the exact join). Candidate volume is
    * governed by the RAREST tokens — the opposite skew profile of a
    * plain inverted-index join, where the most common token dominates.
    *
    * The threshold is an exact rational num/den, NOT a double: the prefix
    * length and the J ≥ τ test are pure integer arithmetic
    * (⌈num·sz/den⌉ = (num·sz + den − 1) div den; den·|∩| ≥ num·|∪|), so
    * both engines agree at exact boundaries — a double ⌈0.8·5⌉ is 5 in
    * IEEE binary (0.8·5 rounds above 4) but 4 in DuckDB's DECIMAL
    * arithmetic, an engine-semantics trap the rational form removes.
    *
    * Scale (100 TB): the document-frequency table is vocab-sized and
    * broadcast by default, with `broadcastDfreq = false` as the explicit
    * escape hatch for a word-level vocab that outgrows the broadcast
    * ceiling (Heaps-law token counts on a raw web crawl) — leaving the
    * choice to AQE was measured BIMODAL at stress scale (tight 11-13 s
    * with the hint vs 12-44 s without, same code, M=24 ladder rung:
    * AQE only sometimes converts the post-agg join back to broadcast,
    * and the losing runs re-shuffle the UDF-tokenized explode), so the
    * strategy is a caller-declared fact, not a per-run coin flip; the
    * rarest-first rank is one window partitioned by doc
    * (rows per partition = |token set|, bounded by doc length); the
    * candidate join shuffles only prefix rows keyed by token. Residual
    * skew — a "rare" token that is still hot, or near-empty docs whose
    * whole 1-token set is its own prefix — is bounded by `maxBucket`
    * (same cap-and-audit contract as every pair face here; census the
    * drops with [[blockBucketStats]] on the prefix token). The length
    * filter den·min(|A|,|B|) ≥ num·max(|A|,|B|) prunes candidates before
    * verification; PPJoin's positional filter is deliberately omitted —
    * it cuts constants, not complexity, and would put per-candidate
    * position arithmetic in the oracle mirror for no asymptotic gain.
    * NULL texts have a NULL token set and never pair (the near-dup
    * null-semantics policy); EMPTY texts hash to the {0} singleton set
    * and pair only with each other at J = 1. */
  def prefixFilterJaccardPairs(df: DataFrame, keyCol: String, textCol: String,
                               num: Int, den: Int,
                               maxBucket: Int = Int.MaxValue,
                               broadcastDfreq: Boolean = true): DataFrame =
    prefixFilterJaccardPairsFromSets(tokenSets(df, keyCol, textCol),
      num, den, maxBucket, broadcastDfreq)

  /** The persistable distinct-token-set table (id, ts) feeding
    * [[prefixFilterJaccardPairsFromSets]] — the [[minhashSignatures]]
    * pattern: the tokenization pass is referenced three times in the pair
    * plan (prefix explode + both verification joins), so a 100 TB run
    * stores this table once and sweeps thresholds over it instead of
    * re-tokenizing the corpus per reference. Kernel shingles at n=1 are
    * exactly the distinct token hashes (LinkedHashSet in
    * [[TextSig.shingleHashes]]), but the explicit array_distinct keeps the
    * SQL mirror honest if the kernel ever changes shape. */
  def tokenSets(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.select(col(keyCol).as("id"),
      array_distinct(TextSig.shingleHashesUdf(col(textCol), lit(1))).as("ts"))

  /** [[prefixFilterJaccardPairs]] over a precomputed [[tokenSets]] table
    * (columns `id`, `ts`). */
  def prefixFilterJaccardPairsFromSets(tk: DataFrame, num: Int, den: Int,
                                       maxBucket: Int = Int.MaxValue,
                                       broadcastDfreq: Boolean = true): DataFrame = {
    require(num > 0 && num <= den, s"threshold $num/$den not in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val ex = tk.filter(col("ts").isNotNull)
      .select(col("id"), size(col("ts")).cast("long").as("sz"),
        explode(col("ts")).as("tok"))
    // document frequency per token. Broadcast is caller-gated, default on:
    // the table is vocab-sized (duplication adds no tokens), but a
    // word-level web-crawl vocab can exceed the broadcast ceiling —
    // broadcastDfreq = false hands the join to AQE then. The gate is NOT
    // left to AQE unconditionally: measured at the M=24 stress rung, AQE
    // only sometimes converted this post-aggregate join back to broadcast
    // (bimodal 12-44 s vs a tight 11-13 s hinted), because the conversion
    // races stage completion — and the losing plan re-shuffles the
    // UDF-tokenized explode feeding the rank window.
    val dfreq0 = ex.groupBy("tok").agg(count(lit(1)).as("dfreq"))
    val dfreq = if (broadcastDfreq) broadcast(dfreq0) else dfreq0
    val w = Window.partitionBy("id").orderBy(col("dfreq"), col("tok"))
    val pref = ex.join(dfreq, Seq("tok"))
      .withColumn("pos", row_number().over(w).cast("long"))
      // p = sz − ⌈num·sz/den⌉ + 1, all integer
      .filter(col("pos") <=
        col("sz") - expr(s"(($num * sz) + ${den - 1}) div $den") + lit(1L))
      .select("id", "sz", "tok")
    val bounded =
      if (maxBucket == Int.MaxValue) pref
      else {
        val over = oversizedKeys(pref.select("tok"), Seq("tok"), maxBucket)
          .select(col("tok").as("__over_tok"))
        pref.join(broadcast(over), col("tok") === col("__over_tok"), "left_anti")
      }
    // shuffle_hash on every corpus-sized side, same rationale as
    // [[pairJoin]]: both self-join sides are prefix rows of the whole
    // corpus and the tk verification sides carry the UDF-backed token-set
    // arrays — letting stats broadcast one evaluates the UDF chain
    // single-threaded on the driver (measured 4x at small scale), and at
    // 100 TB the corpus can't be broadcast at all
    val a = bounded.as("a").hint("shuffle_hash")
    val b = bounded.as("b").hint("shuffle_hash")
    val cand = a.join(b,
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) * den >=
            greatest(col("a.sz"), col("b.sz")) * num)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    // exact verification over the full token sets — candidate-sized joins
    cand
      .join(tk.select(col("id").as("a_id"), col("ts").as("a_ts"))
        .hint("shuffle_hash"), Seq("a_id"))
      .join(tk.select(col("id").as("b_id"), col("ts").as("b_ts"))
        .hint("shuffle_hash"), Seq("b_id"))
      .withColumn("inter", size(array_intersect(col("a_ts"), col("b_ts"))).cast("long"))
      .withColumn("uni", size(array_union(col("a_ts"), col("b_ts"))).cast("long"))
      .filter(col("inter") * den >= col("uni") * num)
      .select(col("a_id"), col("b_id"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** One row per (id, band): the LSH banding stage shared by
    * [[minhashLshPairs]] and [[minhashLshVerifiedPairs]] — the band-key
    * expression lives exactly once. `carryHashes` additionally threads the
    * shingle-hash array through (needed only when candidates get exact
    * Jaccard verification downstream; plain candidate mining skips the
    * array to keep the band shuffle narrow). */
  /** The persistable MinHash signature table: (id, hs, sig) — shingle-hash
    * set + k-value signature, computed in ONE compiled-kernel corpus pass.
    * This is the artifact a 100 TB pipeline stores once and sweeps dials
    * over: every (bands, rows) configuration in [[minhashLshVerifiedPairsFromSignatures]]
    * re-reads the same signatures instead of re-tokenizing the corpus
    * (the q_lsh_tuning shape — 3 sweeps, one signature pass). */
  def minhashSignatures(df: DataFrame, keyCol: String, textCol: String,
                        k: Int, shingleN: Int): DataFrame =
    // `sig_geom` is the persistence token (the [[minhashBandIndex]]
    // `band_sig` discipline for the signature artifact): a sweep that
    // re-loads a stored table under the wrong k is refused structurally
    // by [[bandedFromSignatures]]'s size check, but a shingleN mismatch
    // silently changes what "jaccard >= threshold" MEANS — a loader
    // should compare this column against its expected geometry before
    // sweeping (the banding faces drop it; it costs one literal).
    df.select(col(keyCol).as("id"),
      TextSig.shingleHashesUdf(col(textCol), lit(shingleN)).as("hs"),
      TextSig.minhashSigUdf(col(textCol), lit(shingleN), lit(k)).as("sig"),
      lit(k.toLong * 100000L + shingleN).as("sig_geom"))

  /** Band rows from a PRECOMPUTED signature table ([[minhashSignatures]]
    * output): the banding stage alone — cheap array slicing, no corpus
    * re-tokenization. */
  /** The LSH banding expression over a `sig` signature-array column:
    * one (band_idx, band_key) struct per band. Shared by
    * [[minhashLshPairs]]' banding stage and the streaming
    * [[graft.streaming.EventsStream.lshNearDupStream]], so the band-key
    * format lives exactly once. */
  private[graft] def bandStructsExpr(bands: Int, r: Int): String =
    s"transform(sequence(0, ${bands - 1}), j -> " +
      s"struct(j AS band_idx, array_join(slice(sig, j*$r + 1, $r), '_') AS band_key))"

  /** [[bandStructsExpr]] with the signature-length check folded INTO the
    * band key (the load-bearing column — an unused check column would be
    * optimizer-pruned): a persisted signature table re-loaded under the
    * wrong k slices EMPTY arrays into the phantom bands — band_key ""
    * for every doc, one corpus-wide bucket per band, silently. The fold
    * lives inside the transform so the check costs one size() per band
    * row and nothing is carried through the explode (an earlier shape
    * staged the sig array alongside the explode and paid the full
    * k-array copy per band row — measured 2× on the verified-pairs
    * fixture). Null sigs pass the assert (null band_key, dropped by the
    * caller's filter). */
  private def bandStructsExprChecked(bands: Int, r: Int, k: Int): String =
    s"transform(sequence(0, ${bands - 1}), j -> " +
      s"struct(j AS band_idx, concat(" +
      s"array_join(slice(sig, j*$r + 1, $r), '_'), " +
      s"coalesce(CAST(assert_true(sig IS NULL OR size(sig) = $k, " +
      s"'minhash signature length does not match k=$k — the signature " +
      s"table was built under a different k; rebuild it with " +
      s"minhashSignatures') AS STRING), '')) AS band_key))"

  private def bandedFromSignatures(sigs: DataFrame, k: Int, bands: Int,
                                   carryHashes: Boolean,
                                   carrySig: Boolean = false): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val r = k / bands
    val keep = col("id") +: ((if (carryHashes) Seq(col("hs")) else Nil) ++
      (if (carrySig) Seq(col("sig")) else Nil))
    sigs.select((keep :+
        explode(expr(bandStructsExprChecked(bands, r, k))).as("band")): _*)
      // a NULL signature (null text) bands to NULL band_key in EVERY
      // band; pairJoin's deliberate null-safe keys would then bucket all
      // null-text docs together and emit them as maximal-confidence
      // candidates (n_bands = bands) with no similarity backstop on the
      // candidate faces — the oracle's plain `=` band join never matches
      // NULL, and N failed extractions would otherwise build an N²/2
      // all-null mega-bucket. Filtering the banded rows (NOT the sigs
      // projection — a filter there would push below the signature
      // projection and re-run the UDF chain per row, the measured
      // pairJoin trap; the explode Generate blocks that pushdown here)
      // restores SQL equality semantics: null docs band nowhere, match
      // nothing. The k-length structural check is folded into band_key
      // by [[bandStructsExprChecked]].
      .filter(col("band.band_key").isNotNull)
      .select((keep :+ col("band.band_idx") :+ col("band.band_key")): _*)
  }

  private def minhashBanded(df: DataFrame, keyCol: String, textCol: String,
                            k: Int, bands: Int, shingleN: Int,
                            carryHashes: Boolean): DataFrame =
    // compiled one-pass kernels: Catalyst HOF lambdas re-evaluate the
    // shingle hashing per signature value (CollapseProject re-inlines any
    // staged projection), which benchmarked 100x slower — see TextSig
    bandedFromSignatures(minhashSignatures(df, keyCol, textCol, k, shingleN),
      k, bands, carryHashes)

  /** [[minhashLshVerifiedPairs]] over a PRECOMPUTED (possibly persisted /
    * checkpointed) signature table — band-dial sweeps and repeated runs
    * pay the corpus tokenization exactly once. */
  def minhashLshVerifiedPairsFromSignatures(sigs: DataFrame, k: Int,
                                            bands: Int, threshold: Double,
                                            maxBucket: Int = Int.MaxValue): DataFrame =
    pairJoin(bandedFromSignatures(sigs, k, bands, carryHashes = true),
        Seq("band_idx", "band_key"), maxBucket)
      .select(col("a_id"), col("b_id"), col("a_hs"), col("b_hs")).distinct()
      .withColumn("jaccard",
        size(array_intersect(col("a_hs"), col("b_hs"))).cast("double") /
          size(array_union(col("a_hs"), col("b_hs"))))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))

  /** SALVAGE pairs for the band mega-buckets the `maxBucket` cap drops —
    * [[hammingSalvageEdges]]'s sibling for the MinHash family, with one
    * structural difference: identical fingerprints GUARANTEE a true pair
    * (hamming 0), identical MinHash signatures only make one likely — so
    * every salvage edge here is exact-Jaccard VERIFIED before it is
    * emitted. Within each oversized (band_idx, band_key) bucket, members
    * collapse into identical-FULL-SIGNATURE groups (a boilerplate
    * bucket is mostly one group), and the tier emits
    *
    *  - verified STAR pairs: each member against its group's min-id
    *    representative — n−1 verifications where the bucket's pair set
    *    is n(n−1)/2;
    *  - verified REPRESENTATIVE pairs: the bucket's distinct signatures
    *    pair-joined, bounded by `maxReps` distinct signatures per
    *    bucket (more rep-diverse buckets skip rep pairing, keeping
    *    their stars).
    *
    * Unlike the hamming tier there is NO exactness theorem: a true pair
    * whose members sit in different signature groups is recovered only
    * through the rep chain, and verification can break a link — the
    * measured-recall query (q_dedup_lsh_recall) quantifies exactly what
    * this tier recovers, the q_dedup_cap_recall discipline. Output
    * (a_id, b_id, jaccard ≥ `threshold`), normalized a_id < b_id; input
    * is a [[minhashSignatures]] table, so a persisted signature store
    * pays tokenization once. */
  def minhashSalvageVerifiedPairs(sigs: DataFrame, k: Int, bands: Int,
                                  threshold: Double, maxBucket: Int,
                                  maxReps: Int): DataFrame = {
    val banded = bandedFromSignatures(sigs, k, bands,
      carryHashes = true, carrySig = true)
    val keys = Seq("band_idx", "band_key")
    val over = oversizedKeys(banded.select((Seq("id") ++ keys).map(col): _*),
        keys, maxBucket)
      .select(keys.map(c => col(c).as(s"__over_$c")): _*)
    val overCond = keys.map(c => col(c) <=> col(s"__over_$c")).reduce(_ && _)
    // oversized-KEY bound: rows·bands/maxBucket in the worst case — see
    // hammingSalvageEdges; small in the skewed regime the cap exists for
    val mega = banded.join(broadcast(over), overCond, "left_semi")
      .filter(col("sig").isNotNull)
    // identical-signature groups; min(struct) picks the rep AND its
    // shingle set in one aggregate (ids are unique, so the array field
    // never participates in the ordering)
    val groups = mega
      .groupBy(col("band_idx"), col("band_key"), col("sig"))
      .agg(min(struct(col("id"), col("hs"))).as("r"))
      .select(col("band_idx"), col("band_key"), col("sig"),
        col("r.id").as("rep"), col("r.hs").as("rep_hs"))
    val g = groups.select(col("band_idx").as("__g_idx"),
      col("band_key").as("__g_key"), col("sig").as("__g_sig"),
      col("rep"), col("rep_hs"))
    val jac = size(array_intersect(col("a_hs"), col("b_hs"))).cast("double") /
      size(array_union(col("a_hs"), col("b_hs")))
    val stars = mega.join(g,
        col("band_idx") <=> col("__g_idx") &&
          col("band_key") <=> col("__g_key") && col("sig") <=> col("__g_sig"))
      .filter(col("id") =!= col("rep"))
      .select(least(col("id"), col("rep")).as("a_id"),
        greatest(col("id"), col("rep")).as("b_id"),
        col("hs").as("a_hs"), col("rep_hs").as("b_hs"))
      .distinct()
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    val pairable = groups.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n_reps"))
      .filter(col("__n_reps") <= maxReps)
      .select(keys.map(c => col(c).as(s"__ok_$c")): _*)
    val okCond = keys.map(c => col(c) <=> col(s"__ok_$c")).reduce(_ && _)
    val repPairs = pairJoin(
        groups.join(broadcast(pairable), okCond, "left_semi")
          .select(col("rep").as("id"), col("rep_hs").as("hs"),
            col("band_idx"), col("band_key")),
        keys)
      .select(col("a_id"), col("b_id"), col("a_hs"), col("b_hs")).distinct()
      .withColumn("jaccard", jac)
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    // jaccard is a function of the pair, so the distinct collapses a
    // pair found by both faces (or from several buckets)
    stars.unionByName(repPairs).distinct()
  }

  /** The capped verified LSH join PLUS the mega-bucket salvage tier —
    * [[hammingPairsSalvaged]]'s MinHash mirror: every pair
    * [[minhashLshVerifiedPairs]] finds at `maxBucket`, united with
    * [[minhashSalvageVerifiedPairs]] over the SAME signature table —
    * bounded tasks (the cap) plus verified recovery of the boilerplate
    * mass the cap drops; `jaccard` is a function of the pair, so the
    * distinct collapses pairs found by both tiers.
    *
    * COST SHAPE: mirrors the hamming wrapper's caveat — this form
    * computes [[minhashSignatures]] lazily from `df`, and both tiers
    * reference that plan from several subtrees, so the tokenize+hash
    * kernels re-run per subtree. The production shape is
    * q_dedup_lsh_recall's: materialize the signature table ONCE
    * (persisted or cached) and feed
    * [[minhashLshVerifiedPairsFromSignatures]] +
    * [[minhashSalvageVerifiedPairs]]. Use this wrapper for one-shot
    * runs on corpora where tokenization is not the dominant cost. */
  def minhashLshPairsSalvaged(df: DataFrame, keyCol: String, textCol: String,
                              k: Int, bands: Int, shingleN: Int,
                              threshold: Double, maxBucket: Int,
                              maxReps: Int): DataFrame = {
    val sigs = minhashSignatures(df, keyCol, textCol, k, shingleN)
    minhashLshVerifiedPairsFromSignatures(sigs, k, bands, threshold, maxBucket)
      .unionByName(
        minhashSalvageVerifiedPairs(sigs, k, bands, threshold, maxBucket, maxReps))
      .distinct()
  }

  /** Candidate near-duplicate pairs by MinHash LSH: k-value signatures cut
    * into `bands` bands; pairs sharing ≥1 band are candidates. Returns
    * (a_id, b_id, n_bands) — callers verify candidates with exact Jaccard
    * if needed. k must be divisible by bands. */
  def minhashLshPairs(df: DataFrame, keyCol: String, textCol: String,
                      k: Int, bands: Int, shingleN: Int,
                      maxBucket: Int = Int.MaxValue): DataFrame =
    pairJoin(minhashBanded(df, keyCol, textCol, k, bands, shingleN,
        carryHashes = false), Seq("band_idx", "band_key"), maxBucket)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_bands"))

  /** Per-bucket occupancy of the LSH band index: (band_idx, band_key,
    * n_docs), largest first — the skew audit behind `maxBucket`. At 100 TB
    * this runs over the persisted [[minhashBandIndex]] as one
    * map-side-combinable aggregate; `.filter(n_docs > cap)` is exactly the
    * set of buckets (and `sum(n_docs * (n_docs - 1) / 2)` over it the
    * number of candidate pairs) that a cap of `cap` would drop. */
  def minhashBandBucketStats(df: DataFrame, keyCol: String, textCol: String,
                             k: Int, bands: Int, shingleN: Int): DataFrame =
    minhashBanded(df, keyCol, textCol, k, bands, shingleN, carryHashes = false)
      .groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(desc("n_docs"), col("band_idx"), col("band_key"))

  /** The persistable LSH band index of a corpus — one (id, band_idx,
    * band_key, band_sig) row per doc per band, i.e. exactly what
    * [[minhashLshPairs]] self-joins. At 100 TB this frame is written to
    * parquet partitioned by band_idx once, and every later increment
    * joins against it instead of re-signaturing the corpus
    * ([[minhashIncrementalPairs]]). `band_sig` is the geometry/freshness
    * token ([[hammingChunkIndex]]'s `chunk_sig` recipe, r11 — this was
    * the ONE persisted blocking index without one): it encodes
    * (k, bands, shingleN), and the incremental mine refuses an index
    * banded under different geometry — whose band keys would simply
    * never match the new batch's, silently missing every cross pair. */
  def minhashBandIndex(df: DataFrame, keyCol: String, textCol: String,
                       k: Int, bands: Int, shingleN: Int): DataFrame =
    minhashBanded(df, keyCol, textCol, k, bands, shingleN, carryHashes = false)
      .withColumn("band_sig", lit(bandSig(k, bands, shingleN)))

  /** The band-geometry token stamped by [[minhashBandIndex]] and
    * verified through [[minhashFormat]]. */
  private[graft] def bandSig(k: Int, bands: Int, shingleN: Int): Long =
    k.toLong * 1000000L + bands.toLong * 1000L + shingleN

  /** The minhash band store's [[StoreFormat]]. */
  private def minhashFormat(keyCol: String, textCol: String,
                            k: Int, bands: Int, shingleN: Int): StoreFormat =
    StoreFormat("band_sig", bandSig(k, bands, shingleN),
      s"minhash band index — band_sig does not match " +
        s"k=$k/bands=$bands/shingleN=$shingleN",
      Seq("band_idx"),
      minhashBandIndex(_, keyCol, textCol, k, bands, shingleN))

  /** Incremental MinHash mining: candidate pairs involving `newDocs`
    * against a prebuilt [[minhashBandIndex]], under the
    * [[incrementalJoin]] contract, with the same n_bands a full
    * [[minhashLshPairs]] run reports (each (pair, band) counted once). */
  def minhashIncrementalPairs(newDocs: DataFrame, corpusIndex: DataFrame,
                              keyCol: String, textCol: String,
                              k: Int, bands: Int, shingleN: Int,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    val f = minhashFormat(keyCol, textCol, k, bands, shingleN)
    minhashMine(f, maxBucket)(f.index(newDocs), corpusIndex)
  }

  /** [[minhashIncrementalPairs]] over the batch's built index rows. */
  private def minhashMine(f: StoreFormat, maxBucket: Int)(
      rows: DataFrame, corpusIndex: DataFrame): DataFrame =
    normalizedPairs(incrementalJoin("minhash band index", f, rows,
        corpusIndex, Seq("band_idx", "band_key"), Nil, maxBucket),
        col("band_idx"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_bands"))

  /** The full two-stage near-dup pattern in one operator: MinHash LSH
    * proposes candidate pairs, exact n-gram-shingle Jaccard verifies them
    * (≥ `threshold`). At 100 TB the exact set compare only ever runs on
    * LSH candidates — the quadratic never touches the corpus. Returns
    * (a_id, b_id, jaccard). */
  def minhashLshVerifiedPairs(df: DataFrame, keyCol: String, textCol: String,
                              k: Int, bands: Int, shingleN: Int,
                              threshold: Double,
                              maxBucket: Int = Int.MaxValue): DataFrame =
    minhashLshVerifiedPairsFromSignatures(
      minhashSignatures(df, keyCol, textCol, k, shingleN),
      k, bands, threshold, maxBucket)

  /** Near-duplicate pairs by SimHash hamming distance ≤ `maxHamming` over
    * `bits`-bit fingerprints. Pigeonhole prefilter: fingerprints are cut
    * into `chunks` equal chunks; hamming ≤ chunks-1 implies ≥1 equal chunk,
    * so the join on (chunk_idx, chunk_value) is exact, never lossy. */
  /** Near-duplicate pairs by hamming distance ≤ `maxHamming` over a
    * PRECOMPUTED `bits`-bit fingerprint column — the pigeonhole prefilter
    * generalized from [[simhashPairs]] so every fingerprint family (text
    * SimHash, image dHash64, audio difference fingerprint) shares one
    * pair-search shape: fingerprints cut into `chunks` equal chunks;
    * hamming ≤ chunks−1 implies ≥ 1 equal chunk, so the (chunk_idx,
    * chunk_val) block join is exact, never lossy — and it rides
    * [[pairJoin]], so the mega-bucket `maxBucket` cap and null-safe keys
    * apply here too. Chunk extraction is an UNSIGNED shift, so a
    * fingerprint using the sign bit (dHash64) blocks correctly where a
    * `div`/`pow` split would mangle negatives. Input: (`idCol`,
    * `hashCol`); output (a_id, b_id, hamming). */
  def hammingPairs(df: DataFrame, idCol: String, hashCol: String,
                   bits: Int, chunks: Int, maxHamming: Int,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    // from-scratch face: the index is built THIS call under the require
    // above, so pigeonhole is proven at the driver and the row-level
    // key-folded guard would be pure tax — the A/B on the r10 quiet-map
    // drift measured it at ~10-40% of the hamming-family fixture queries
    // (q_dedup_cap_recall 14.1 -> 12.7 s, q_image_clusters 4.5 -> 3.2 s,
    // REPS=5 medians); the fold is reserved for the index-ACCEPTING
    // entry points where a stale/foreign index is actually possible
    val index = hammingChunkIndex(df, idCol, hashCol, bits, chunks)
    // with the cap ENGAGED the index is referenced from three subtrees
    // (oversized-key census, anti-join probe, the self-join) and the
    // fingerprint UDF chain (image/audio/video decode for the perceptual
    // families) re-ran per subtree — materialize it once, the persisted-
    // index shape hammingPairsFromIndex documents. Capless calls keep the
    // lazy form: the self-join's identical subtrees already share one
    // exchange (ReuseExchange), so a checkpoint there is pure extra work
    val trusted =
      if (maxBucket == Int.MaxValue) index else index.localCheckpoint(true)
    hammingPairsOverTrusted(trusted, maxHamming, maxBucket)
  }

  /** [[hammingPairs]] over a PRECOMPUTED (possibly persisted) chunk
    * index ([[hammingChunkIndex]] output) — repeated runs and dial
    * sweeps pay the decode + fingerprint pass exactly once, the
    * [[minhashLshVerifiedPairsFromSignatures]] pattern for the hamming
    * family. The index's `chunk_sig` token is REQUIRED and checked on
    * the row path: an index chunked too coarsely for this `maxHamming`
    * (chunks ≤ maxHamming) breaks the pigeonhole guarantee and would
    * silently MISS pairs sharing no equal chunk — the same
    * silent-recall-loss class [[hammingIncrementalPairs]] refuses
    * loudly, so this refuses too. */
  def hammingPairsFromIndex(index: DataFrame, maxHamming: Int,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    hammingPairsOverTrusted(requireSigned(index, maxHamming),
      maxHamming, maxBucket)

  /** The pigeonhole pair join over index rows whose geometry has ALREADY
    * been established — either by [[requireSigned]]'s key-folded guard
    * (the index-accepting faces) or by the driver-side
    * `maxHamming < chunks` require of a from-scratch build in the same
    * plan ([[hammingPairs]], [[hammingPairsSalvaged]]), where the fold
    * would only re-prove a fact the caller just proved for free. */
  private def hammingPairsOverTrusted(rows: DataFrame, maxHamming: Int,
                                      maxBucket: Int): DataFrame =
    // chunk_sig rides the JOIN KEY: chunk values from DIFFERENT
    // geometries occupy different bit widths, so a coincidental numeric
    // equality across a mixed-geometry index (a manual union of two
    // stores — every refresh path refuses to create one) would pair
    // fingerprints whose chunks are not comparable. With the token in
    // the key each geometry mines completely within itself and
    // cross-geometry rows never compare — cross-geometry pairs are not
    // representable in a chunk join at all; re-index under one geometry
    // to find them. Uniform indexes (every supported path) see
    // byte-identical results at one constant extra key column.
    pairJoin(rows, Seq("chunk_idx", "chunk_val", "chunk_sig"), maxBucket)
      .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp")).distinct()
      .withColumn("hamming",
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))

  /** Loud-failure plumbing for the index-accepting entry points: the
    * presence require (a legacy index without the token cannot be
    * geometry-checked at all) plus the row-level pigeonhole assert,
    * folded into the load-bearing `chunk_val` JOIN KEY itself — so it
    * evaluates once per INDEX row (the key is hashed on every row of
    * both join sides), not per candidate-pair row. An earlier version
    * guarded only the joined pairs, and a too-coarse index whose
    * fingerprints happened to share no chunk value produced ZERO
    * candidate rows, never fired the assert, and silently returned
    * empty — exactly the silent-recall-loss class this guard exists to
    * refuse (ADVICE r9). A standalone check column would be
    * optimizer-pruned; riding the key cannot be. */
  private def requireSigned(index: DataFrame, maxHamming: Int): DataFrame = {
    require(index.columns.contains("chunk_sig"),
      "hamming index carries no chunk_sig token — rebuild it with " +
        "hammingChunkIndex before mining pairs from it")
    index.select(col("id"), col("fp"), col("chunk_idx"),
      (col("chunk_val") + pigeonholeGuard(col("chunk_sig"), maxHamming))
        .as("chunk_val"),
      col("chunk_sig"))
  }

  /** Zero, or a thrown error when the index's chunk count (the low half
    * of `chunk_sig`) cannot satisfy pigeonhole for `maxHamming`. */
  private def pigeonholeGuard(sig: org.apache.spark.sql.Column,
                              maxHamming: Int): org.apache.spark.sql.Column =
    coalesce(assert_true(lit(maxHamming) < sig % 100000L,
      lit(s"hamming index chunked too coarsely for maxHamming=$maxHamming: " +
        "pigeonhole needs maxHamming < chunks — rebuild the index with " +
        "more chunks")).cast("long"), lit(0L))

  /** SALVAGE edges for the mega-buckets the `maxBucket` cap drops — the
    * answer to "a genuine near-dup pair whose every matching chunk lands
    * in an oversized bucket is lost SILENTLY": instead of pairing an
    * oversized bucket quadratically (the cost the cap exists to avoid),
    * collapse it into identical-fingerprint groups and emit
    *
    *  - STAR edges: every member links to its group's min-id
    *    representative (hamming 0 by construction) — n−1 edges where the
    *    group's full pair set is n(n−1)/2, preserving the group's
    *    CONNECTIVITY exactly (the property [[clusters]] and
    *    [[dropNearDuplicates]] actually consume; a boilerplate bucket's
    *    quadratic pair list carries no more information);
    *  - REPRESENTATIVE pairs: the bucket's distinct fingerprints,
    *    pair-joined and hamming-verified — bounded by `maxReps` distinct
    *    fingerprints per bucket (a bucket more rep-diverse than that
    *    skips rep pairing, keeping its stars; the second-tier cap that
    *    keeps every task bounded).
    *
    * Theorem (property-pinned in ModulesSpec): a true pair (hamming ≤
    * `maxHamming`) sharing ONLY oversized buckets is CONNECTED through
    * stars + rep pairs of any one shared bucket whenever that bucket has
    * ≤ `maxReps` distinct fingerprints — so [[hammingPairsSalvaged]]
    * recovers full connectivity where the plain cap loses it, at
    * linear-per-bucket cost (stars) plus ≤ maxReps² per bucket (reps).
    *
    * Null fingerprints are excluded, matching the capped path (null
    * similarity never clears a caller's threshold). Output
    * (a_id, b_id, hamming), normalized a_id < b_id. */
  def hammingSalvageEdges(index: DataFrame, maxHamming: Int,
                          maxBucket: Int, maxReps: Int): DataFrame =
    hammingSalvageEdgesOverTrusted(requireSigned(index, maxHamming),
      maxHamming, maxBucket, maxReps)

  /** [[hammingSalvageEdges]] over rows whose geometry is already proven —
    * the [[hammingPairsOverTrusted]] split: [[hammingPairsSalvaged]]
    * builds its index in the same plan under a driver-side pigeonhole
    * require, so the key-folded guard would re-prove a proven fact on
    * every row. */
  private def hammingSalvageEdgesOverTrusted(
      rows: DataFrame, maxHamming: Int,
      maxBucket: Int, maxReps: Int): DataFrame = {
    // chunk_sig in the bucket key, like [[hammingPairsOverTrusted]]:
    // a mixed-geometry union must not fold different-width chunk values
    // into one salvage bucket
    val keys = Seq("chunk_idx", "chunk_val", "chunk_sig")
    val over = oversizedKeys(rows, keys, maxBucket)
      .select(keys.map(c => col(c).as(s"__over_$c")): _*)
    val overCond = keys.map(c => col(c) <=> col(s"__over_$c")).reduce(_ && _)
    // only the oversized buckets' rows. The oversized-KEY frame is
    // bounded by rows·chunks/maxBucket entries — small in the skewed
    // regime the cap exists for (a handful of boilerplate keys holding
    // large corpus fractions), NOT a universal guarantee: a corpus of
    // millions of barely-over buckets makes it large, and the remedy is
    // a larger maxBucket (the audit query sizes it), not this operator.
    // The broadcast spares the member rows a shuffle; the members stay
    // distributed either way
    val mega = rows.join(broadcast(over), overCond, "left_semi")
      .filter(col("fp").isNotNull)
    // identical-fingerprint groups within each mega bucket: the shuffle
    // is keyed by (chunk, fp), so one group = one task, linear in the
    // group — never bucket² rows
    val groups = mega.groupBy(
        col("chunk_idx"), col("chunk_val"), col("chunk_sig"), col("fp"))
      .agg(min(col("id")).as("rep"))
    val g = groups.select(col("chunk_idx").as("__g_idx"),
      col("chunk_val").as("__g_val"), col("chunk_sig").as("__g_sig"),
      col("fp").as("__g_fp"), col("rep"))
    val stars = mega.join(g,
        col("chunk_idx") <=> col("__g_idx") &&
          col("chunk_val") <=> col("__g_val") &&
          col("chunk_sig") <=> col("__g_sig") && col("fp") <=> col("__g_fp"))
      .filter(col("id") =!= col("rep"))
      // star hamming is 0 by construction (identical fps); the pigeonhole
      // guard already rides every index row's chunk_val (requireSigned),
      // so a standalone call over a too-coarse index fails loudly even
      // when it would salvage nothing
      .select(least(col("id"), col("rep")).as("a_id"),
        greatest(col("id"), col("rep")).as("b_id"),
        lit(0L).as("hamming"))
    // rep pairing only where the bucket's fingerprint diversity is
    // bounded: > maxReps distinct fps means the bucket is not boilerplate
    // but genuinely diverse — rep pairs there would re-grow the quadratic
    val pairable = groups.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n_reps"))
      .filter(col("__n_reps") <= maxReps)
      .select(keys.map(c => col(c).as(s"__ok_$c")): _*)
    val okCond = keys.map(c => col(c) <=> col(s"__ok_$c")).reduce(_ && _)
    val repPairs = pairJoin(
        groups.join(broadcast(pairable), okCond, "left_semi")
          .select(col("rep").as("id"), col("fp"), col("chunk_idx"),
            col("chunk_val"), col("chunk_sig")),
        keys)
      .select(col("a_id"), col("b_id"), col("a_fp"), col("b_fp")).distinct()
      .withColumn("hamming",
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
    stars.unionByName(repPairs).distinct()
  }

  /** The capped pigeonhole join PLUS the mega-bucket salvage tier: every
    * pair [[hammingPairs]] finds, united with [[hammingSalvageEdges]]
    * over the same chunk index — bounded tasks (the cap) without silent
    * loss (the salvage); `hamming` is a function of the pair, so the
    * distinct collapses a pair found by both tiers.
    *
    * COST SHAPE: this convenience form builds the index lazily from
    * `df`, and the capped join + salvage reference that plan from
    * several subtrees — so an expensive `hashCol` (a decode UDF chain)
    * is re-evaluated per subtree. The recall-critical production shape
    * is the one q_dedup_cap_recall ships: materialize
    * [[hammingChunkIndex]] ONCE (persisted partitioned by chunk_idx, or
    * cached for a one-shot run) and feed it to
    * [[hammingPairsFromIndex]] + [[hammingSalvageEdges]] — the decode
    * pass is paid exactly once. Use this wrapper when the fingerprint
    * column is already materialized or cheap. */
  def hammingPairsSalvaged(df: DataFrame, idCol: String, hashCol: String,
                           bits: Int, chunks: Int, maxHamming: Int,
                           maxBucket: Int, maxReps: Int): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    // the from-scratch trusted split ([[hammingPairs]]): geometry is
    // proven by the require above on the index built THIS call, so
    // neither tier re-pays the key-folded guard per row
    val index = hammingChunkIndex(df, idCol, hashCol, bits, chunks)
    hammingPairsOverTrusted(index, maxHamming, maxBucket)
      .unionByName(hammingSalvageEdgesOverTrusted(index, maxHamming,
        maxBucket, maxReps))
      .distinct()
  }

  /** The persistable hamming CHUNK INDEX of a fingerprint corpus — one
    * (id, fp, chunk_idx, chunk_val, chunk_sig) row per fingerprint per
    * chunk, i.e. exactly what [[hammingPairs]] self-joins: the
    * perceptual tier's analog of [[minhashBandIndex]]. At 100 TB this
    * frame is written to parquet partitioned by chunk_idx once, and
    * every later image/audio/video batch joins against it
    * ([[hammingIncrementalPairs]]) instead of re-decoding and
    * re-fingerprinting the corpus. `chunk_sig` is the freshness token
    * ([[AnnIndex.ivfStore]]'s recipe): it encodes (bits, chunks), and
    * the incremental mine refuses an index chunked under different
    * geometry — whose chunk_vals would simply never match, silently
    * missing every pair. */
  def hammingChunkIndex(df: DataFrame, idCol: String, hashCol: String,
                        bits: Int, chunks: Int): DataFrame = {
    require(chunks > 0 && bits % chunks == 0,
      s"bits=$bits not divisible by chunks=$chunks")
    val w = bits / chunks
    df.select(col(idCol).as("id"), col(hashCol).as("fp"))
      .withColumn("chunk_sig", lit(chunkSig(bits, chunks)))
      .select(col("id"), col("fp"), col("chunk_sig"),
      explode(expr(
        // 1L << w, not 1 << w: an Int shift wraps at 32 (chunks=1 -> w=60
        // -> 1<<60 is silently 2^28, collapsing the prefilter's key space)
        // — and a LONG shift wraps at 64 (bits=64, chunks=1 -> mask 0,
        // every fingerprint silently in ONE bucket), hence chunkMask.
        // & mask, not %: Spark's % keeps the dividend's sign, so a
        // negative fingerprint's low chunk would come out negative and
        // never match the same bits in a positive fingerprint
        s"transform(sequence(0, ${chunks - 1}), j -> " +
          s"struct(j AS chunk_idx, " +
          s"shiftrightunsigned(fp, j*$w) & ${chunkMask(w)}L AS chunk_val))"))
        .as("c"))
      .select(col("id"), col("fp"), col("c.chunk_idx"), col("c.chunk_val"),
        col("chunk_sig"))
  }

  /** The chunk-geometry token stamped by [[hammingChunkIndex]] and
    * verified through [[hammingFormat]]. */
  private[graft] def chunkSig(bits: Int, chunks: Int): Long =
    bits.toLong * 100000L + chunks

  /** The hamming chunk store's [[StoreFormat]]. */
  private def hammingFormat(idCol: String, hashCol: String,
                            bits: Int, chunks: Int): StoreFormat =
    StoreFormat("chunk_sig", chunkSig(bits, chunks),
      s"hamming index — chunk_sig does not match bits=$bits/chunks=$chunks",
      Seq("chunk_idx"), hammingChunkIndex(_, idCol, hashCol, bits, chunks))

  /** Low-`w`-bits mask, safe at w=64 where `(1L << 64) - 1` silently
    * wraps to 0 (a JVM long shift is mod 64) — the full-width chunk of a
    * chunks=1 geometry must mask to the whole fingerprint, not nothing. */
  private[graft] def chunkMask(w: Int): Long =
    if (w >= 64) -1L else (1L << w) - 1L

  /** Incremental perceptual near-dup mining: hamming ≤ `maxHamming`
    * pairs involving a new fingerprint batch against a prebuilt
    * [[hammingChunkIndex]], under the [[incrementalJoin]] contract — a
    * daily image/audio/video ingest batch costs |batch| × bucket-mates
    * where a full [[hammingPairs]] re-run grows with the corpus square.
    * Hamming is symmetric, so it is computed before the orientation
    * swap. */
  def hammingIncrementalPairs(newDf: DataFrame, corpusIndex: DataFrame,
                              idCol: String, hashCol: String,
                              bits: Int, chunks: Int, maxHamming: Int,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    val f = hammingFormat(idCol, hashCol, bits, chunks)
    hammingMine(f, chunks, maxHamming, maxBucket)(f.index(newDf), corpusIndex)
  }

  /** [[hammingIncrementalPairs]] over the batch's built index rows. */
  private def hammingMine(f: StoreFormat, chunks: Int, maxHamming: Int,
                          maxBucket: Int)(
      rows: DataFrame, corpusIndex: DataFrame): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    normalizedPairs(incrementalJoin("hamming index", f, rows, corpusIndex,
        Seq("chunk_idx", "chunk_val"), Seq("fp"), maxBucket)
      .withColumn("hamming",
        bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long"))
      .filter(col("hamming") <= maxHamming), col("hamming"))
  }

  def simhashPairs(df: DataFrame, keyCol: String, textCol: String,
                   bits: Int, chunks: Int, maxHamming: Int, shingleN: Int,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    require(bits == 60, "compiled kernel is fixed at 60 bits (TextSig.simhash60)")
    // compiled one-pass kernel — see TextSig for why not HOF expressions
    val sh = df.select(col(keyCol).as("id"),
      TextSig.simhash60Udf(col(textCol), lit(shingleN)).as("sh"))
    hammingPairs(sh, "id", "sh", bits, chunks, maxHamming, maxBucket)
  }

  /** Apply a pair table to the corpus: drop the higher-keyed member of
    * every (a_id < b_id) near-dup pair via one anti-join. Single-pass
    * survivor policy (keep-lowest-key), not a transitive closure — chained
    * near-dups (a~b~c with a!~c) keep a and drop b, c, matching the greedy
    * first-seen-wins dedup of streaming ingest pipelines. */
  def dropNearDuplicates(df: DataFrame, keyCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("b_id")), col(keyCol) === col("b_id"), "left_anti")

  /** Transitive dedup clusters from a near-dup pair table: connected
    * components by iterative min-label propagation. Every id gets the
    * smallest id reachable through the pair graph as `cluster`, plus the
    * member count. The fixpoint (true connected components) is unique, so
    * results are engine- and iteration-order-independent — the DuckDB
    * oracle computes the same components via WITH RECURSIVE closure.
    * `idCol`, `a_id` and `b_id` must be bigint (checked).
    *
    * Propagation runs only over the pair graph's vertex set: an id in no
    * pair is its own singleton component and never changes, so the loop
    * never shuffles the corpus, and singletons rejoin lazily at the end.
    *
    * Cost: the adjacency is built once, one `groupByKey` into a
    * `HashPartitioner` of `spark.sql.shuffle.partitions` (the width
    * [[graft.plans.Shared.share]] uses, not AQE's initial partition
    * number: AQE does not coalesce an RDD shuffle, so every round would
    * run that many tasks, 256 in [[graft.core.Graft.session]]). Each
    * round is then ONE Spark job: a
    * `reduceByKey(min)` of neighbour labels into the same partitioner and
    * a narrow co-partitioned join with the round state, whose
    * `localCheckpoint` is materialised by the same `count` of labels that
    * changed. Zero changes is the fixpoint, reached after diameter + 1
    * rounds; near-dup components are shallow (chains of boilerplate
    * variants), so this converges in a handful of rounds where a full
    * transitive closure would explode quadratically. Each superseded
    * round's blocks are released as soon as the next one is materialised.
    *
    * Fault story: the returned frame is a lazy plan over the final
    * round's checkpoint, kept in executor storage (a lost executor means
    * re-running the loop, GraphX's trade-off). (GraphFrames'
    * large-star/small-star is the published generalization; plain
    * min-propagation keeps it dependency-free.)
    */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame,
               maxIter: Int = 25): DataFrame = {
    for ((df, c) <- Seq(ids -> idCol, pairs -> "a_id", pairs -> "b_id")) {
      val t = df.schema(c).dataType
      require(t == LongType,
        s"Dedup.clusters needs bigint ids: `$c` is ${t.simpleString}")
    }
    val part = new HashPartitioner(SQLConf.get.defaultNumShufflePartitions)
    // round state per vertex: (label, neighbours, label changed this
    // round); a pair with a null end joins nothing, but its other end is
    // still a vertex
    val seed: RDD[(Long, (Long, Array[Long], Boolean))] =
      pairs.select(col("a_id"), col("b_id")).rdd.flatMap { r =>
        val a = if (r.isNullAt(0)) None else Some(r.getLong(0))
        val b = if (r.isNullAt(1)) None else Some(r.getLong(1))
        a.map(_ -> b) ++ b.map(_ -> a)
      }.groupByKey(part).map { case (v, ns) => v -> (v, ns.flatten.toArray, true) }
    def round(s: RDD[(Long, (Long, Array[Long], Boolean))]) = {
      val nbMin = s.flatMap { case (_, (l, ns, _)) => ns.iterator.map(_ -> l) }
        .reduceByKey(part, _ min _)
      // both sides are hash-partitioned by vertex into `part`: partition i
      // of each holds the same vertices, so the join is narrow
      s.zipPartitions(nbMin) { (vs, ms) =>
        val m = ms.toMap
        vs.map { case (v, (l, ns, _)) =>
          val n = m.getOrElse(v, l)
          v -> (n min l, ns, n < l)
        }
      }
    }
    var state = seed
    var changed = -1L
    var iter = 0
    while (changed != 0 && iter < maxIter) {
      val next = round(state).localCheckpoint()
      changed = try next.filter(_._2._3).count()
        catch { case e: Throwable => next.unpersist(blocking = false); throw e }
        finally state.unpersist(blocking = false)
      state = next
      iter += 1
    }
    // the unique-fixpoint contract (and the WITH RECURSIVE oracle) is void
    // if the loop ran out of budget mid-propagation — fail loudly rather
    // than return intermediate labels as if they were components
    if (changed != 0) {
      state.unpersist(blocking = false)
      throw new IllegalStateException(
        s"Dedup.clusters did not reach the label fixpoint in $maxIter " +
          "iterations (component diameter exceeds maxIter) — raise maxIter")
    }
    val spark = ids.sparkSession
    import spark.implicits._
    val labels = state.map { case (v, (l, _, _)) => (v, l) }.toDF("id", "cluster")
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    val connected = labels.join(sizes, "cluster")
      .select(col("id"), col("cluster"), col("n_members"))
    val singletons = ids.select(col(idCol).as("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster"), lit(1L).as("n_members"))
    connected.unionByName(singletons)
  }

  /** The when-guarded staged-norm cosine EVERY embedding face shares —
    * one definition, so the capped face and each salvage tier compute
    * bit-identical values and [[embeddingPairsSalvaged]]'s union
    * `.distinct()` collapses a pair found by several tiers. Zero norms
    * yield 0.0, which any positive threshold drops. */
  private def stagedCosine(aEmb: Column, bEmb: Column,
                           aNrm: Column, bNrm: Column): Column =
    when(aNrm === 0.0 || bNrm === 0.0, lit(0.0))
      .otherwise(graft.functions.vectors.dot(aEmb, bEmb) / (aNrm * bNrm))

  /** Near-duplicate pairs by embedding cosine ≥ `threshold`, compared within
    * equal `blockCol` (e.g. an LSH bucket from [[AnnIndex.withBucket]]).
    * L2 norms are staged per row, so each pair costs one dot product instead
    * of three. `maxBucket` is the same mega-bucket cap as every other pair
    * face ([[pairJoin]]): a viral embedding arriving as thousands of
    * near-identical copies lands one block key, and its quadratic carries
    * no more information than the flood's star — cap it and salvage
    * connectivity in flight via
    * [[graft.streaming.EventsStream.embedNearDupStream]]'s star tier. */
  def embeddingPairs(df: DataFrame, keyCol: String, embCol: String,
                     blockCol: String, threshold: Double,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    import graft.functions.vectors
    // NULL caller blocks never pair — [[ngramJaccardPairs]]'s SQL
    // equality-blocking semantics (a null LSH bucket from a null
    // embedding also nulls the cosine, but a caller-supplied block can
    // be null on rows with real vectors)
    val sigs = df.filter(col(blockCol).isNotNull)
      .select(col(keyCol).as("id"), col(blockCol).as("block"),
        col(embCol).as("emb"),
        vectors.l2Norm(col(embCol)).as("nrm"))
    pairJoin(sigs, Seq("block"), maxBucket)
      .withColumn("cosine", stagedCosine(col("a_emb"), col("b_emb"),
        col("a_nrm"), col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 4).as("cosine"))
  }

  /** Offline SALVAGE for the EMBEDDING pair face's oversized sign-LSH
    * buckets — [[hammingSalvageEdges]]/[[minhashSalvageVerifiedPairs]]'
    * discipline on the vector modality, closing the last hole in the
    * salvage matrix (the streaming star tier recovers floods in flight;
    * this is the batch corpus path). The grouping key the other tiers
    * use (identical fingerprint / identical signature) has no
    * float-safe analog for vectors — a rescaled copy is a DIFFERENT
    * array with the same direction — and the hyperplane family behind
    * `blockCol` cannot refine itself (7 distinct planes total, see
    * [[AnnIndex.signSketchExpr]]). So the oversized bucket is re-split
    * by the positive-scale-invariant component-SIGN sketch, a second
    * independent hash family:
    *
    *  1. fine sub-buckets ≤ `maxBucket`: the full verified pair join
    *     keyed on (block, sketch) — the sketch alone does not determine
    *     the block, it is an independent family, so the pair key is
    *     always the PAIR; cross-sub-bucket pairs are the rep tier's job;
    *  2. fine sub-buckets still over `maxBucket` — a genuine
    *     same-direction flood (positive rescales share the sketch
    *     exactly) — collapse to verified STARS: each member's cosine
    *     against the sub-bucket's min-id rep, kept at ≥ `threshold`
    *     (n−1 verifications, not n(n−1)/2). Like the MinHash tier there
    *     is NO exactness theorem: a member that landed in the flood's
    *     sketch without its direction verifies below threshold and is
    *     dropped — measured, not assumed, by q_embed_cap_recall;
    *  3. verified REP PAIRS across the block's fine groups — one
    *     min-id rep per sub-bucket, pair-joined and cosine-verified,
    *     only for blocks holding ≤ `maxReps` groups (more groups = not
    *     boilerplate, the other tiers' bail) — so near-dup communities
    *     the sketch split across sub-buckets stay CONNECTED (member →
    *     own rep → other rep → member is exactly the 3-hop closure the
    *     recall queries measure).
    *
    * Emits (a_id, b_id, cosine·round4), every edge verified ≥
    * `threshold` — a SUBSET of the true pair set by construction.
    * Cost: one census + one sketch pass over oversized-bucket members
    * only, sub-bucket joins bounded by maxBucket², star verification
    * linear, rep joins bounded by maxReps². */
  def embeddingSalvageEdges(df: DataFrame, keyCol: String, embCol: String,
                            blockCol: String, threshold: Double,
                            maxBucket: Int, maxReps: Int,
                            sketchBits: Int = 16): DataFrame = {
    import graft.functions.vectors
    import org.apache.spark.sql.expressions.Window
    val sigs = df.select(col(keyCol).as("id"), col(blockCol).as("block"),
      col(embCol).cast("array<double>").as("emb"))
    // the oversized-block census stays a map-side-combined AGGREGATE +
    // semi join (tiny census, broadcast-able key list) — a window here
    // would shuffle the whole corpus with its embeddings. AFTER the
    // restriction, everything is windows over ONE exchange of the mega
    // set: hash-partitioning by block satisfies the (block, fine)
    // window's clustering too, so the fine census and the per-group
    // min-id rep ride the same shuffle with no further joins. (An
    // aggregate-then-join-back variant was A/B'd and lost ~20x at the
    // M=30 stress corpus: every tier re-derives mega, and the group
    // subplan inside each join side re-derived it AGAIN.)
    // the sibling tiers' census discipline verbatim ([[oversizedKeys]] +
    // explicit broadcast + null-safe <=>): the hint holds at real-corpus
    // stats where the estimate would otherwise shuffle the members WITH
    // their embeddings, and `=` would infer isnotnull(block) pushed
    // below a lazily-computed bucket projection — the measured
    // UDF-re-evaluation trap [[pairJoin]] documents
    val over = oversizedKeys(sigs, Seq("block"), maxBucket)
      .select(col("block").as("__over_block"))
    val wFine = Window.partitionBy(col("block"), col("fine"))
    // sketch and norm staged once per oversized-bucket member; NULL
    // embeddings drop here like the siblings' null fingerprints — a
    // null row winning a sub-bucket's min-id rep election would NULL
    // every cosine in the group and silently disconnect it
    val mega = sigs
      .join(broadcast(over), col("block") <=> col("__over_block"), "left_semi")
      .filter(col("emb").isNotNull)
      .withColumn("fine", AnnIndex.signSketchExpr("emb", sketchBits))
      .withColumn("nrm", vectors.l2Norm(col("emb")))
      .withColumn("__fn", count(lit(1)).over(wFine))
      // struct min orders by the leading id; ids are unique, so the
      // array fields never tie-break
      .withColumn("__rep",
        min(struct(col("id"), col("emb"), col("nrm"))).over(wFine))
    def verified(pairs: DataFrame): DataFrame = pairs
      .withColumn("cosine", stagedCosine(col("a_emb"), col("b_emb"),
        col("a_nrm"), col("b_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 4).as("cosine"))
    // (1) small sub-buckets: the full verified pair join within each
    val smallPairs = verified(pairJoin(
      mega.filter(col("__fn") <= maxBucket)
        .select(col("block"), col("fine"), col("id"), col("emb"), col("nrm")),
      Seq("block", "fine")))
    // (2) oversized sub-buckets (same-direction floods): verified stars
    val stars = mega
      .filter(col("__fn") > maxBucket && col("id") =!= col("__rep.id"))
      .withColumn("cosine", stagedCosine(col("emb"), col("__rep.emb"),
        col("nrm"), col("__rep.nrm")))
      .filter(col("cosine") >= threshold)
      // the rep is the sub-bucket's min id, so rep.id < id always
      .select(col("__rep.id").as("a_id"), col("id").as("b_id"),
        round(col("cosine"), 4).as("cosine"))
    // (3) verified rep pairs across the block's fine groups — one rep
    // per group, small groups included (their connectivity rides here),
    // bounded by maxReps groups per block; the reps frame is tiny, so
    // its block-count window costs nothing
    val repPairs = verified(pairJoin(
      mega.filter(col("id") === col("__rep.id"))
        .select(col("block"), col("id"), col("emb"), col("nrm"))
        .withColumn("__nr",
          count(lit(1)).over(Window.partitionBy(col("block"))))
        .filter(col("__nr") <= maxReps)
        .drop("__nr"),
      Seq("block")))
    smallPairs.unionByName(stars).unionByName(repPairs).distinct()
  }

  /** One-shot capped-plus-salvage for the embedding face
    * ([[minhashLshPairsSalvaged]]/[[hammingPairsSalvaged]]'s shape):
    * the capped [[embeddingPairs]] union [[embeddingSalvageEdges]],
    * deduplicated — both tiers round the verified cosine identically,
    * so a pair found by both collapses. */
  def embeddingPairsSalvaged(df: DataFrame, keyCol: String, embCol: String,
                             blockCol: String, threshold: Double,
                             maxBucket: Int, maxReps: Int,
                             sketchBits: Int = 16): DataFrame =
    embeddingPairs(df, keyCol, embCol, blockCol, threshold, maxBucket)
      .unionByName(embeddingSalvageEdges(df, keyCol, embCol, blockCol,
        threshold, maxBucket, maxReps, sketchBits))
      .distinct()

  /** The persistable sign-bucket store of an embedding corpus — (id,
    * emb, nrm, bucket, emb_sig): the vector modality's analog of
    * [[minhashBandIndex]]/[[hammingChunkIndex]], completing the
    * persisted-index matrix. Buckets come from the WIDE prime-modulus
    * plane family ([[AnnIndex.wideBucketExpr]]), NOT the legacy
    * coefficients: the legacy family holds at most 7 distinct
    * hyperplanes (q_ann_plane_family's census — a 128-bucket
    * selectivity ceiling), so at corpus scale every legacy block is a
    * guaranteed mega-bucket and all pair work lands on cap+salvage; the
    * wide family gives 2^planes genuine selectivity, so a persisted
    * store can be bucketed finely enough that blocks stay small. L2
    * norms are staged per row at BUILD time, so every later increment
    * pays exactly one dot product per candidate pair. `emb_sig` is the
    * freshness token ([[hammingChunkIndex]]'s `chunk_sig` recipe,
    * tagged with the family's prime 2003): a store bucketed under
    * different (dim, planes) — or under the legacy family — joins
    * cleanly and silently yields zero cross pairs, so
    * [[embeddingIncrementalPairs]] refuses it loudly instead. At 100 TB
    * write this partitioned by `bucket` and every ingest batch joins
    * against it rather than re-bucketing the corpus. */
  def embeddingBucketIndex(df: DataFrame, keyCol: String, embCol: String,
                           dim: Int, planes: Int): DataFrame =
    df.select(col(keyCol).as("id"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("nrm", graft.functions.vectors.l2Norm(col("emb")))
      .withColumn("bucket", AnnIndex.wideBucketExpr("emb", dim, planes))
      .withColumn("emb_sig", lit(AnnIndex.wideStoreSig(dim, planes)))

  /** The embedding bucket store's [[StoreFormat]]: the wide-family
    * token and stale text the serving faces verify too
    * ([[AnnIndex.wideStoreSig]], [[AnnIndex.wideStale]]), so builder and
    * every consumer can never disagree on the encoding. */
  private def embeddingFormat(keyCol: String, embCol: String,
                              dim: Int, planes: Int): StoreFormat =
    StoreFormat("emb_sig", AnnIndex.wideStoreSig(dim, planes),
      AnnIndex.wideStale(dim, planes), Seq("bucket"),
      embeddingBucketIndex(_, keyCol, embCol, dim, planes))

  /** Incremental embedding near-dup mining: cosine ≥ `threshold` pairs
    * involving a new vector batch against a prebuilt
    * [[embeddingBucketIndex]], under the [[incrementalJoin]] contract — a
    * daily embedding ingest costs |batch| × bucket-mates where a full
    * [[embeddingPairs]] re-run grows with the corpus square. Null
    * embeddings carry null buckets, pair only with each other under the
    * null-safe key, and their null cosine never clears a positive
    * threshold — the [[embeddingPairs]] discipline. Cosine is symmetric,
    * so it is computed before the orientation swap. */
  def embeddingIncrementalPairs(newDf: DataFrame, corpusIndex: DataFrame,
                                keyCol: String, embCol: String,
                                dim: Int, planes: Int, threshold: Double,
                                maxBucket: Int = Int.MaxValue): DataFrame = {
    val f = embeddingFormat(keyCol, embCol, dim, planes)
    embeddingMine(f, threshold, maxBucket)(f.index(newDf), corpusIndex)
  }

  /** [[embeddingIncrementalPairs]] over the batch's built index rows. */
  private def embeddingMine(f: StoreFormat, threshold: Double,
                            maxBucket: Int)(
      rows: DataFrame, corpusIndex: DataFrame): DataFrame =
    normalizedPairs(incrementalJoin("embedding bucket index", f, rows,
        corpusIndex, Seq("bucket"), Seq("emb", "nrm"), maxBucket)
      .withColumn("cosine", stagedCosine(col("a_emb"), col("b_emb"),
        col("a_nrm"), col("b_nrm")))
      .filter(col("cosine") >= threshold), round(col("cosine"), 4).as("cosine"))

  /** Incremental EMBEDDING index maintenance — [[AnnIndex.ivfRefresh]]'s
    * stance on the wide-bucket store: bucket ONLY the new batch at the
    * store's geometry and APPEND it to the persisted
    * [[embeddingBucketIndex]] layout (partitioned by `bucket`); the
    * existing buckets are never rescanned or rewritten. Refuses loudly —
    * BEFORE writing a row — a store with no `emb_sig` token, with a
    * token from another (dim, planes) geometry or the legacy family, or
    * with NULL-token rows (min/max skip nulls, so a careless union of
    * stamped and raw rows would otherwise pass); an append under the
    * wrong geometry would put every batch row in a foreign bucket space
    * where it silently pairs with and serves nothing. An EMPTY store is
    * refused too: rebuild it with [[embeddingBucketIndex]] rather than
    * growing a store whose geometry nothing witnesses. The accumulating
    * one-file-per-batch-per-task small files are the audit-cadence job
    * of [[graft.sources.Maintenance.compactPartitionedTo]]. */
  def embeddingIndexRefresh(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, newBatch: DataFrame,
                            keyCol: String, embCol: String,
                            dim: Int, planes: Int): Unit =
    refreshStore(spark, storeDir, newBatch,
      embeddingFormat(keyCol, embCol, dim, planes), "embeddingIndexRefresh")

  /** The shared maintenance-time token gate + append behind every store
    * refresh ([[embeddingIndexRefresh]], [[hammingIndexRefresh]],
    * [[minhashIndexRefresh]]), over the face's [[StoreFormat]] — the
    * gate itself is [[AnnIndex.requireStoreSig]], the SAME body the
    * serving faces run, so a new check lands in one place for all five
    * consumers; this wrapper only adds the refuse-empty stance (rebuild,
    * don't grow an unwitnessed geometry) and the append. The batch's
    * index rows are built first (so a builder's own geometry refusal
    * comes first); refusal happens BEFORE a row is written. */
  private def refreshStore(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String, newBatch: DataFrame,
                           f: StoreFormat, what: String): Unit = {
    val newRows = f.index(newBatch)
    val store = spark.read.parquet(storeDir)
    // a LEDGERED (streaming) store is refused before the token check —
    // a batch append without the ledger level corrupts its layout
    AnnIndex.requireBatchStore(store, s"$what($storeDir)")
    AnnIndex.requireStoreSig(store, f.sigCol, f.sig,
      allowEmpty = false, what = s"$what($storeDir)", staleDesc = f.stale)
    newRows.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy(f.partitionCols: _*).parquet(storeDir)
  }

  /** Incremental HAMMING index maintenance — [[embeddingIndexRefresh]]'s
    * twin for the [[hammingChunkIndex]] store (written partitioned by
    * `chunk_idx`): chunk ONLY the new fingerprint batch at the store's
    * geometry and APPEND it; the existing chunks are never rescanned or
    * rewritten, and because chunking is a pure per-row function of
    * (fingerprint, bits, chunks), append-then-mine equals a from-scratch
    * rebuild exactly (ModulesSpec). Completes the refresh matrix: every
    * persisted blocking index now has a token-gated append
    * (ivf/pq/int8 in [[AnnIndex]]/[[Quantize]], embedding buckets,
    * hamming chunks, minhash bands). */
  def hammingIndexRefresh(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String, newBatch: DataFrame,
                          idCol: String, hashCol: String,
                          bits: Int, chunks: Int): Unit =
    refreshStore(spark, storeDir, newBatch,
      hammingFormat(idCol, hashCol, bits, chunks), "hammingIndexRefresh")

  /** Incremental MINHASH BAND index maintenance — the text face's
    * token-gated append onto a persisted [[minhashBandIndex]] (written
    * partitioned by `band_idx`): only the new document batch is
    * shingled/signatured/banded. */
  def minhashIndexRefresh(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String, newDocs: DataFrame,
                          keyCol: String, textCol: String,
                          k: Int, bands: Int, shingleN: Int): Unit =
    refreshStore(spark, storeDir, newDocs,
      minhashFormat(keyCol, textCol, k, bands, shingleN),
      "minhashIndexRefresh")

  /** Seed a STREAMING embedding store: the [[embeddingBucketIndex]]
    * layout plus one extra leading partition level — `ingest_batch`, the
    * replay ledger [[embedStoreIngestBatch]] keys its idempotent
    * micro-batch overwrites by. The seed generation lands under
    * `ingest_batch=-1` (Structured Streaming's batch ids start at 0, so
    * -1 can never collide with a live micro-batch). A canonical
    * bucket-only store CANNOT be streamed into — it has no ledger, so a
    * replayed micro-batch would silently double its rows — which is why
    * the streaming writer refuses it and this seeder exists. */
  def seedEmbedIngestStore(corpus: DataFrame, storeDir: String,
                           keyCol: String, embCol: String,
                           dim: Int, planes: Int): Unit =
    seedIngestStore(embeddingFormat(keyCol, embCol, dim, planes), corpus,
      storeDir)

  /** The streaming seeders' one body, over the face's [[StoreFormat]]:
    * the face's index layout under an `ingest_batch=-1` ledger
    * partition. */
  private[operators] def seedIngestStore(f: StoreFormat, corpus: DataFrame,
                                         storeDir: String): Unit =
    f.index(corpus).withColumn("ingest_batch", lit(-1L))
      .write.partitionBy(("ingest_batch" +: f.partitionCols): _*)
      .parquet(storeDir)

  /** [[seedEmbedIngestStore]] for the hamming face: the
    * [[hammingChunkIndex]] layout under an `ingest_batch=-1` ledger
    * partition, ready for [[hammingStoreIngestBatch]] micro-batches. */
  def seedHammingIngestStore(corpus: DataFrame, storeDir: String,
                             idCol: String, hashCol: String,
                             bits: Int, chunks: Int): Unit =
    seedIngestStore(hammingFormat(idCol, hashCol, bits, chunks), corpus,
      storeDir)

  /** One REPLAY-IDEMPOTENT micro-batch against a streaming embedding
    * store: token gate → incremental mine → two deterministic partition
    * overwrites. The batch-cadence [[embeddingIndexRefresh]] APPENDS,
    * which is correct under a driver that runs each batch exactly once —
    * but a streaming engine REPLAYS the last uncommitted micro-batch
    * after a crash, and a replayed append would silently double every
    * row it had already written and double-mine its pairs: the
    * silent-duplicate class exactly-once exists to refuse. So the
    * streaming store carries one extra leading partition level —
    * `ingest_batch`, Structured Streaming's monotonic batch id, the
    * ledger — and each micro-batch lands as a DYNAMIC partition
    * overwrite of its own (ingest_batch, bucket) partitions: the index
    * rows are a pure function of the batch, so a replay rewrites
    * byte-identical partitions instead of appending duplicates.
    *
    * Replay-exactness of the MINE: the corpus is the store MINUS this
    * batch's own ledger partition (one partition filter, pruned at
    * planning), so a replay whose first attempt died between the two
    * writes mines against exactly the pre-batch corpus the first attempt
    * saw — the half-written partition is invisible. Order matters twice:
    * the pairs slice is written — the mine run to completion — before
    * the store append (a lazy mine evaluated after the append would see
    * the batch already inside the corpus and silently mine the batch
    * against itself); and the token gate runs over the pre-batch corpus
    * BEFORE either write (the [[refreshStore]] stance: refuse a
    * stale/raw/empty store before a row lands).
    *
    * Serving and graduation: the ledger column rides every read of the
    * streaming store, so point-query faces drop it
    * (`store.drop("ingest_batch")`); the audit-cadence graduation into
    * the canonical bucket-only layout is
    * [[graft.sources.Maintenance.compactPartitionedTo]] with
    * `dropCols = Seq("ingest_batch")` — run it against a STOPPED (or
    * fully committed) stream: folding an uncommitted batch's partition
    * into a canonical store and then replaying that batch elsewhere is
    * the duplicate the ledger exists to prevent. */
  def embedStoreIngestBatch(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, pairsDir: String,
                            batchId: Long, batch: DataFrame,
                            keyCol: String, embCol: String,
                            dim: Int, planes: Int, threshold: Double,
                            maxBucket: Int = Int.MaxValue): Unit = {
    val f = embeddingFormat(keyCol, embCol, dim, planes)
    storeIngestBatch(spark, storeDir, batchId, f, "embedStoreIngestBatch",
      batch, Some((pairsDir, embeddingMine(f, threshold, maxBucket))))
  }

  /** [[embedStoreIngestBatch]] on the HAMMING face: one replay-idempotent
    * micro-batch of fingerprints against a [[seedHammingIngestStore]]
    * store — same ledger, same write order, same token gate, with
    * [[hammingIncrementalPairs]] as the mine. */
  def hammingStoreIngestBatch(spark: org.apache.spark.sql.SparkSession,
                              storeDir: String, pairsDir: String,
                              batchId: Long, batch: DataFrame,
                              idCol: String, hashCol: String,
                              bits: Int, chunks: Int, maxHamming: Int,
                              maxBucket: Int = Int.MaxValue): Unit = {
    val f = hammingFormat(idCol, hashCol, bits, chunks)
    storeIngestBatch(spark, storeDir, batchId, f, "hammingStoreIngestBatch",
      batch, Some((pairsDir, hammingMine(f, chunks, maxHamming, maxBucket))))
  }

  /** [[seedEmbedIngestStore]] for the minhash face: the
    * [[minhashBandIndex]] layout under an `ingest_batch=-1` ledger
    * partition, ready for [[minhashStoreIngestBatch]] micro-batches. */
  def seedMinhashIngestStore(corpus: DataFrame, storeDir: String,
                             keyCol: String, textCol: String,
                             k: Int, bands: Int, shingleN: Int): Unit =
    seedIngestStore(minhashFormat(keyCol, textCol, k, bands, shingleN),
      corpus, storeDir)

  /** [[embedStoreIngestBatch]] on the MINHASH face: one replay-idempotent
    * micro-batch of documents against a [[seedMinhashIngestStore]] store —
    * same ledger, same write order, same token gate, with
    * [[minhashIncrementalPairs]] as the mine (CANDIDATE pairs, like the
    * batch cadence: verification/salvage stay on their own cadences). */
  def minhashStoreIngestBatch(spark: org.apache.spark.sql.SparkSession,
                              storeDir: String, pairsDir: String,
                              batchId: Long, batch: DataFrame,
                              keyCol: String, textCol: String,
                              k: Int, bands: Int, shingleN: Int,
                              maxBucket: Int = Int.MaxValue): Unit = {
    val f = minhashFormat(keyCol, textCol, k, bands, shingleN)
    storeIngestBatch(spark, storeDir, batchId, f, "minhashStoreIngestBatch",
      batch, Some((pairsDir, minhashMine(f, maxBucket))))
  }

  /** The shared replay-idempotent micro-batch body behind the streaming
    * store writers ([[embedStoreIngestBatch]],
    * [[hammingStoreIngestBatch]], [[minhashStoreIngestBatch]]) — one
    * body over the face's [[StoreFormat]], like [[refreshStore]] for the
    * batch cadence — and the APPEND-ONLY serving-store faces
    * ([[AnnIndex.ivfStoreIngestBatch]], [[Quantize.pqStoreIngestBatch]]),
    * which pass `pairsMine = None` (the store IS the product). The
    * replay ledger is [[graft.streaming.Ledger]]'s: monotonic against
    * the directory-listed high-water mark of slices and commit markers,
    * and — when this batch's marker and slice both exist — the incoming
    * index rows must fingerprint equal to the stored slice (a missing
    * slice, from an empty batch or a crash inside the Overwrite commit,
    * heals by the rewrite).
    *
    * `f.index` builds the batch's stamped index rows once (the ledger
    * column is stamped here); `pairsMine` receives those rows and the
    * pre-batch corpus at the canonical store schema. With a mine the rows
    * have two readers (the pairs write and the store write, separate
    * jobs), so they are staged ONCE (one localCheckpoint) rather than
    * re-pulled from the streaming source and re-built; the serving
    * stores' rows have one reader and stay unstaged. Each slice is
    * written once, straight from its plan: the pairs slice as a
    * whole-slice overwrite at its explicit ledger path (an empty mine
    * still lands one schema-bearing zero-row file, so `pairsDir` is
    * readable from the first micro-batch on), the store slice through
    * `partitionOverwriteMode=dynamic`, which replaces ONLY this batch's
    * own ledger partitions, never the seed or sibling batches (pinned in
    * ModulesSpec). The marker lands last. Gate cost per micro-batch: one
    * directory listing plus the shared [[AnnIndex.requireStoreSig]]
    * stats pass (one long column). */
  private[operators] def storeIngestBatch(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, batchId: Long, f: StoreFormat, what: String,
      batch: DataFrame,
      pairsMine: Option[(String, (DataFrame, DataFrame) => DataFrame)])
      : Unit = {
    import graft.streaming.Ledger
    val built = f.index(batch)
    val ledger = Ledger(spark, storeDir, what, "Graduate the store and " +
      "re-seed (or restore the original checkpoint)")
    ledger.requireMonotonic(batchId)
    val store = spark.read.parquet(storeDir)
    require(store.columns.contains(Ledger.column),
      s"$what($storeDir): store carries no ingest_batch ledger column — " +
        "this is a canonical batch store, and a blind append would " +
        "silently double its rows on micro-batch replay; seed a " +
        "streaming store (seed*IngestStore) or use the batch-cadence " +
        "refresh instead")
    val corpus = store
      .filter(col(Ledger.column) =!= lit(batchId))
      .select(built.columns.toIndexedSeq.map(col): _*)
    AnnIndex.requireStoreSig(corpus, f.sigCol, f.sig, allowEmpty = false,
      what = s"$what($storeDir)", staleDesc = f.stale)
    val indexRows = if (pairsMine.isEmpty) built else built.localCheckpoint()
    ledger.requireReplay(batchId, indexRows,
      store.filter(col(Ledger.column) === lit(batchId)))
    pairsMine.foreach { case (pairsDir, mine) =>
      mine(indexRows, corpus)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(Ledger.slice(pairsDir, batchId))
    }
    indexRows.withColumn(Ledger.column, lit(batchId))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy((Ledger.column +: f.partitionCols): _*).parquet(storeDir)
    ledger.commit(batchId)
  }

  /** Incremental connected components: fold a NEW batch of pairs (e.g.
    * from [[minhashIncrementalPairs]]) into an EXISTING labeling without
    * re-propagating over the old pair graph. Each old cluster collapses to
    * a star — one (member, label) edge per member — which preserves its
    * connectivity exactly; propagation then runs over stars + new pairs, a
    * graph whose size is |old labels| + |new pairs|, independent of how
    * many old PAIRS built those labels. Because [[clusters]]' fixpoint
    * labels every component with its MIN member id, the star center is
    * itself a member, and the incremental fixpoint equals the from-scratch
    * run over (old ∪ new) pairs — asserted in ModulesSpec.
    *
    * `ids` must cover every id that should appear in the output (old
    * members + the new batch's vertices); like [[clusters]], ids in no
    * pair come back as singletons.
    */
  def clustersIncremental(ids: DataFrame, idCol: String,
                          oldLabels: DataFrame,
                          newPairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val stars = oldLabels.filter(col("id") =!= col("cluster"))
      .select(col("id").as("a_id"), col("cluster").as("b_id"))
    clusters(ids, idCol,
      stars.unionByName(newPairs.select(col("a_id"), col("b_id"))), maxIter)
  }
}
