package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Scale-stress harness: replays the heaviest operator families on a
  * corpus M× the bench scale, built by unioning key-offset copies of the
  * driver testdata (derived from the same inputs — nothing synthesized
  * from scratch). The point is slope, not absolute seconds: per-family
  * wall-clock should grow ~linearly in M while the bench catalog at small
  * SFs is overhead-bound (SCALE.md "Measured scaling"). The dedup corpus
  * deliberately keeps the copies' text identical — M copies of every doc
  * IS the dedup workload, and it makes the candidate-pair count grow M²
  * per doc, which is exactly the blowup the LSH banding must absorb.
  *
  * Run: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_STRESS_M=10
  *       sbt "runMain graft.tools.Stress"` — prints one JSON line.
  * `SPARK_GRAFT_STRESS_ONLY=dedup_minhash_salvaged,...` measures just
  * those workloads (the bench's SPARK_GRAFT_ONLY discipline: adding a
  * row never requires re-paying the whole suite at every M). */
object Stress {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** M key-offset copies of `df`: `keys` columns are shifted by
    * i * stride per copy so referential joins stay valid within a copy
    * and never collide across copies. */
  private def scaled(df: DataFrame, m: Int, stride: Long,
                     keys: Seq[String]): DataFrame =
    (0 until m).map { i =>
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + i * stride))
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val m = sys.env.getOrElse("SPARK_GRAFT_STRESS_M", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_SHUFFLE pins a fixed exchange width for A/B experiments.
    // The DEFAULT session now auto-sizes instead (Graft.session: AQE with
    // initialPartitionNum 256 + 64 MB advisory targets), which is what
    // removed the M=60 window-sort/hash-aggregate knee that a hand-set
    // SPARK_GRAFT_SHUFFLE=256 used to fix (history in SCALE.md).
    // Loud on malformed input: a silent fallback to 32 partitions would
    // invalidate exactly the partition-sizing experiment this knob proves
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map { s =>
      s.trim.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_SHUFFLE is not an integer: '$s'"))
    }.getOrElse(cpus.toInt)
    val spark: SparkSession = graft.core.Graft.session(s"local[$cpus]",
      shufflePartitions = shuffle, appName = "graft-stress")

    // loud on typos, the SPARK_GRAFT_ONLY discipline: a silently-ignored
    // name would record an incomplete measurement as if it were the suite
    val workloadNames = Set("star_join_agg", "join_window_latest",
      "dedup_exact", "dedup_minhash_pairs", "dedup_minhash_capped",
      "prefix_filter_pairs", "prefix_filter_capped",
      "dedup_minhash_salvaged", "segment_dedup", "unigram_segment_usage",
      "classifier_score",
      "kmeans_assign", "dedup_embed_capped", "dedup_embed_salvaged",
      "scrub_kernels", "collocation_window_pairs",
      "containment_capped", "image_fingerprint_dedup",
      "audio_fingerprint_dedup", "video_fingerprint_dedup",
      "hamming_capped_megabucket", "hamming_salvaged_megabucket",
      "hamming_index_build", "hamming_incremental_batch",
      "embed_index_build", "embed_incremental_batch",
      "stream_ingest_batch", "refresh_ingest_batch",
      "ann_serve_indexed", "ann_serve_compacted", "ann_serve_brute",
      "ivf_serve_join", "ivf_serve_loop",
      "serve_sink_batch", "serve_sink_blind", "serve_sink_replay")
    val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- workloadNames
      require(unknown.isEmpty,
        s"SPARK_GRAFT_STRESS_ONLY names not in the suite: ${unknown.mkString(", ")}")
    }
    def include(name: String): Boolean = only.forall(_.contains(name))

    val stride = 100000000L
    val li = scaled(Tables.lineitem(spark, sfDir), m, stride, Seq("l_orderkey"))
    val ord = scaled(Tables.orders(spark, sfDir), m, stride, Seq("o_orderkey"))
    val docs = scaled(Tables.documents(spark, sfDir), m, stride, Seq("doc_id"))
    // actual input sizes, not assumed-sf0.1 constants: SPARK_GRAFT_SF_DIR
    // is configurable, so the reported "rows" must come from the data
    // (cheap count-only scans, untimed, and only for included workloads)
    lazy val liRows = li.count()
    lazy val docRows = docs.count()

    // one cheap untimed action per scaled input BEFORE the first timed
    // block: the session's first jobs pay JVM/codegen/parquet-footer
    // cold-start that the pre-r9 eager row counts used to absorb; without
    // this the first measured workload — and EVERY workload in a solo
    // SPARK_GRAFT_STRESS_ONLY run — records cold-start the SCALE.md
    // history excludes, biasing round-over-round slope comparisons.
    // limit(1) keeps the warm-up O(1) in M, preserving the lazy-row-count
    // rationale (no full scans for workloads the filter excludes).
    Seq(li, ord, docs).foreach(_.limit(1).count())

    val results = scala.collection.mutable.LinkedHashMap[String, (Long, Double)]()
    def measure(name: String, rows: => Long)(body: => Any): Unit =
      if (include(name)) {
        val (_, s) = time(body)
        results += name -> (rows, s)
      }

    // star join + grouped agg: one fact shuffle, dims broadcast
    measure("star_join_agg", liRows) {
      li.join(broadcast(Tables.supplier(spark, sfDir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(spark, sfDir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .count()
    }

    // fact-to-fact join + per-key window (latest lineitem per order)
    measure("join_window_latest", liRows) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey").orderBy(desc("l_linenumber"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .count()
    }

    // exact dedup over the M-way duplicated corpus
    measure("dedup_exact", docRows) {
      graft.operators.Dedup.exact(docs, "doc_id", "text").count()
    }

    // MinHash LSH near-dup pairs: M copies of each doc → the pair table
    // grows ~M² per doc; banding must keep it a keyed join, not a cross
    measure("dedup_minhash_pairs", docRows) {
      graft.operators.Dedup
        .minhashLshPairs(docs, "doc_id", "text", k = 16, bands = 4, shingleN = 3)
        .count()
    }

    // the same corpus with the mega-bucket cap: every original doc's band
    // bucket holds its M copies, so a cap below M excludes ALL of them —
    // per-task candidate work drops from M² per doc to ~zero while the
    // banding/shuffle cost stays. This is the boilerplate-skew defense
    // measured: capped wall-clock should stay near-flat in M where the
    // uncapped pair count above grows ~M² per doc.
    measure("dedup_minhash_capped", docRows) {
      graft.operators.Dedup
        .minhashLshPairs(docs, "doc_id", "text", k = 16, bands = 4,
          shingleN = 3, maxBucket = math.max(2, m / 2))
        .count()
    }

    // prefix-filtered exact Jaccard join (r13) over the same M-way
    // corpus: each doc's M identical copies share every prefix token, so
    // the true pair set grows M² per doc like the uncapped LSH row —
    // this measures the lossless join's slope where candidate volume is
    // genuinely quadratic (the df rank and window stay linear in corpus)
    measure("prefix_filter_pairs", docRows) {
      graft.operators.Dedup
        .prefixFilterJaccardPairs(docs, "doc_id", "text", num = 4, den = 5)
        .count()
    }

    // and with the mega-bucket cap STRICTLY below M (min(m-1, …): at
    // M=2 a max(2, m/2) cap would equal the copy-group bucket size and
    // silently measure the uncapped join as if it were capped — the
    // oversize filter is strict >): every copy group's prefix buckets
    // exceed the cap and drop, so wall-clock should fall back to the
    // linear rank/window floor — the boilerplate defense on this face
    measure("prefix_filter_capped", docRows) {
      graft.operators.Dedup
        .prefixFilterJaccardPairs(docs, "doc_id", "text", num = 4, den = 5,
          maxBucket = math.min(m - 1, math.max(2, m / 2)))
        .count()
    }

    // the SALVAGE tier on the same corpus (r9): instead of dropping each
    // doc's M-copy band bucket, minhashLshPairsSalvaged collapses it
    // into identical-signature groups — M identical copies are ONE
    // group, so the tier emits M-1 verified star edges per doc (LINEAR
    // output where the dropped pair set grew M² per doc) plus rep pairs
    // bounded by maxReps² per bucket. Wall-clock must track the capped
    // row ~linearly in M: the extra cost is the salvage aggregates plus
    // one exact-Jaccard verify per star edge.
    measure("dedup_minhash_salvaged", docRows) {
      graft.operators.Dedup
        .minhashLshPairsSalvaged(docs, "doc_id", "text", k = 16, bands = 4,
          shingleN = 3, threshold = 0.8, maxBucket = math.max(2, m / 2),
          maxReps = 16)
        .count()
    }

    // line-level boilerplate removal over the duplicated corpus: with M
    // copies of every doc, EVERY segment crosses the df >= 2 bar, so this
    // measures the worst case — the boilerplate set is the whole distinct
    // segment space (constant in M) and the broadcast join back drops all
    // of it. Slope should track the explode + aggregate, ~linear in M.
    measure("segment_dedup", docRows) {
      val seg = docs.select(col("doc_id"),
        posexplode(expr(graft.functions.text.segments(
          graft.functions.SparkDialect, "text", 8))).as(Seq("pos", "seg")))
      val boiler = seg.groupBy("seg")
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select(col("seg").as("b_seg"))
      seg.join(broadcast(boiler), col("seg") === col("b_seg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("b_seg").isNotNull, 1).otherwise(0)).as("n_dropped"))
        .count()
    }

    // unigram-LM segmentation usage over the duplicated corpus (r14, the
    // kernelized tokenizer family): M identical copies add word COUNT,
    // not word rows, so after the one map-side-combined word count the
    // vocab pipeline, the sorted-vocab broadcast and the per-word Viterbi
    // kernel all run on a CONSTANT-size table — the slope must track the
    // tokenize+count scan alone, and a superlinear bend would mean the
    // "nothing after the word count shuffles" claim broke
    measure("unigram_segment_usage", docRows) {
      import graft.functions.{text, TextSig, SparkDialect => S}
      val wf = docs.select(explode(expr(text.tokens(S, "text"))).as("w"))
        .filter(length(col("w")) <= 12)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val pc = wf
        .select(col("w"), col("c"), explode(expr("sequence(1, 4)")).as("L"))
        .filter(length(col("w")) >= col("L"))
        .select(explode(expr(
          "transform(sequence(1, length(w) - L + 1), i -> substr(w, i, L))"))
          .as("p"), col("c"))
        .groupBy("p").agg(sum("c").cast("long").as("score"))
      val vocab = pc.filter(length(col("p")) >= 2)
        .orderBy(desc("score"), col("p")).limit(40)
        .unionByName(pc.filter(length(col("p")) === 1))
      val vl = vocab
        .crossJoin(broadcast(vocab.agg(sum("score").cast("long").as("total"))))
        .select(col("p"),
          expr(text.fixedPoint("ln(CAST(score AS DOUBLE) / total)", 6)).as("lp"))
      val vrow = vl
        .agg(sort_array(collect_list(struct(col("p"), col("lp")))).as("vs"))
        .select(expr("transform(vs, x -> x.p)").as("ps"),
          expr("transform(vs, x -> x.lp)").as("lps"))
      val n = wf.crossJoin(broadcast(vrow))
        .select(col("c"), explode(TextSig.unigramPathUdf(4)(
          col("w"), col("ps"), col("lps"))).as("p"))
        .groupBy("p")
        .agg(sum("c").cast("long").as("n_occurrences"),
          count(lit(1)).as("n_sites"))
        .count()
      graft.operators.Dedup.releaseLocalCheckpoint(wf)
      n
    }

    // classifier inference (q_kmeans_iter's sibling in PipelineQueries):
    // the hashed-weight fold is pure scan-side work, so wall-clock must
    // track the scan ~linearly in M — any superlinear bend would mean the
    // "zero-shuffle inference" claim broke
    measure("classifier_score", docRows) {
      import graft.functions.{text, SparkDialect => S}
      val logit = S.fold(text.tokenHashes(S, "text"), "CAST(0 AS BIGINT)",
        "acc", "h", s"acc + (((h * 2654435761) % ${text.P}) % 20001 - 10000)")
      docs.select(col("source"), expr(logit).as("logit"))
        .groupBy(col("source"), (col("logit") > lit(0)).as("keep"))
        .agg(count(lit(1)).as("n"))
        .count()
    }

    // k-means assignment over M-scaled embeddings: one broadcast centroid
    // row + the projection argmin (native qdist_sq kernel) — like the
    // classifier, a scan-shaped pass whose slope must stay linear
    lazy val emb = scaled(Tables.embeddings(spark, sfDir), m, stride, Seq("vec_id"))
    measure("kmeans_assign", emb.count()) {
      import graft.functions.{SparkDialect => S}
      val qv = emb.select(col("vec_id"),
        expr(S.transform(S.castDoubleArray("embedding"), "x",
          "CAST(floor(x * 10000.0 + 0.5) AS BIGINT)")).as("qv"))
      val centRow = qv.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("qv").as("cq"))
        .agg(collect_list(struct(col("cid"), col("cq"))).as("cents"))
      qv.crossJoin(broadcast(centRow))
        .select(col("vec_id"), expr(
          "array_min(transform(cents, c -> " +
            "named_struct('d', qdist_sq(qv, c.cq), 'cid', c.cid))).cid")
          .as("cluster"))
        .groupBy("cluster").agg(count(lit(1)))
        .count()
    }

    // the embedding pair face over the M-duplicated corpus: M exact
    // copies of each vector share its sign bucket AND its sign sketch.
    // Mined from a PERSISTED bucket layout (written untimed below) —
    // the documented at-scale shape (AnnIndex.withBucket + persist,
    // like the hamming chunk index): the faces re-evaluate their input
    // subtree several times (pairJoin sides, salvage tiers), and over
    // the raw M-branch union that re-pays M parquet scans + the bucket
    // kernel per evaluation — a harness amplification, not the
    // production cost (measured 248 s vs 3.7 s at M=120).
    // capped: blocks over 64 drop wholesale (the r9 embed cap).
    // salvaged: oversized blocks re-split by the component-sign sketch
    // into per-original fine groups — full verified pairs while a group
    // fits the cap (quadratic in M by DESIGN: those C(M,2) exact-dup
    // pairs are the information), verified min-id stars once the group
    // itself oversizes (M > maxBucket flips the regime to linear)
    var embDir: Option[String] = None
    lazy val embB = {
      val dir = java.nio.file.Files.createTempDirectory("graft_embB").toString
      embDir = Some(dir)
      graft.operators.AnnIndex.withBucket(
          emb.select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb")),
          "emb", 64, 8)
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    // force the layout write (and one warm scan) OUTSIDE the timed
    // blocks — it is the one-time offline index-build cost, measured
    // separately by the hamming_index_build precedent
    if (include("dedup_embed_capped") || include("dedup_embed_salvaged"))
      embB.count()
    measure("dedup_embed_capped", emb.count()) {
      graft.operators.Dedup.embeddingPairs(embB, "vec_id", "emb",
        "bucket", threshold = 0.99, maxBucket = 64).count()
    }
    measure("dedup_embed_salvaged", emb.count()) {
      graft.operators.Dedup.embeddingPairsSalvaged(embB, "vec_id", "emb",
        "bucket", threshold = 0.99, maxBucket = 64, maxReps = 16).count()
    }
    // the layout is a full M-duplicated corpus copy — delete it now
    // (both consumers above have run) instead of leaking a
    // multi-hundred-MB graft_embB* directory per stress run
    embDir.foreach(graft.sources.Maintenance.deleteLocalTree(spark, _))

    // stage-zero scrub kernels (round-6 family): NFC normalize + HTML
    // extract + URL canonicalize chained over the scaled corpus — three
    // per-row kernels in one projection, zero shuffle, so the slope is
    // the scan's. A bend here would mean a kernel stopped being one-pass
    measure("scrub_kernels", docRows) {
      import graft.functions.TextNorm
      docs.select(col("doc_id"),
          TextNorm.normalizeCol(col("text")).as("t"),
          TextNorm.canonicalizeUrlCol(
            concat(lit("HTTPS://Ex.COM:443/a//b?utm_s=x&id="),
              (col("doc_id") % 97).cast("string"))).as("u"))
        .select(TextNorm.htmlToTextCol(
          concat(lit("<p>"), col("t"), lit("</p><script>x<y</script>"))).as("x"),
          col("u"))
        .groupBy(length(col("x")) % 7, col("u")).agg(count(lit(1)))
        .count()
    }

    // windowed collocation pairs (q_collocations' r7 shape): pair
    // generation is a per-row ±4-token HOF — LINEAR per doc, ≤ 4·len
    // pairs — so M offset copies multiply rows, never per-doc pair
    // counts, and the only shuffle is the vocab-bounded aggregate. The
    // r6 doc-keyed self-join this replaced was per-doc quadratic: linear
    // in doc COUNT here too, but one long doc could sink a task
    measure("collocation_window_pairs", docRows) {
      import graft.functions.{text, SparkDialect => S}
      docs.select(col("doc_id"), expr(text.tokens(S, "text")).as("toks"))
        .select(explode(expr(
          graft.queries.PipelineQueries.windowPairsExpr("toks", 4))).as("p"))
        .groupBy("p.wa", "p.wb").agg(count(lit(1)).as("nab"))
        .count()
    }

    // containment dedup under a HOT-PREFIX corpus (q_containment_dedup's
    // shape): the M identical copies of every doc land in the SAME
    // first-3-token prefix block, so uncapped pair volume would grow M²
    // per doc — the boilerplate-prefix hazard the r6 verdict named. With
    // the cap below M every hot block is dropped (drop-and-count, the
    // pairJoin defense) and wall-clock must stay near-flat in M: the
    // residual is the linear per-doc signature projection, exactly like
    // dedup_minhash_capped above.
    measure("containment_capped", docRows) {
      import graft.functions.TextSig
      val keyed = docs.select(col("doc_id").as("id"), col("text"),
        TextSig.prefixHashUdf(col("text"), lit(3)).as("blk"))
      graft.operators.Dedup
        .pairJoin(keyed, Seq("blk"), maxBucket = math.max(2, m / 2),
          enrich = df => df
            .withColumn("sh", TextSig.shingleHashesUdf(col("text"), lit(3)))
            .drop("text"))
        .withColumn("inter",
          size(array_intersect(col("a_sh"), col("b_sh"))).cast("double"))
        .filter(col("inter") /
          greatest(least(size(col("a_sh")), size(col("b_sh"))), lit(1)) >= 0.8)
        .count()
    }

    // perceptual fingerprint dedup over the scaled corpus (r7 families):
    // real container encode + real decode + hash per row — pure
    // scan-shaped kernel work, then ONE keyed aggregate each. Slope must
    // track the scan; a bend would mean a codec kernel stopped being
    // per-row or the dedup aggregate stopped map-side-combining.
    measure("image_fingerprint_dedup", docRows) {
      import graft.operators.Multimodal
      docs.select(Multimodal.dHash64Udf(
          Multimodal.nearImageForDocUdf(col("doc_id") % 80000)).as("dhash"))
        .groupBy("dhash").agg(count(lit(1)))
        .count()
    }
    measure("audio_fingerprint_dedup", docRows) {
      import graft.operators.Multimodal
      docs.select(Multimodal.audioFingerprintUdf(
          Multimodal.audioVariantForDocUdf(col("doc_id") % 60000),
          lit(256)).as("fp"))
        .groupBy("fp").agg(count(lit(1)))
        .count()
    }
    // video fingerprint (r8): real Y4M walk + temporal-mean dHash per
    // row — the same scan-shaped profile as the image/audio rows, with a
    // heavier per-row kernel (every 2nd frame's 72 grid samples)
    measure("video_fingerprint_dedup", docRows) {
      import graft.operators.Multimodal
      docs.select(Multimodal.videoFingerprintUdf(
          Multimodal.nearVideoForDocUdf(col("doc_id") % 80000),
          lit(2)).as("fp"))
        .groupBy("fp").agg(count(lit(1)))
        .count()
    }

    // capped hamming pair search under the mega-bucket WORST case (r8):
    // HALF the corpus fingerprints are all-zero — the monochrome-image /
    // silent-audio hazard the engaged maxBucket=64 exists for — so every
    // zero chunk bucket holds docRows/2 members and uncapped pair volume
    // would grow (M·rows)² on one join key. The cap drops those buckets
    // (drop-and-count) and wall-clock must stay ~linear in M: the
    // residual is the chunk explode + the spread half's tiny buckets.
    // Fingerprints are synthesized (xxhash64 spread) because this row
    // measures the JOIN machinery — the decode kernels' slope is the
    // three fingerprint_dedup rows above.
    def halfZeroFps: DataFrame = docs.select(col("doc_id").as("id"),
      when(col("doc_id") % 2 === 0, lit(0L))
        .otherwise(xxhash64(col("doc_id"))).as("fp"))
    measure("hamming_capped_megabucket", docRows) {
      graft.operators.Dedup.hammingPairs(halfZeroFps, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64).count()
    }

    // the SALVAGE tier on the same worst case (r9): instead of dropping
    // the all-zero mega-bucket, hammingPairsSalvaged collapses it into
    // identical-fingerprint groups — the half-zero corpus becomes ONE
    // group per chunk, i.e. docRows/2 - 1 star edges (LINEAR output where
    // the dropped pair set was quadratic) plus <= maxReps² rep compares
    // per bucket. Wall-clock must track the capped row ~linearly in M:
    // the extra cost is one more aggregate over the oversized rows.
    measure("hamming_salvaged_megabucket", docRows) {
      graft.operators.Dedup.hammingPairsSalvaged(halfZeroFps, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64,
        maxReps = 16).count()
    }

    // incremental hamming mine (r8): the chunk index over the M-scaled
    // corpus is built (and checkpointed) once — the offline cost — and a
    // CONSTANT-sized batch (the unscaled sf docs, offset ids, fingerprints
    // matching their copy-0 twins) mines its pairs against it. Index
    // build tracks the corpus ~linearly; the batch mine's join work is
    // batch × bucket-mates, so its slope should stay far below the
    // from-scratch pair search's as M grows (the scan of the index is the
    // linear floor).
    if (include("hamming_index_build") || include("hamming_incremental_batch")) {
      val corpusFps = docs.select(col("doc_id").as("id"),
        xxhash64(col("doc_id") % stride).as("fp"))
      val (idx, idxS) = time {
        graft.operators.Dedup.hammingChunkIndex(corpusFps, "id", "fp",
          bits = 64, chunks = 4).localCheckpoint(true)
      }
      if (include("hamming_index_build"))
        results += "hamming_index_build" -> (docRows, idxS)
      if (include("hamming_incremental_batch")) {
        // batch ids offset PAST every corpus copy (copies occupy offsets
        // 0..m-1; a fixed offset inside that range would collide with that
        // copy's ids and the a_id =!= b_id filter would silently drop the
        // colliding twin pairs, distorting the measured slope)
        val batch = Tables.documents(spark, sfDir)
          .select((col("doc_id") + m.toLong * stride).as("id"),
            xxhash64(col("doc_id")).as("fp"))
        val batchRows = batch.count()
        val (_, incrS) = time {
          graft.operators.Dedup.hammingIncrementalPairs(batch, idx, "id", "fp",
            bits = 64, chunks = 4, maxHamming = 3, maxBucket = 64).count()
        }
        results += "hamming_incremental_batch" -> (batchRows, incrS)
      }
    }

    // incremental embedding mine (r10): the hamming rows' discipline on
    // the vector face — the WIDE-family sign-bucket store over the
    // M-scaled corpus is built (and checkpointed) once at the
    // q_embed_neardup_incremental geometry (64 dims, 20 planes), and a
    // CONSTANT-sized batch (the unscaled embeddings, x2-rescaled so each
    // batch vector is cosine 1.0 to every copy of its original and
    // shares their bucket by scale-invariance, ids offset past every
    // copy) mines its pairs against it at the engaged cap 64. Store
    // build tracks the corpus ~linearly; the batch mine's join work is
    // batch × bucket-mates — the cap bounds the hot buckets the copies
    // inflate, so the batch cost must stay far below a from-scratch
    // re-pair's as M grows (the index scan is the linear floor).
    if (include("embed_index_build") || include("embed_incremental_batch")) {
      val embs = scaled(Tables.embeddings(spark, sfDir)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb")),
        m, stride, Seq("vec_id"))
      val embRows = embs.count()
      val (eidx, eIdxS) = time {
        graft.operators.Dedup.embeddingBucketIndex(embs, "vec_id", "emb",
          dim = 64, planes = 20).localCheckpoint(true)
      }
      if (include("embed_index_build"))
        results += "embed_index_build" -> (embRows, eIdxS)
      if (include("embed_incremental_batch")) {
        val batch = Tables.embeddings(spark, sfDir)
          .select((col("vec_id") + m.toLong * stride).as("vec_id"),
            transform(col("embedding").cast("array<double>"),
              x => x * 2.0).as("emb"))
        val batchRows = batch.count()
        val (_, incrS) = time {
          graft.operators.Dedup.embeddingIncrementalPairs(batch, eidx,
            "vec_id", "emb", dim = 64, planes = 20, threshold = 0.99,
            maxBucket = 64).count()
        }
        results += "embed_incremental_batch" -> (batchRows, incrS)
      }
    }

    // STREAMING ledgered ingest vs the batch-cadence refresh (r12): the
    // exactly-once tax under measure. Both persisted stores are written
    // to disk UNTIMED over the M-scaled corpus at the incremental
    // geometry; then ONE constant-size batch (the embed_incremental_batch
    // fixture: x2-rescaled embeddings, ids offset past every copy) lands
    // through (a) the replay-ledgered streaming apply — token gate over
    // store-minus-own-ledger-slice, mine materialized by the pairs
    // partition write, dynamic ledger overwrite of the store — and
    // (b) the batch-cadence path: the same mine written to parquet plus
    // the token-gated blind append. The measured delta IS the ledger
    // discipline's price (one partition filter + dynamic-overwrite
    // bookkeeping); both rows should stay flat in M past the
    // linear index-scan floor, like embed_incremental_batch.
    if (include("stream_ingest_batch") || include("refresh_ingest_batch")) {
      val embs = scaled(Tables.embeddings(spark, sfDir)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb")),
        m, stride, Seq("vec_id"))
      val batch = Tables.embeddings(spark, sfDir)
        .select((col("vec_id") + m.toLong * stride).as("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => x * 2.0).as("emb"))
      val batchRows = batch.count()
      val parent = java.nio.file.Files
        .createTempDirectory("graft_stress_ingest").toString
      try {
        if (include("stream_ingest_batch")) {
          val sDir = s"$parent/stream_store"
          graft.operators.Dedup.seedEmbedIngestStore(embs, sDir,
            "vec_id", "emb", dim = 64, planes = 20)
          val (_, s) = time {
            graft.operators.Dedup.embedStoreIngestBatch(spark, sDir,
              s"$parent/stream_pairs", 0L, batch, "vec_id", "emb",
              dim = 64, planes = 20, threshold = 0.99, maxBucket = 64)
          }
          results += "stream_ingest_batch" -> (batchRows, s)
        }
        if (include("refresh_ingest_batch")) {
          val rDir = s"$parent/refresh_store"
          graft.operators.Dedup.embeddingBucketIndex(embs, "vec_id", "emb",
              dim = 64, planes = 20)
            .write.partitionBy("bucket").parquet(rDir)
          val (_, s) = time {
            graft.operators.Dedup.embeddingIncrementalPairs(batch,
                spark.read.parquet(rDir), "vec_id", "emb", dim = 64,
                planes = 20, threshold = 0.99, maxBucket = 64)
              .write.mode("overwrite").parquet(s"$parent/refresh_pairs")
            graft.operators.Dedup.embeddingIndexRefresh(spark, rDir, batch,
              "vec_id", "emb", dim = 64, planes = 20)
          }
          results += "refresh_ingest_batch" -> (batchRows, s)
        }
      } finally graft.sources.Maintenance.deleteLocalTree(spark, parent)
    }

    // ANN SERVING from the PERSISTED wide store vs brute force (r11):
    // the partition-pruned read is the claim under measure, so the store
    // is genuinely written to disk partitioned by bucket (untimed — the
    // build slope is embed_index_build's row) and read back; a
    // localCheckpoint would hide exactly the file pruning being claimed.
    // ann_serve_indexed times annTopKWideIndexed at planes=12/probe 2
    // (a static 79-of-2^12-bucket IN filter, ~2% of the corpus read);
    // ann_serve_brute times the exact cosine top-5 over the same rows.
    // Brute tracks the corpus ~linearly in M; the indexed serve should
    // track only the probed fraction — the measured gap is the
    // selectivity the persisted store buys a single query at 100 TB.
    if (include("ann_serve_indexed") || include("ann_serve_compacted") ||
        include("ann_serve_brute")) {
      val corpus = scaled(Tables.embeddings(spark, sfDir)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb")),
        m, stride, Seq("vec_id"))
        .filter(col("vec_id") =!= 0L)
      val corpusRows = corpus.count()
      val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0L)
        .select(col("embedding").cast("array<double>").as("qe"))
      if (include("ann_serve_indexed") || include("ann_serve_compacted")) {
        val parent = java.nio.file.Files
          .createTempDirectory("graft_stress_ann").toString
        // a full M-duplicated corpus copy across up to 4096 bucket dirs —
        // the finally deletes the PARENT temp dir (not just the /store
        // child, which left an empty graft_stress_ann* shell behind)
        // even when the timed serve throws, instead of leaking the copy
        try {
          val dir = s"$parent/store"
          graft.operators.Dedup.embeddingBucketIndex(corpus, "vec_id", "emb",
              dim = 64, planes = 12)
            .write.partitionBy("bucket").parquet(dir)
          def files(d: String): Long =
            graft.sources.Maintenance.parquetFileCount(d)
          def serve(d: String): Double = {
            val store = spark.read.parquet(d)
            val (_, s) = time {
              graft.operators.AnnIndex.annTopKWideIndexed(store, "emb",
                dim = 64, planes = 12, q, "qe", k = 5, tieBreak = Seq("id"),
                probeBits = 2).count()
            }
            s
          }
          if (include("ann_serve_indexed"))
            results += "ann_serve_indexed" -> (corpusRows, serve(dir))
          // the SAME serve against the compacted layout (one file per
          // occupied bucket at these sizes): the raw row above reads a
          // fresh multi-file-per-bucket write, so its flat floor mixes
          // the 4096-dir listing with genuinely more files to open —
          // this pair isolates what audit-cadence compaction buys the
          // partition-pruned read fraction, which is the 100 TB claim
          if (include("ann_serve_compacted")) {
            val dir2 = s"$parent/store_compacted"
            graft.sources.Maintenance.compactPartitionedTo(spark, dir, dir2,
              Seq("bucket"))
            System.err.println(s"[stress] ann store files: raw=${files(dir)} " +
              s"compacted=${files(dir2)}")
            results += "ann_serve_compacted" -> (corpusRows, serve(dir2))
          }
        } finally graft.sources.Maintenance.deleteLocalTree(spark, parent)
      }
      measure("ann_serve_brute", corpusRows) {
        corpus.crossJoin(broadcast(q))
          .withColumn("__s",
            graft.functions.vectors.cosineSim(col("emb"), col("qe")))
          .orderBy(desc("__s"), col("vec_id"))
          .limit(5)
          .count()
      }
    }

    // BATCH IVF serving from the persisted list_id store (r12):
    // ivf_serve_join serves 20 queries in ONE plan (ivfJoinIndexed);
    // ivf_serve_loop serves the SAME 20 queries as 20 per-query
    // invocations (ivfTopKAssigned — the only option before r12). The
    // gap is driver-round-trip amortization: the loop pays planning +
    // ~3 driver jobs PER QUERY while the join pays one fixed set for
    // the whole batch — the measured argument for the batch face. The
    // routing fit runs on the UNSCALED base table (constant across M —
    // at 100 TB the fit is once-offline on a sample, never per serve);
    // the store build over the scaled corpus is untimed, like
    // embed_index_build.
    if (include("ivf_serve_join") || include("ivf_serve_loop")) {
      import graft.operators.AnnIndex
      val baseEmb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      val queries = baseEmb.filter(col("vec_id") < 20)
      val corpus = scaled(baseEmb, m, stride, Seq("vec_id"))
        .filter(col("vec_id") >= 20)
      val corpusRows = corpus.count()
      val model = AnnIndex.ivfFit(baseEmb.filter(col("vec_id") >= 20),
        "emb", nLists = 16)
      val parent = java.nio.file.Files
        .createTempDirectory("graft_stress_ivf").toString
      try {
        val dir = s"$parent/store"
        AnnIndex.ivfStore(model, corpus, "emb")
          .write.partitionBy("list_id").parquet(dir)
        val store = spark.read.parquet(dir)
        measure("ivf_serve_join", corpusRows) {
          AnnIndex.ivfJoinIndexed(queries, "vec_id", "emb", model, store,
            "vec_id", "emb", k = 5, nProbe = 4).count()
        }
        measure("ivf_serve_loop", corpusRows) {
          (0L until 20L).foreach { qid =>
            AnnIndex.ivfTopKAssigned(model, store, "emb",
              queries.filter(col("vec_id") === qid)
                .select(col("emb").as("qe")),
              "qe", k = 5, nProbe = 4, tieBreak = Seq("vec_id")).count()
          }
        }
      } finally graft.sources.Maintenance.deleteLocalTree(spark, parent)
    }

    // STREAMING SERVE SINK vs blind append (r12): the ingest pair's
    // discipline-tax measurement applied to the OUTPUT ledger. One
    // constant-size query batch (unscaled, like the routing fit) is
    // answered by annJoinIndexed from a persisted wide store over the
    // M-scaled corpus, then landed (a) through the exactly-once
    // serveSinkBatch — high-water-mark listing, whole-slice write,
    // commit marker — vs (b) a blind parquet append of the same
    // results. serve_sink_replay re-lands the SAME batch at
    // its committed id: the rare crash-replay path, which additionally
    // pays the order-free content-fingerprint compare against the
    // stored slice. All three rows are serve-dominated and should stay
    // flat in M past the probed-fraction floor; the (a)-(b) delta is
    // the result-ledger's price.
    if (include("serve_sink_batch") || include("serve_sink_blind") ||
        include("serve_sink_replay")) {
      val baseEmb = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      val queries = baseEmb.filter(col("vec_id") < 2000)
      val corpus = scaled(baseEmb, m, stride, Seq("vec_id"))
        .filter(col("vec_id") >= 2000)
      val corpusRows = corpus.count()
      val parent = java.nio.file.Files
        .createTempDirectory("graft_stress_sink").toString
      try {
        val dir = s"$parent/store"
        graft.operators.Dedup.embeddingBucketIndex(corpus, "vec_id", "emb",
            dim = 64, planes = 12)
          .write.partitionBy("bucket").parquet(dir)
        val store = spark.read.parquet(dir)
        def served = graft.operators.AnnIndex.annJoinIndexed(queries,
          "vec_id", "emb", store, dim = 64, planes = 12, k = 5,
          probeBits = 2)
        if (include("serve_sink_batch") || include("serve_sink_replay")) {
          val (_, s) = time {
            graft.streaming.EventsStream.serveSinkBatch(spark,
              s"$parent/out_ledgered", 0L, served, "stress")
          }
          if (include("serve_sink_batch"))
            results += "serve_sink_batch" -> (corpusRows, s)
          if (include("serve_sink_replay")) {
            val (_, r) = time {
              graft.streaming.EventsStream.serveSinkBatch(spark,
                s"$parent/out_ledgered", 0L, served, "stress")
            }
            results += "serve_sink_replay" -> (corpusRows, r)
          }
        }
        if (include("serve_sink_blind")) {
          val (_, s) = time {
            served.write.mode("append").parquet(s"$parent/out_blind")
          }
          results += "serve_sink_blind" -> (corpusRows, s)
        }
      } finally graft.sources.Maintenance.deleteLocalTree(spark, parent)
    }

    val qs = results.map { case (k, (rows, s)) =>
      s""""$k":{"rows":$rows,"sec":${f"$s%.2f"}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"stress","m":$m,"workloads":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
