package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{text, TextSig, SparkDialect => S}
import graft.operators.Multimodal
import graft.sources.{CsvClean, JsonSource}
import graft.streaming.EventsStream

/** Specs for the ingest, streaming, multimodal and kernel-parity surfaces
  * that have no DuckDB oracle (the oracle gate covers the catalog). */
class ModulesSpec extends AnyFunSuite {
  import TestSpark._

  /** Every FileSourceScanExec under a plan, descending through the
    * AdaptiveSparkPlanExec/QueryStageExec wrappers a broadcast exchange
    * introduces — one body, so a Spark version bump that changes AQE
    * traversal is fixed once, not per test. */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive._
    val here = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    here ++ kids.flatMap(fileScans)
  }

  private def parquetFiles(d: String): Long =
    graft.sources.Maintenance.parquetFileCount(d)

  val refCsv =
    "/root/reference/backend/datasets/Behavioral_Health_Services_San_Diego_County_1657686067853346365.csv"
  val refJson = "/root/reference/backend/datasets/healthcare_resources.json"

  test("TextSig kernels match the Catalyst SQL fragments exactly") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf).limit(12)
      .select(col("doc_id"), col("text"))
    val viaExpr = docs.select(col("doc_id"),
      expr(text.shingleHashes(S, "text", 3)).as("hs_e"),
      expr(text.minhashFromHashes(S, text.shingleHashes(S, "text", 3), 16)).as("mh_e"))
    val viaUdf = docs.select(col("doc_id"),
      TextSig.shingleHashesUdf(col("text"), lit(3)).as("hs_u"),
      TextSig.minhashSigUdf(col("text"), lit(3), lit(16)).as("mh_u"))
    val j = viaExpr.join(viaUdf, "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("hs_e").toSet ==
        r.getAs[scala.collection.Seq[Long]]("hs_u").toSet,
        s"shingle hash sets differ for doc ${r.getLong(0)}")
      assert(r.getAs[scala.collection.Seq[Long]]("mh_e").toSeq ==
        r.getAs[scala.collection.Seq[Long]]("mh_u").toSeq,
        s"minhash signatures differ for doc ${r.getLong(0)}")
    }
  }

  test("prefixHash kernel matches the slice/arrayJoin dialect fragment exactly") {
    // the containment-dedup block key: hash of the first-3-token prefix.
    // Parity vs the exact fragment the oracle SQL renders, plus the
    // structural property the blocking relies on — a doc and its
    // character-truncated copy share the block key.
    val frag = text.tokenHash(S,
      S.arrayJoin(S.slice(text.tokens(S, "text"), "1", "3"), " "))
    val docs = graft.core.Tables.documents(spark, sf).limit(12)
      .select(col("doc_id"), col("text"))
    val j = docs.select(col("doc_id"), expr(frag).as("ph_e"),
        TextSig.prefixHashUdf(col("text"), lit(3)).as("ph_u"),
        TextSig.prefixHashUdf(substring(col("text"), 1, 80), lit(3)).as("ph_t"))
      .collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"prefix hash differs for doc ${r.getLong(0)}")
      assert(r.getLong(2) == r.getLong(3),
        s"truncated copy left the block for doc ${r.getLong(0)}")
    }
  }

  test("gramHashSeq kernel matches the positional dialect fragment exactly") {
    // ORDER matters here (positions feed q_substring_dedup's span merge),
    // so unlike the shingle-set parity above this compares sequences.
    // The fragment mirrors the oracle SQL: seq(1, size-n+1) guarded by
    // size >= n; the kernel returns EMPTY below n tokens.
    val n = 5
    val frag = S.transform(
      S.seq("1", s"${S.size("toks")} - ${n - 1}"), "i",
      text.tokenHash(S, S.arrayJoin(S.slice("toks", "i", n.toString), " ")))
    val docs = graft.core.Tables.documents(spark, sf).limit(12)
      .select(col("doc_id"), col("text"))
    val viaExpr = docs
      .select(col("doc_id"), expr(text.tokens(S, "text")).as("toks"))
      .select(col("doc_id"),
        when(expr(s"${S.size("toks")} >= $n"), expr(frag))
          .otherwise(expr("array()").cast("array<bigint>")).as("gh_e"))
    val viaUdf = docs.select(col("doc_id"),
      TextSig.gramHashSeqUdf(col("text"), lit(n)).as("gh_u"))
    val j = viaExpr.join(viaUdf, "doc_id").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(r.getAs[scala.collection.Seq[Long]]("gh_e").toSeq ==
        r.getAs[scala.collection.Seq[Long]]("gh_u").toSeq,
        s"positional gram hashes differ for doc ${r.getLong(0)}")
    }
  }

  test("embed kernel matches the embedStubSql fragment bit-for-bit") {
    val docs = graft.core.Tables.documents(spark, sf).limit(12)
      .select(col("doc_id"), col("text"))
    val j = docs
      .select(col("doc_id"),
        expr(graft.functions.vectors.embedStubSql(S, "text", 16)).as("e_sql"),
        TextSig.embedUdf(col("text"), lit(16)).as("e_k"))
      .collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val a = r.getAs[scala.collection.Seq[Double]]("e_sql")
      val b = r.getAs[scala.collection.Seq[Double]]("e_k")
      assert(a.length == 16 && a.toSeq == b.toSeq,
        s"embeddings differ for doc ${r.getLong(0)}: $a vs $b")
    }
  }

  test("simhash kernel matches the staged SQL fragments") {
    val docs = graft.core.Tables.documents(spark, sf).limit(8)
      .select(col("doc_id"), col("text"))
    val viaExpr = docs
      .select(col("doc_id"), expr(text.shingleHashes(S, "text", 3)).as("hs"))
      .select(col("doc_id"),
        expr(text.mixedHashes(S, "hs", text.Mix1)).as("m1"),
        expr(text.mixedHashes(S, "hs", text.Mix2)).as("m2"))
      .select(col("doc_id"), expr(text.simhashFromMixed(S, "m1", "m2", 60)).as("sh_e"))
    val viaUdf = docs.select(col("doc_id"),
      TextSig.simhash60Udf(col("text"), lit(3)).as("sh_u"))
    viaExpr.join(viaUdf, "doc_id").collect().foreach { r =>
      assert(r.getAs[Long]("sh_e") == r.getAs[Long]("sh_u"),
        s"simhash differs for doc ${r.getLong(0)}")
    }
  }

  test("dedup clusters: multi-hop chains collapse transitively") {
    // the oracle corpus only produces diameter-1 components (doc, doc+10000)
    // — this pins convergence over longer chains and singleton handling
    import spark.implicits._
    val ids = (1L to 10L).toDF("id")
    // chain 1-2-3-4-5 (needs 4 propagation hops) + pair 7-8; 6,9,10 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("a_id", "b_id")
    val got = graft.operators.Dedup.clusters(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (1L to 5L).foreach(i => assert(got(i) == (1L, 5L), s"id $i: ${got(i)}"))
    Seq(7L, 8L).foreach(i => assert(got(i) == (7L, 2L), s"id $i: ${got(i)}"))
    Seq(6L, 9L, 10L).foreach(i => assert(got(i) == (i, 1L), s"id $i: ${got(i)}"))
  }

  test("as-of join: latest at-or-before match, equal-ts tie matches, no-match is NULL") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 1L, ts(10)), (2L, 1L, ts(30)), (3L, 2L, ts(5)), (4L, 3L, ts(20)))
      .toDF("event_id", "k", "ts")
    val right = Seq((1L, ts(10), 100.0), (1L, ts(20), 200.0), (2L, ts(7), 300.0))
      .toDF("k", "ts", "v")
      .select(col("k"), col("ts"), col("ts").as("rts"), col("v"))
    val got = graft.operators.AsOfJoin
      .asOfLatest(left, right, "k", "ts", "ts", Seq("rts", "v"))
      .select(col("event_id"), col("asof.v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L) == Some(100.0)) // equal ts matches (>= semantics)
    assert(got(2L) == Some(200.0)) // latest of two priors
    assert(got(3L) == None)        // right row is later -> no match
    assert(got(4L) == None)        // key with no right rows at all
  }

  test("incremental minhash: empty index degenerates to a plain batch run; disjoint batch finds nothing") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val emptyIndex = Dedup.minhashBandIndex(docs.limit(0), "doc_id", "text", 16, 4, 3)
    val viaIncr = Dedup.minhashIncrementalPairs(docs, emptyIndex,
        "doc_id", "text", 16, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaFull = Dedup.minhashLshPairs(docs, "doc_id", "text", 16, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIncr == viaFull)
    // a batch with out-of-vocabulary content shares no band with the corpus
    val alien = Seq((90001L, "zzq qqz zqz qzz zzz qqq"),
      (90002L, "completely different alien vocabulary tokens entirely"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashBandIndex(docs, "doc_id", "text", 16, 4, 3)
    assert(Dedup.minhashIncrementalPairs(alien, index,
      "doc_id", "text", 16, 4, 3).isEmpty)
  }

  test("LSH mega-bucket cap: boilerplate buckets dropped, small buckets' pairs unchanged") {
    import spark.implicits._
    import graft.operators.Dedup
    // 30% of the corpus is one boilerplate text -> its identical signatures
    // put all 30 docs into the SAME bucket of every band (the named 100 TB
    // skew hazard: one license header sinking the band shuffle)
    val boiler = (1L to 30L).map(i =>
      (i, "this exact same boilerplate license header appears on nearly every page of the crawl"))
    val normals = (31L to 96L).map(i =>
      (i, s"unique document $i speaks about topic$i alpha$i beta$i gamma$i delta$i"))
    val nearDup = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      (102L, "the quick brown fox jumps over the lazy dog again and again"),
      (103L, "completely separate pair of twin documents for the cap test"),
      (104L, "completely separate pair of twin documents for the cap test"))
    val corpus = (boiler ++ normals ++ nearDup).toDF("doc_id", "text")
    val cap = 10
    // the audit sees the mega-buckets: every band has one holding >= 30 docs
    val stats = Dedup.minhashBandBucketStats(corpus, "doc_id", "text", 16, 4, 3)
    assert(stats.head().getLong(2) >= 30)
    assert(stats.filter(col("n_docs") > cap).count() >= 4) // one per band
    val uncapped = Dedup.minhashLshPairs(corpus, "doc_id", "text", 16, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text", 16, 4, 3,
        maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // every bucket holding a boilerplate doc holds all 30 (identical keys),
    // so boiler-involving pairs exist ONLY in mega-buckets: the capped run
    // drops exactly those and keeps small-bucket pairs bit-identical,
    // n_bands included
    assert(capped == uncapped.filter { case (a, b, _) => a > 30L && b > 30L })
    assert(capped.exists { case (a, b, _) => a == 101L && b == 102L })
    assert(capped.exists { case (a, b, _) => a == 103L && b == 104L })
    assert(uncapped.exists { case (a, b, _) => b <= 30L }) // cap did real work
    // verified variant honors the cap with the same survivors
    val ver = Dedup.minhashLshVerifiedPairs(corpus, "doc_id", "text", 16, 4, 3,
        threshold = 0.8, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ver == Set((101L, 102L), (103L, 104L)))
    // incremental run: a new boilerplate copy joins the (over-cap) bucket
    // and is dropped; the batch's small-bucket pairs still surface
    val index = Dedup.minhashBandIndex(
      (boiler ++ normals).toDF("doc_id", "text"), "doc_id", "text", 16, 4, 3)
    val batch = (nearDup :+ (105L,
      "this exact same boilerplate license header appears on nearly every page of the crawl"))
      .toDF("doc_id", "text")
    val incr = Dedup.minhashIncrementalPairs(batch, index, "doc_id", "text",
        16, 4, 3, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == Set((101L, 102L), (103L, 104L)))
  }

  test("pairJoin cap (containment's prefix block): hot bucket dropped, small buckets exact") {
    import spark.implicits._
    import graft.operators.Dedup
    // one boilerplate prefix key (7) held by 60 docs — the crawl-header
    // skew q_containment_dedup's block key is exposed to — plus two
    // legitimate contained pairs on unique prefixes
    val sigs = ((1L to 60L).map(i => (i, 7L)) ++
      Seq((101L, 1L), (102L, 1L), (103L, 2L), (104L, 2L))).toDF("id", "blk")
    // the generic audit sees the mega-bucket, largest first
    val stats = Dedup.blockBucketStats(sigs, Seq("blk")).collect()
    assert(stats.head.getLong(1) == 60L)
    val cap = 10
    val uncapped = Dedup.pairJoin(sigs, Seq("blk"))
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.pairJoin(sigs, Seq("blk"), maxBucket = cap)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped pays the quadratic bucket (60*59/2 pairs); capped drops
    // EXACTLY the oversized bucket and keeps small-bucket pairs
    // bit-identical — no bucket larger than cap crosses the join
    assert(uncapped.size == 60 * 59 / 2 + 2)
    assert(capped == Set((101L, 102L), (103L, 104L)))
    assert(capped.forall { case (a, b) => a < b })
  }

  test("ivfTuning: measured recall/volume justify the published nProbe=4 dial") {
    import graft.operators.AnnIndex
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = graft.core.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qe"))
    val model = AnnIndex.ivfFit(
      corpus.filter(col("vec_id") % 4 === 1), "emb", nLists = 16)
    val rep = AnnIndex.ivfTuning(model, AnnIndex.ivfAssign(model, corpus, "emb"),
        "emb", "vec_id", q, "qe", k = 5, nProbes = Seq(1, 2, 4, 8, 16))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nCorpus = rep.head._3
    // the published dial: nProbe=4 buys >= 3/5 recall while scanning a
    // strict subset of the corpus — the measured justification for
    // q_ivf_topk's recall_ok bound
    val at4 = rep.find(_._1 == 4L).get
    assert(at4._4 >= 3L, s"nProbe=4 recall collapsed: $at4")
    assert(at4._2 < nCorpus, s"nProbe=4 scans the whole corpus: $at4")
    // theorem checks on the measured rows: monotone volume + recall,
    // probe-all == brute force (full corpus, 5/5)
    assert(rep.map(_._2).toSeq == rep.map(_._2).sorted.toSeq)
    assert(rep.map(_._4).toSeq == rep.map(_._4).sorted.toSeq)
    val full = rep.find(_._1 == 16L).get
    assert(full._2 == nCorpus && full._4 == 5L)
  }

  test("ivfPqTuning: measured recall justifies the published m=8/overFetch=32 dials") {
    import graft.operators.{AnnIndex, Quantize}
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val q = graft.core.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("qe"))
    val sample = corpus.filter(col("vec_id") % 4 === 1)
    val model = AnnIndex.ivfFit(sample, "emb", nLists = 16)
    val rep = Quantize.ivfPqTuning(model, corpus, "emb", "vec_id",
        sample, q, k = 5, dim = 64, ms = Seq(2, 8),
        overFetches = Seq(1, 4, 32, 512))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the published q_ivfpq_topk dials: 8 bytes/vector + x32 over-fetch
    // buy >= 3/5 recall — the measured justification for the spec values
    assert(rep((8L, 32L)) >= 3L, s"m=8/of=32 recall collapsed: $rep")
    // theorem rows on the measured cells: saturated over-fetch (5*512 >=
    // corpus) is exactly brute force at ANY code budget; recall is
    // non-decreasing in overFetch within each m (nested prefixes)
    assert(rep((2L, 512L)) == 5L && rep((8L, 512L)) == 5L)
    for (m <- Seq(2L, 8L))
      assert(Seq(1L, 4L, 32L, 512L).map(of => rep((m, of)))
        .sliding(2).forall(p => p(0) <= p(1)), s"m=$m not monotone: $rep")
  }

  test("GIF codec: animated round-trip exact, stride sampling, malformed throws") {
    import graft.operators.Multimodal
    val b = Multimodal.encodeGif(5, 4, 6, 9L)
    assert(new String(b, 0, 6, "US-ASCII").startsWith("GIF8"))
    // full walk: every frame's decoded gray sum replays the payload
    // formula exactly — the LZW path is genuinely lossless here
    val all = Multimodal.gifFrameStats(b, 1)
    assert(all.length == 6)
    val fb = 5L * 4L
    all.foreach { fs =>
      val want = (0L until fb).map(j => (9L * 5 + fs.frame_idx * fb + j) % 241).sum
      assert(fs.gray_sum == want && fs.width == 5L && fs.height == 4L,
        s"frame ${fs.frame_idx}: $fs != $want")
    }
    // stride sampling keeps frames 0, 3 only
    assert(Multimodal.gifFrameStats(b, 3).map(_.frame_idx).toSeq == Seq(0L, 3L))
    // non-GIF bytes fail loudly, same policy as the other walkers
    intercept[IllegalArgumentException] {
      Multimodal.gifFrameStats("not a gif at all".getBytes("US-ASCII"), 1)
    }
  }

  test("dHash64: format/scale-invariant over decoded rasters, sensitive to content") {
    import graft.operators.Multimodal
    val (w, h, seed) = (11, 9, 42L)
    val bmp = Multimodal.encodeBmp(w, h, seed)
    val base = Multimodal.dHash64(bmp)
    // byte-different containers and integer upscales of the SAME picture
    // collapse: PPM re-wrap, real PNG round-trip, 2x and 3x nearest
    // upscales (the floor(floor(a*k)/k) = floor(a) sample identity)
    assert(Multimodal.dHash64(Multimodal.encodePpm(w, h, seed)) == base)
    assert(Multimodal.dHash64(Multimodal.encodePng(w, h, seed)) == base)
    assert(Multimodal.dHash64(
      Multimodal.resizeBmp(bmp, 2 * w, 2 * h)) == base)
    assert(Multimodal.dHash64(
      Multimodal.resizeBmp(bmp, 3 * w, 3 * h)) == base)
    // different pictures at the same dims do NOT collide here
    assert(Multimodal.dHash64(Multimodal.encodeBmp(w, h, 43L)) != base)
    // the hash-mixed encoder family (the dedup fixtures) agrees the same
    // way: BMP == PPM == real-deflate PNG of the same mixed raster
    val mixed = Multimodal.dHash64(Multimodal.encodeBmpMix(w, h, seed))
    assert(Multimodal.dHash64(Multimodal.encodePpmMix(w, h, seed)) == mixed)
    assert(Multimodal.dHash64(Multimodal.encodePngMix(w, h, seed)) == mixed)
    assert(mixed != base)
    // unknown magic fails loudly, same policy as the other walkers
    intercept[IllegalArgumentException] {
      Multimodal.dHash64("definitely not an image".getBytes("US-ASCII"))
    }
  }

  test("audioFingerprint: gain/tail-invariant over parsed PCM, sensitive to content") {
    import graft.operators.Multimodal
    val n = 34 * 256
    val base = Multimodal.encodeWavMix(n, 8000, 7L)
    val fp = Multimodal.audioFingerprint(base, 256)
    // the same take at 2x master gain (real parse-transform-encode path;
    // energy scales by gain^2 uniformly) and a longer cut sharing the
    // prefix both fingerprint identically
    assert(Multimodal.audioFingerprint(Multimodal.wavGain(base, 2), 256) == fp)
    assert(Multimodal.audioFingerprint(
      Multimodal.encodeWavMix(n + 2048, 8000, 7L), 256) == fp)
    // a different recording does not collide; 32-bit range respected
    assert(Multimodal.audioFingerprint(
      Multimodal.encodeWavMix(n, 8000, 8L), 256) != fp)
    assert(fp >= 0L && fp < (1L << 33))
    // too-short clips and gain overflow fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.audioFingerprint(Multimodal.encodeWavMix(512, 8000, 7L), 256)
    }
    intercept[IllegalArgumentException] { Multimodal.wavGain(base, 20000) }
  }

  test("hammingPairs: sign-bit-safe chunking recovers planted near pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    // fingerprints exercising the SIGN bit: dHash64 can set bit 63, and a
    // div/pow or %-based chunk split mangles negative values — the
    // unsigned-shift + mask split must still block equal chunks together
    val rows = Seq(
      (1L, 0x8000000000000000L), // sign bit only
      (2L, 0x8000000000000001L), // hamming 1 from id 1
      (3L, 0x0000000000000001L), // hamming 1 from id 2, 2 from id 1
      (4L, 0x7FFFFFFFFFFFFFFFL)  // far from everything
    ).toDF("id", "fp")
    val got = Dedup.hammingPairs(rows, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L)))
  }

  test("hamming mega-bucket cap: monochrome images / silent audio bounded") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    // THE fingerprint-family skew hazard (the hot-prefix corpus' analog):
    // a monochrome raster has no rising gray anywhere, so EVERY letterbox
    // bar / blank thumbnail dHashes to exactly 0 — one mega-bucket per
    // chunk. Rasters go through the REAL PPM decode path.
    def monoPpm(w: Int, h: Int, v: Int): Array[Byte] =
      s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
        Array.fill(3 * w * h)(v.toByte)
    val monoHashes = (1L to 80L).map(i =>
      (i, Multimodal.dHash64(monoPpm((9 + i % 3).toInt, 9, (i % 5).toInt * 40))))
    assert(monoHashes.forall(_._2 == 0L), "monochrome rasters must dHash to 0")
    // planted legitimate near-dup pair (hamming <= 3) via the real fixture
    // writers — a small bucket that must survive the cap bit-identically
    val planted = Seq(
      (101L, Multimodal.dHash64(Multimodal.nearImageForDoc(2L))),
      (102L, Multimodal.dHash64(Multimodal.nearImageForDoc(80002L))))
    val imgs = (monoHashes ++ planted).toDF("id", "fp")
    val uncapped = Dedup.hammingPairs(imgs, "id", "fp", 64, 4, 3)
    val capped = Dedup.hammingPairs(imgs, "id", "fp", 64, 4, 3, maxBucket = 10)
    // uncapped pays the quadratic mega-bucket (80*79/2 zero-hamming pairs);
    // the cap drops EXACTLY the oversized bucket's pairs and keeps the
    // small-bucket pair — bounded volume, no bucket > cap crosses the join
    assert(uncapped.count() == 80L * 79L / 2L + 1L)
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((101L, 102L)))
    // silent audio: zero samples -> every frame energy 0 -> fingerprint 0,
    // same mega-bucket shape through the real RIFF/PCM parse
    val silentFp = {
      val b = Multimodal.encodeWavMix(34 * 256, 8000, 3L)
      java.util.Arrays.fill(b, 44, b.length, 0.toByte)
      Multimodal.audioFingerprint(b, 256)
    }
    assert(silentFp == 0L, "silent clip must fingerprint to 0")
    val silents = (1L to 60L).map(i => (i, silentFp))
    val clipPair = Seq(
      (201L, Multimodal.audioFingerprint(Multimodal.nearAudioForDoc(4L), 256)),
      (202L, Multimodal.audioFingerprint(Multimodal.nearAudioForDoc(80004L), 256)))
    val clips = (silents ++ clipPair).toDF("id", "fp")
    assert(Dedup.hammingPairs(clips, "id", "fp", 36, 3, 2).count() ==
      60L * 59L / 2L + 1L)
    assert(Dedup.hammingPairs(clips, "id", "fp", 36, 3, 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((201L, 202L)))
    // simhashPairs threads the cap: near-empty docs -> all-zero
    // fingerprints -> one mega-bucket; distinct prose pair survives
    val docs = ((1L to 40L).map(i => (i, "")) ++ Seq(
      (301L, "the quick brown fox jumps over the lazy dog again and again"),
      (302L, "the quick brown fox jumps over the lazy dog again and again")))
      .toDF("doc_id", "text")
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 60, 4, 3, 3,
        maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sim == Seq((301L, 302L)))
    assert(Dedup.simhashPairs(docs, "doc_id", "text", 60, 4, 3, 3)
      .count() == 40L * 39L / 2L + 1L)
  }

  test("hammingChunkIndex: chunks=1 keys on the whole fingerprint (w=64 mask wrap)") {
    import spark.implicits._
    import graft.operators.Dedup
    // (1L << 64) - 1 silently wraps to 0 on the JVM, which would collapse
    // EVERY fingerprint into one (0, 0) bucket at the chunks=1 geometry —
    // exact-dup blocking degrading to a single global mega-bucket. The
    // wrap-safe mask must key each row on its full fingerprint instead.
    val idx = Dedup.hammingChunkIndex(
      Seq((1L, 0L), (2L, -1L), (3L, Long.MinValue), (4L, 0L))
        .toDF("id", "fp"), "id", "fp", bits = 64, chunks = 1)
    val got = idx.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Long]("chunk_val"))).toSet
    assert(got == Set((1L, 0, 0L), (2L, 0, -1L),
      (3L, 0, Long.MinValue), (4L, 0, 0L)), s"got $got")
  }

  test("hammingIncrementalPairs: increment == from-scratch on batch-involving pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    // old corpus: a 9-strong all-zero bucket (exactly AT cap 9 — buckets
    // at the cap are untouched) plus two spread fingerprints; batch: a
    // near-dup of id 20, a new all-zero clip (pushing the zero bucket
    // OVER the cap), and a new x new pair
    val old = ((1L to 9L).map(i => (i, 0L)) ++ Seq(
      (20L, 0x0123456789ABCDEFL), (21L, 0x7EDCBA9876543210L))).toDF("id", "fp")
    val batch = Seq(
      (101L, 0x0123456789ABCDECL), // hamming 2 from id 20
      (102L, 0L),                  // 10th member of the zero bucket
      (103L, 0x00FF00FF00FF00FFL), // new x new pair with 104
      (104L, 0x00FF00FF00FF00FEL)  // hamming 1 from 103
    ).toDF("id", "fp")
    val full = old.unionByName(batch)
    val cap = 9
    def run(pairs: org.apache.spark.sql.DataFrame) =
      pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val index = Dedup.hammingChunkIndex(old, "id", "fp", 64, 4)
    val incr = run(Dedup.hammingIncrementalPairs(batch, index, "id", "fp",
      64, 4, 3, maxBucket = cap))
    val scratch = run(Dedup.hammingPairs(full, "id", "fp", 64, 4, 3,
      maxBucket = cap))
    // the contract: increment equals the capped from-scratch run over
    // old+new, restricted to pairs involving the batch — the zero bucket
    // (pushed over the cap BY the batch) is dropped from both sides, so
    // neither run pairs 102 with the nine old zeros
    assert(incr == scratch.filter { case (a, b, _) => a >= 101L || b >= 101L })
    assert(incr == Set((20L, 101L, 2L), (103L, 104L, 1L)))
    // uncapped, the batch's zero clip would have paired with all nine
    assert(run(Dedup.hammingIncrementalPairs(batch, index, "id", "fp",
      64, 4, 3)).size == 2 + 9)
    // an alien batch (no shared chunks possible at hamming <= 3) is empty
    val alien = Seq((999L, 0x5A5A5A5A5A5A5A5AL)).toDF("id", "fp")
    assert(Dedup.hammingIncrementalPairs(alien, index, "id", "fp",
      64, 4, 0).isEmpty)
    // a geometry-mismatched index fails LOUDLY instead of silently
    // mining zero cross pairs (the chunk_sig token)
    val err = intercept[Exception] {
      Dedup.hammingIncrementalPairs(batch, Dedup.hammingChunkIndex(
        old, "id", "fp", 64, 2), "id", "fp", 64, 4, 3).collect()
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(e => Option(e.getMessage)
        .exists(_.contains("stale hamming index"))), s"wrong error: $err")
    // the ADVICE r9 sibling hole: a mismatched geometry whose foreign
    // chunk_vals happen to NEVER collide with the batch's produces zero
    // candidate pairs — a per-pair assert never evaluates and the mine
    // silently returns empty. The assert rides the corpus-side chunk_val
    // key (per row), so it must fire even with zero joinable pairs.
    val silent = intercept[Exception] {
      Dedup.hammingIncrementalPairs(
        Seq((999L, 0L)).toDF("id", "fp"),
        Dedup.hammingChunkIndex(Seq((1L, 0x0123456789ABCDEFL)).toDF("id", "fp"),
          "id", "fp", 64, 2),
        "id", "fp", 64, 4, 3).collect()
    }
    assert(Iterator.iterate(silent: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(e => Option(e.getMessage)
        .exists(_.contains("stale hamming index"))),
      s"zero-match stale index went silent: $silent")
    // RANDOMIZED equivalence: over random fingerprint corpora, batches,
    // and caps, increment == capped from-scratch restricted to pairs
    // involving the batch — the fixed cases above are instances of this
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 3) {
      val cap2 = Seq(3, 8, Int.MaxValue)(trial - 1)
      // cluster fingerprints near a few anchors so near-dup pairs and
      // shared buckets actually occur at hamming <= 3
      def near(anchor: Long) =
        (1 to rnd.nextInt(4)).foldLeft(anchor)((v, _) => v ^ (1L << rnd.nextInt(64)))
      val anchors = Array.fill(5)(rnd.nextLong())
      val oldR = (1L to 40L).map(i => (i, near(anchors(rnd.nextInt(5)))))
      val newR = (101L to 115L).map(i => (i, near(anchors(rnd.nextInt(5)))))
      val oldDf = oldR.toDF("id", "fp"); val newDf = newR.toDF("id", "fp")
      val incr2 = run(Dedup.hammingIncrementalPairs(newDf,
        Dedup.hammingChunkIndex(oldDf, "id", "fp", 64, 4),
        "id", "fp", 64, 4, 3, maxBucket = cap2))
      val scratch2 = run(Dedup.hammingPairs(oldDf.unionByName(newDf),
        "id", "fp", 64, 4, 3, maxBucket = cap2))
      assert(incr2 == scratch2.filter { case (a, b, _) => a > 100L || b > 100L },
        s"trial $trial cap=$cap2: increment != from-scratch")
    }
    // the persistence claim, end-to-end: the index written to parquet
    // PARTITIONED BY chunk_idx (the documented 100 TB layout) and read
    // back — chunk_sig token included — mines the same pairs as the
    // in-memory index
    val dir = java.nio.file.Files.createTempDirectory("graft_hidx").toString + "/idx"
    index.write.partitionBy("chunk_idx").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val viaStore = run(Dedup.hammingIncrementalPairs(batch, loaded,
      "id", "fp", 64, 4, 3, maxBucket = cap))
    assert(viaStore == incr, s"parquet round-trip changed pairs: $viaStore")
  }

  test("hammingSalvageEdges: mega-bucket connectivity recovered without the quadratic") {
    import spark.implicits._
    import graft.operators.{Dedup, Multimodal}
    // planted twins INSIDE the mega-bucket through the REAL decode path:
    // 30 monochrome rasters (dHash exactly 0) + 10 single-bright-pixel
    // edits (dHash exactly one bit) — at cap 10 every shared chunk
    // bucket of a mono-involving pair is oversized, so pigeonhole
    // redundancy cannot save it and the plain cap loses it silently
    val monos = (0L until 30L).map(i =>
      (1000L + i, Multimodal.dHash64(Multimodal.monoImageForDoc(i))))
    val edits = (0L until 10L).map(e =>
      (2000L + e, Multimodal.dHash64(Multimodal.monoEditImageForDoc(e))))
    assert(monos.forall(_._2 == 0L), "monochrome rasters must dHash to 0")
    // the decoded edit hash is EXACTLY 1 << (r*8+7) — the fixture
    // contract q_dedup_cap_recall's closed-form oracle replays
    edits.foreach { case (id, fp) =>
      assert(fp == (1L << (((id - 2000L) % 8L) * 8L + 7L).toInt),
        s"edit $id decoded to $fp") }
    val df = (monos ++ edits).toDF("id", "fp")
    val fpMap = (monos ++ edits).toMap
    val cap = 10
    val index = Dedup.hammingChunkIndex(df, "id", "fp", 64, 4)
    def pairSet(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val truePairs = pairSet(Dedup.hammingPairsFromIndex(index, 3))
    val capped = pairSet(Dedup.hammingPairsFromIndex(index, 3, cap))
    val salvaged = pairSet(Dedup.hammingPairsSalvaged(df, "id", "fp",
      64, 4, 3, maxBucket = cap, maxReps = 16))
    // every pair in the fixture is a true pair (mono-mono 0, mono-edit 1,
    // edit-edit <= 2); the plain cap keeps only the two same-bit edit
    // pairs whose set-bit bucket is small
    assert(truePairs.size == 40 * 39 / 2)
    assert(capped == Set((2000L, 2008L, 0L), (2001L, 2009L, 0L)))
    // SOUND: every salvaged pair is true, with its real hamming
    salvaged.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(fpMap(a) ^ fpMap(b)).toLong == h
        && h <= 3L, s"false positive ($a, $b, $h)") }
    // superset of the capped run, at LINEAR size: stars are n-1 edges per
    // identical-fp group where the true pair set is quadratic
    assert(capped.subsetOf(salvaged))
    assert(salvaged.size < truePairs.size / 4,
      s"salvage emitted ${salvaged.size} of ${truePairs.size} — not linear")
    // COMPLETE: connectivity through the real propagation equals the
    // uncapped ground truth (all 40 one component here)
    def labelsOf(pairs: Set[(Long, Long, Long)]) =
      Dedup.clusters(df.select(col("id")), "id",
          pairs.toSeq.map(p => (p._1, p._2)).toDF("a_id", "b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf(salvaged) == labelsOf(truePairs),
      "salvaged components differ from uncapped ground truth")
    // the second-tier bound: a bucket more rep-diverse than maxReps skips
    // rep pairing (no mono-edit links survive) but KEEPS its stars, so
    // identical-fp groups still collapse
    val starved = pairSet(Dedup.hammingPairsSalvaged(df, "id", "fp",
      64, 4, 3, maxBucket = cap, maxReps = 2))
    assert(starved.forall { case (a, b, _) =>
      (a < 2000L) == (b < 2000L) }, "rep pairs leaked past maxReps")
    assert(starved.contains((1000L, 1001L, 0L)), "stars must survive maxReps")
    // the index-accepting faces refuse what they cannot check or satisfy:
    // a legacy index without the chunk_sig token fails the require, and a
    // 2-chunk index cannot pigeonhole maxHamming=3 — the guard rides the
    // hamming column and fails the JOB loudly instead of silently missing
    // every pair that shares no equal chunk
    intercept[IllegalArgumentException] {
      Dedup.hammingPairsFromIndex(index.drop("chunk_sig"), 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingSalvageEdges(index.drop("chunk_sig"), 3, cap, 16)
    }
    val coarse = Dedup.hammingChunkIndex(df, "id", "fp", 64, 2)
    val geomErr = intercept[Exception] {
      Dedup.hammingPairsFromIndex(coarse, 3).collect()
    }
    assert(Iterator.iterate(geomErr: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5).exists(e => Option(e.getMessage)
        .exists(_.contains("chunked too coarsely"))), s"wrong error: $geomErr")
    // the ADVICE r9 hole: a too-coarse index whose fingerprints share NO
    // chunk value produces ZERO candidate rows — a guard riding only the
    // joined pairs never evaluates and the call silently returns empty,
    // the exact silent-recall-loss class it promises to refuse. The
    // guard rides the chunk_val join key (per INDEX row) and must fire
    // here too, for both the pair join and the salvage tier.
    val disjoint = Dedup.hammingChunkIndex(
      Seq((1L, 0x0000000100000001L), (2L, 0x0000000200000002L))
        .toDF("id", "fp"), "id", "fp", 64, 2)
    for (call <- Seq(
        () => Dedup.hammingPairsFromIndex(disjoint, 3).collect(),
        () => Dedup.hammingSalvageEdges(disjoint, 3, 1, 16).collect())) {
      val e0 = intercept[Exception] { call() }
      assert(Iterator.iterate(e0: Throwable)(_.getCause)
        .takeWhile(_ != null).take(5).exists(e => Option(e.getMessage)
          .exists(_.contains("chunked too coarsely"))),
        s"zero-candidate coarse index went silent: $e0")
    }
    // RANDOMIZED battery: salvage ⊇ capped, sound, and (at unbounded
    // maxReps) component-EQUAL to the uncapped run — arbitrary skew
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 2) {
      val cap2 = Seq(4, 8)(trial - 1)
      def near(anchor: Long) =
        (1 to rnd.nextInt(4)).foldLeft(anchor)((v, _) => v ^ (1L << rnd.nextInt(64)))
      val anchors = Array.fill(4)(rnd.nextLong())
      // anchor 0 is boilerplate: copies + near variants force mega-buckets
      val rows = (1L to 20L).map(i => (i, near(anchors(0)))) ++
        (21L to 40L).map(i => (i, near(anchors(rnd.nextInt(4)))))
      val rdf = rows.toDF("id", "fp")
      val rMap = rows.toMap
      val rIndex = Dedup.hammingChunkIndex(rdf, "id", "fp", 64, 4)
      val rTrue = pairSet(Dedup.hammingPairsFromIndex(rIndex, 3))
      val rCapped = pairSet(Dedup.hammingPairsFromIndex(rIndex, 3, cap2))
      val rSalv = pairSet(Dedup.hammingPairsSalvaged(rdf, "id", "fp",
        64, 4, 3, maxBucket = cap2, maxReps = Int.MaxValue))
      assert(rCapped.subsetOf(rSalv), s"trial $trial: lost capped pairs")
      rSalv.foreach { case (a, b, h) =>
        assert(java.lang.Long.bitCount(rMap(a) ^ rMap(b)).toLong == h
          && h <= 3L, s"trial $trial false positive ($a, $b, $h)") }
      def rLabels(pairs: Set[(Long, Long, Long)]) =
        Dedup.clusters(rdf.select(col("id")), "id",
            pairs.toSeq.map(p => (p._1, p._2)).toDF("a_id", "b_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rLabels(rSalv) == rLabels(rTrue),
        s"trial $trial cap=$cap2: salvage components != uncapped components")
    }
  }

  test("embeddingSalvageEdges: verified stars + rep pairs reconnect capped vector floods") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Dedup}
    // Four directions sharing ONE coarse 8-plane bucket (margins >= 3 on
    // every plane dot, so the positive rescales below cannot flip a
    // sign) with four DISTINCT 16-bit component-sign sketches — the tiny
    // dims 1/2 carry +-0.1 whose sign is the sketch lever:
    //   D1 = base            D2 = dim1 -> -0.1   (cos ~0.9995, TRUE pair)
    //   D4 = dims1,2 -> -0.1 (cos ~0.999 to both)
    //   E  = dim2 -> -0.1, dims 32..63 halved (cos ~0.949 — under the
    //        0.99 threshold: rep pairs must verify-REJECT it)
    val base = Array(-0.5, 0.1, 0.1, 1.0, -1.0, -1.0, 1.0, 0.5, -0.5,
      -0.5, 1.0, 1.0, 1.0, -0.5, -0.5, -0.5, 1.0, -1.0, -1.0, -0.5, -1.0,
      0.5, -1.0, 0.5, 1.0, 1.0, 1.0, 1.0, 1.0, -0.5, 0.5, -1.0, -1.0,
      -0.5, 1.0, -0.5, 0.5, 1.0, 0.5, 1.0, 1.0, 0.5, 1.0, -0.5, 0.5,
      -1.0, 0.5, -0.5, 0.5, -1.0, -0.5, 0.5, 0.5, -1.0, -1.0, 1.0, 1.0,
      -1.0, 0.5, -1.0, 1.0, -0.5, -1.0, 0.5)
    val d2 = base.updated(1, -0.1)
    val d4 = base.updated(1, -0.1).updated(2, -0.1)
    val e = base.updated(2, -0.1).zipWithIndex
      .map { case (x, j) => if (j >= 32) x * 0.5 else x }
    def flood(idBase: Long, dir: Array[Double], n: Int) =
      (0 until n).map(i => (idBase + i, dir.map(_ * (i + 1))))
    val rows = (flood(100, base, 12) ++ flood(200, d2, 12) ++
        flood(300, e, 12) ++ flood(400, d4, 2) ++
        (0 until 10).map(i => (500L + i, Array.fill(64)(0.0))))
      .toDF("id", "emb")
    val corpus = AnnIndex.withBucket(rows, "emb", 64, 8)
    // fixture guard: all four directions really share the coarse bucket
    assert(corpus.filter(col("id").isin(100L, 200L, 300L, 400L))
      .select(col("bucket")).distinct().count() == 1)
    def pairSetOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val salvage = Dedup.embeddingSalvageEdges(corpus, "id", "emb",
      "bucket", threshold = 0.99, maxBucket = 8, maxReps = 4)
    val got = salvage.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 33 verified stars (rep = min id per flood, rescale cosine exactly
    // 1.0), ONE small-group pair (D4's two copies), THREE verified rep
    // pairs (E's rejected); the zero flood (block 0, oversized) emits
    // nothing — cosine 0 under the zero-norm guard
    val stars = (1 to 11).flatMap(i => Seq(
      (100L, 100L + i, 1.0), (200L, 200L + i, 1.0), (300L, 300L + i, 1.0)))
    assert(got.map(p => (p._1, p._2)) == (stars.map(p => (p._1, p._2)) ++
        Seq((400L, 401L), (100L, 200L), (100L, 400L), (200L, 400L))).toSet,
      s"got $got")
    assert(got.filter(p => stars.exists(s => s._1 == p._1 && s._2 == p._2))
      .forall(_._3 == 1.0), "star cosines must verify at exactly 1.0")
    assert(got.find(p => p._1 == 100L && p._2 == 200L).get._3 == 0.9995)
    // the capped face drops both oversized blocks wholesale, so the
    // one-shot wrapper is exactly the salvage here
    assert(Dedup.embeddingPairs(corpus, "id", "emb", "bucket",
      threshold = 0.99, maxBucket = 8).isEmpty)
    assert(pairSetOf(Dedup.embeddingPairsSalvaged(corpus, "id", "emb",
        "bucket", threshold = 0.99, maxBucket = 8, maxReps = 4))
      == got.map(p => (p._1, p._2)))
    // connectivity, the thing clusters/dropNearDuplicates consume:
    // D1+D2+D4 one component (rep pairs bridge the fine groups), E its
    // own, each zero vector an unlinked singleton
    val sizes = Dedup.clusters(rows.select(col("id")), "id",
        salvage.select(col("a_id"), col("b_id")))
      .groupBy(col("cluster")).count().collect().map(_.getLong(1)).sorted
    assert(sizes.toSeq == (Seq.fill(10)(1L) ++ Seq(12L, 26L)), s"got ${sizes.toSeq}")
    // maxReps bail: 4 fine groups > maxReps=2 drops the rep tier (the
    // block is "not boilerplate"), stars and small pairs survive
    val starved = Dedup.embeddingSalvageEdges(corpus, "id", "emb",
      "bucket", threshold = 0.99, maxBucket = 8, maxReps = 2)
    assert(pairSetOf(starved.select(col("a_id"), col("b_id")))
      == (stars.map(p => (p._1, p._2)) ++ Seq((400L, 401L))).toSet)
  }

  test("wideBucketExpr: genuinely distinct planes past the legacy 7-plane ceiling") {
    import graft.operators.AnnIndex
    val embs = graft.core.Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("emb"))
    val rows = embs.select(
        AnnIndex.bucketExpr("emb", 64, 16).as("lb"),
        AnnIndex.wideBucketExpr("emb", 64, 16).as("wb"),
        AnnIndex.wideBucketExprOf(transform(col("emb"), x => x * 3.0),
          64, 16).as("wb3"))
      .collect()
    // the legacy family's mod-7 period: plane 7 IS plane 0 and plane 8
    // IS plane 1, for every vector — the structural fact behind the
    // 128-effective-bucket ceiling q_ann_plane_family measures
    assert(rows.forall { r =>
      val lb = r.getLong(0)
      ((lb >> 7) & 1L) == (lb & 1L) && ((lb >> 8) & 1L) == ((lb >> 1) & 1L)
    }, "legacy planes 7/8 stopped mirroring 0/1 — the coef family changed")
    // the wide family is positive-scale-invariant like every sign-LSH
    // blocker (a rescaled copy must land in its original's bucket)
    assert(rows.forall(r => r.getLong(1) == r.getLong(2)),
      "wide bucket not scale-invariant")
    // and it actually buys selectivity on the real corpus
    val nLegacy = rows.map(_.getLong(0)).distinct.length
    val nWide = rows.map(_.getLong(1)).distinct.length
    assert(nLegacy <= 128 && nWide > nLegacy,
      s"legacy $nLegacy (ceiling 128) vs wide $nWide")
  }

  test("minhashSalvageVerifiedPairs: verified stars + bounded rep pairs on mega band buckets") {
    import spark.implicits._
    import graft.operators.Dedup
    // 20 identical copies of a license header (one signature group) +
    // 20 copies of the same header with one appended word (a second
    // group, exact jaccard 28/29 to the first — both groups' band
    // buckets are mega at cap 8, so the plain capped face drops EVERY
    // pair and only the salvage tier can recover the mass
    val headA = (1 to 30).map(i => s"w$i").mkString(" ")
    val headB = headA + " extraword"
    val corpus = ((1000L until 1020L).map(i => (i, headA)) ++
      (2000L until 2020L).map(i => (i, headB))).toDF("id", "text")
    val sigs = Dedup.minhashSignatures(corpus, "id", "text",
      k = 16, shingleN = 3).cache()
    val cap = 8
    def pairSet(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = pairSet(Dedup.minhashLshVerifiedPairsFromSignatures(sigs,
      k = 16, bands = 4, threshold = 0.6, maxBucket = cap))
    assert(capped.isEmpty, s"every bucket is mega — capped face must drop all: $capped")
    // the fixture only exercises the rep chain if the two groups share
    // >= 1 band key (the appended shingle left some band's minima alone)
    val sharedBands = Dedup.minhashLshPairs(corpus.filter(col("id").isin(1000L, 2000L)),
        "id", "text", 16, 4, 3)
      .collect()
    assert(sharedBands.nonEmpty, "fixture broken: groups share no band")
    val salvaged = pairSet(Dedup.minhashSalvageVerifiedPairs(sigs,
      k = 16, bands = 4, threshold = 0.6, maxBucket = cap, maxReps = 16))
    // stars: 19 (member, rep=min-id) edges per group at jaccard 1.0;
    // rep pairs: exactly one cross edge (1000, 2000) at 28/29 — LINEAR
    // where the true pair set is C(40,2) = 780
    val within = salvaged.filter { case (a, b, _) => (a < 2000L) == (b < 2000L) }
    val cross = salvaged -- within
    assert(within == ((1001L until 1020L).map(x => (1000L, x, 1.0)) ++
      (2001L until 2020L).map(x => (2000L, x, 1.0))).toSet,
      s"stars wrong: $within")
    assert(cross == Set((1000L, 2000L, 28.0 / 29.0)), s"rep pairs wrong: $cross")
    // the second-tier bound: the shared mega bucket holds 2 distinct
    // signatures, so maxReps = 1 skips rep pairing there but KEEPS the
    // stars — identical-text groups still collapse
    val starved = pairSet(Dedup.minhashSalvageVerifiedPairs(sigs,
      k = 16, bands = 4, threshold = 0.6, maxBucket = cap, maxReps = 1))
    assert(starved == within, s"maxReps=1 must strip exactly the rep pairs: $starved")
    // the one-shot wrapper = capped face ∪ salvage tier on the same dials
    val wrapped = pairSet(Dedup.minhashLshPairsSalvaged(corpus, "id", "text",
      k = 16, bands = 4, shingleN = 3, threshold = 0.6,
      maxBucket = cap, maxReps = 16))
    assert(wrapped == capped ++ salvaged, s"wrapper diverged: $wrapped")
    sigs.unpersist()
  }

  test("cosine IVF routing: monotone recall in nProbe, saturation equals brute force") {
    import spark.implicits._
    import graft.operators.AnnIndex
    // the q_crossmodal_ann_cos dial row: spherical lists (fit on
    // L2-normalized vectors), captions route by cos(query, centroid),
    // and the probed candidate SET grows with nProbe — so per-query
    // top-3 hits are weakly increasing, and probing all lists IS the
    // brute-force scan. Deterministic synthetic vectors: 64 images,
    // 20 captions that are small multiplicative perturbations of images
    // (the noisy-paired-modality shape).
    val rnd = new scala.util.Random(7)
    val imgs = (0 until 64).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextInt(100) + 1.0)))
    val caps = (0 until 20).map { c =>
      val base = imgs(rnd.nextInt(64))._2
      (c.toLong, base.map(x => x * (1.0 + 0.05 * rnd.nextGaussian())))
    }
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val imgDf = imgs.map { case (id, v) => (id, normalize(v).toSeq) }
      .toDF("img_id", "ivn")
    val model = AnnIndex.ivfFit(imgDf, "ivn", nLists = 8)
    val assign = AnnIndex.ivfAssign(model, imgDf, "ivn")
      .select(col("img_id"), col("list_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = model.clusterCenters.map(_.toArray)
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def top3(cv: Array[Double], pool: Seq[(Long, Array[Double])]) =
      pool.map { case (id, v) => (id, cos(cv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
    val exact = caps.map { case (cid, cv) => cid -> top3(cv, imgs) }.toMap
    val hitsAt = (1 to 8).map { nProbe =>
      nProbe -> caps.map { case (cid, cv) =>
        val lists = cents.zipWithIndex
          .sortBy { case (c, i) => (-cos(cv, c), i) }.take(nProbe)
          .map(_._2).toSet
        val pool = imgs.filter { case (id, _) => lists.contains(assign(id)) }
        cid -> (top3(cv, pool) & exact(cid)).size
      }.toMap
    }.toMap
    // weakly increasing per caption — a theorem, not a tendency: any
    // global-top-3 member inside the probed pool necessarily ranks in
    // the pool's top-3 (at most two others beat it anywhere), so
    // hits = |exact_top3 ∩ pool|, monotone in the pool; at nProbe=8 the
    // pool IS the corpus, so saturation must equal brute force exactly
    for (cid <- caps.map(_._1); n <- 1 to 7)
      assert(hitsAt(n)(cid) <= hitsAt(n + 1)(cid),
        s"caption $cid recall collapsed from nProbe=$n to ${n + 1}")
    assert(caps.forall { case (cid, _) => hitsAt(8)(cid) == 3 },
      "probing all lists must reproduce the exact top-3")
    // the q_crossmodal_ann_cos pin at its shipped dial: >= 2/3 per query
    assert(caps.forall { case (cid, _) => hitsAt(5)(cid) >= 2 },
      s"nProbe=5 recall pin broke: ${hitsAt(5)}")
    // and the dial is not vacuous: narrow probing genuinely misses
    assert(caps.map { case (cid, _) => hitsAt(1)(cid) }.sum <
      caps.map { case (cid, _) => hitsAt(8)(cid) }.sum,
      "nProbe=1 recalled everything — fixture has no routing tension")
  }

  test("windowed collocation pairs grow linearly in doc length") {
    import spark.implicits._
    // an all-distinct-token doc of L tokens emits exactly k*L - k(k+1)/2
    // pairs under the ±k window (k=4): LINEAR. The r6 document-level form
    // emitted L(L-1)/2 from the same doc — 2000 tokens would mean ~2M
    // pairs instead of 7990. Long-doc fixture, exact counts.
    def nPairs(len: Int): Long =
      Seq((1 to len).map(i => s"t$i").mkString(" ")).toDF("text")
        .select(expr(graft.functions.text.tokens(S, "text")).as("toks"))
        .select(explode(expr(
          graft.queries.PipelineQueries.windowPairsExpr("toks", 4))))
        .count()
    assert(nPairs(1000) == 4L * 1000 - 10)
    assert(nPairs(2000) == 4L * 2000 - 10)
  }

  test("int8 quantization: bounded dot error, high two-stage recall, 4x smaller") {
    import graft.operators.Quantize
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    // per-element quantization error <= scale/2, so
    // |approx_dot - dot| <= (scale_a/2)*||b||_1-ish bound; check empirically
    // against the exact kernel on every pair with vec 0
    val q = corpus.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    // codes land as BINARY (Spark's Array[Byte] mapping — 1 B/dim on disk);
    // cross-check the approximate dot in plain JVM arithmetic
    val qRow = Quantize.withCodes(q.select(col("qe").as("emb")), "emb").head()
    val (qCodes, qScale) = (qRow.getAs[Array[Byte]]("q_codes"),
      qRow.getAs[Double]("q_scale"))
    val rows = Quantize.withCodes(corpus, "emb").crossJoin(broadcast(q))
      .select(col("vec_id"),
        graft.functions.vectors.dot(col("emb"), col("qe")).as("exact"),
        col("q_codes"), col("q_scale"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getAs[Array[Byte]]("q_codes")
      val approx = codes.zip(qCodes).map { case (a, b) => a.toLong * b.toLong }.sum *
        r.getAs[Double]("q_scale") * qScale
      val err = math.abs(r.getDouble(1) - approx)
      assert(err <= 0.05, s"vec ${r.getLong(0)}: dot error $err")
    }
    // two-stage recall@5 vs brute force (x4 over-fetch)
    val exact = graft.operators.VectorSearch
      .knnByExample(corpus, "emb", q, "qe", k = 5, threshold = -1.0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val viaQ = Quantize.topK(corpus, "emb", q, k = 5, overFetch = 4,
        tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & viaQ).size.toDouble / exact.size
    assert(recall >= 0.8, s"two-stage recall $recall < 0.8 (exact=$exact viaQ=$viaQ)")
    // the compact store is ~4x smaller than float32 (1 byte per dimension)
    val one = Quantize.withCodes(corpus.limit(1), "emb")
      .select(length(col("q_codes")), size(col("emb"))).head()
    assert(one.getInt(0) == one.getInt(1))
    // the persisted-store contract: topK over a frame ALREADY carrying
    // q_codes/q_scale reuses them (no recompute, no refusal) and returns
    // the identical top-k — the point of persisting the compact store
    val persisted = Quantize.withCodes(corpus, "emb")
    val viaPersisted = Quantize.topK(persisted, "emb", q, k = 5,
        overFetch = 4, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaPersisted == viaQ, "persisted codes changed the result")
    // while a PARTIAL clash (one of the two names) still fails loudly
    intercept[IllegalArgumentException] {
      Quantize.withCodes(corpus.withColumn("q_scale", lit(1.0)), "emb")
    }
    // freshness token: a store whose embeddings changed AFTER encoding
    // (same dimension — the case the shape guard cannot see) fails loudly
    // on the re-rank page instead of silently ranking on stale codes
    val stale = persisted.withColumn("emb",
      expr("transform(emb, x -> -x)")) // re-embedded corpus, codes kept
    val ex = intercept[Exception] {
      Quantize.topK(stale, "emb", q, k = 5, overFetch = 4,
        tieBreak = Seq("vec_id")).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("stale int8 store"),
      s"wrong failure: ${ex.getMessage}")
    // a pre-token store (persisted before q_sig existed) keeps reusing
    // under the documented shape-guard-only contract
    val legacy = Quantize.topK(persisted.drop("q_sig"), "emb", q, k = 5,
        overFetch = 4, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(legacy == viaQ, "legacy no-sig store changed the result")
  }

  test("product quantization: byte codes, exact-on-centroids ADC, two-stage recall") {
    import graft.operators.Quantize
    val e = graft.core.Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
    val dim = 64; val m = 8; val nC = 32
    // fitting tolerates null embedding rows (skipped, like pqEncode
    // null-guards them) — fit on a corpus WITH a null row, use everywhere
    val withNull = e.unionByName(e.limit(1)
      .withColumn("embedding", lit(null).cast("array<float>")))
    val cbs = Quantize.pqFit(withNull, "embedding", dim, m, nC)
    assert(cbs.length == m && cbs.forall(_.length == nC) &&
      cbs.forall(_.forall(_.length == dim / m)))
    // codes: m bytes per vector (64x smaller than float32), ids in range,
    // deterministic across re-encoding
    val codes1 = Quantize.pqEncode(e, "embedding", cbs)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val codes2 = Quantize.pqEncode(e, "embedding", cbs)
      .select("vec_id", "pq_codes").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    codes1.foreach { case (id, c) =>
      assert(c.length == m)
      assert(c.forall(b => (b & 0xff) < nC))
      assert(java.util.Arrays.equals(c, codes2(id)))
    }
    // ADC is exact when the vector IS its centroid concatenation: the
    // lookup table contains the full dot, no quantization residue
    val centroidVec = (0 until m).flatMap(s => cbs(s)(3)).toArray
    val q = Array.tabulate(dim)(j => math.sin(j + 1.0))
    val lut = Quantize.adcTable(cbs, q)
    val adc = (0 until m).map(s => lut(s * nC + 3)).sum
    val exact = centroidVec.zip(q).map { case (a, b) => a * b }.sum
    assert(math.abs(adc - exact) < 1e-9)
    // two-stage recall vs brute force on the real embeddings table
    import org.apache.spark.sql.functions.{col => c2}
    val query = e.filter(c2("vec_id") === 0)
      .select(c2("embedding").cast("array<double>").as("qe"))
    val corpus = e.filter(c2("vec_id") =!= 0)
    val got = Quantize.pqTopK(corpus, "embedding", cbs, query, k = 5,
        overFetch = 8, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val truth = graft.operators.VectorSearch
      .knnByExample(corpus, "embedding", query, "qe", 5, threshold = -2.0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    println(s"PQ_RECALL=$recall")
    assert(recall >= 0.4, s"two-stage PQ recall@5 collapsed: $recall")
    // codebook freshness token: a persisted store searched with DIFFERENT
    // codebooks of the SAME m/nC — invisible to every shape guard — fails
    // loudly; the same store with the matching codebooks keeps reusing
    val persisted = Quantize.pqEncode(corpus, "embedding", cbs)
    val cbs2 = Quantize.pqFit(withNull.filter(c2("vec_id") =!= 1), "embedding",
      dim, m, nC, seed = 99L)
    assert(Quantize.cbFingerprint(cbs2) != Quantize.cbFingerprint(cbs))
    val ex = intercept[Exception] {
      Quantize.pqTopK(persisted, "embedding", cbs2, query, k = 5,
        overFetch = 8, tieBreak = Seq("vec_id")).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("stale PQ store"),
      s"wrong failure: ${ex.getMessage}")
    val viaPersisted = Quantize.pqTopK(persisted, "embedding", cbs, query,
        k = 5, overFetch = 8, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaPersisted == got, "persisted PQ store changed the result")
    // pre-token stores (no pq_cb_sig) reuse under the shape-guard contract
    val legacy = Quantize.pqTopK(persisted.drop("pq_cb_sig"), "embedding",
        cbs, query, k = 5, overFetch = 8, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(legacy == got, "legacy no-sig PQ store changed the result")
  }

  test("incremental clustering equals the from-scratch run over old+new pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    // old graph: {1,2,3} chained, {4,5} paired, 6 singleton
    val oldPairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val oldIds = (1L to 6L).toDF("id")
    val oldLabels = Dedup.clusters(oldIds, "id", oldPairs).select("id", "cluster")
    // new batch: 7 joins {4,5}; 8-9 form a new cluster; (3,4) BRIDGES the
    // two old clusters — the hard case a naive "attach to one cluster"
    // incremental scheme gets wrong
    val newPairs = Seq((5L, 7L), (8L, 9L), (3L, 4L)).toDF("a_id", "b_id")
    val allIds = (1L to 9L).toDF("id")
    val incr = Dedup.clustersIncremental(allIds, "id", oldLabels, newPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val scratch = Dedup.clusters(allIds, "id", oldPairs.unionByName(newPairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(incr == scratch)
    // the bridge collapsed everything reachable into min-id cluster 1
    assert(incr.filter(_._2 == 1L).map(_._1) == Set(1L, 2L, 3L, 4L, 5L, 7L))
    assert(incr.contains((6L, 6L, 1L)) && incr.contains((8L, 8L, 2L)))
  }

  test("dedup operators tolerate NULL text rows (skip, don't abort)") {
    import spark.implicits._
    // TWO null docs, not one: a single null can never pair, so the
    // original one-null fixture could not catch the null-band-key
    // bucketing hole (null sigs band to NULL keys in every band; the
    // null-safe pair join would emit (3,4,n_bands=bands) — the
    // strongest possible candidate — for two docs with NO content,
    // where the oracle's plain `=` band join emits nothing)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .minhashLshPairs(corpus, "doc_id", "text", k = 16, bands = 4, shingleN = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L))) // null docs match nothing, job survives
    val sim = graft.operators.Dedup
      .simhashPairs(corpus, "doc_id", "text", 60, 4, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sim.toSeq == Seq((1L, 2L)))
  }

  test("caller-block pair faces: NULL blocks never pair; k-mismatch on a signature table is loud") {
    import spark.implicits._
    import graft.operators.Dedup
    // SQL equality-blocking semantics for CALLER-supplied block columns:
    // two rows with identical text but NULL domain must not pair (and
    // must not collapse into one uncapped mega-bucket)
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, t, "a.com"), (2L, t, "a.com"),
        (3L, t, null.asInstanceOf[String]), (4L, t, null.asInstanceOf[String]))
      .toDF("doc_id", "text", "domain")
    val ng = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "domain",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ng == Seq((1L, 2L)), s"null-block rows paired: $ng")
    val vecs = Seq((1L, Seq(1.0, 0.0), "x"), (2L, Seq(1.0, 0.0), "x"),
        (3L, Seq(1.0, 0.0), null.asInstanceOf[String]),
        (4L, Seq(1.0, 0.0), null.asInstanceOf[String]))
      .toDF("id", "emb", "blk")
    val ep = Dedup.embeddingPairs(vecs, "id", "emb", "blk", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ep == Seq((1L, 2L)), s"null-block vectors paired: $ep")
    // a persisted signature table re-loaded under the WRONG k slices
    // empty arrays into phantom bands (band_key "" for every doc — one
    // corpus-wide bucket per band, silently); the structural check on
    // the band key must refuse instead
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text",
      k = 16, shingleN = 3).localCheckpoint()
    val e = intercept[Exception] {
      Dedup.minhashLshVerifiedPairsFromSignatures(sigs, k = 32, bands = 8,
        threshold = 0.5).collect()
    }
    assert(e.getMessage.contains("does not match k=32"), e.getMessage)
    // and sig_geom rides the table for the loader-side shingleN check
    assert(sigs.columns.contains("sig_geom") &&
      sigs.select(col("sig_geom")).head().getLong(0) == 16L * 100000L + 3L)
  }

  test("prefix-filter Jaccard join: lossless vs brute force, exact rational boundary, cap, null/empty semantics") {
    import spark.implicits._
    import graft.operators.Dedup
    // losslessness (the prefix lemma): on a corpus with NO cap engaged,
    // the prefix-filtered join must return EXACTLY the brute-force pairs —
    // not a superset (verification broken), not a subset (prefix too short)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val docs = (1 to 30).map { i =>
      // deterministic overlapping windows over the vocab, varying lengths
      val toks = (0 until (3 + i % 5)).map(j => vocab((i + j * j) % vocab.size))
      (i.toLong, toks.mkString(" "))
    }
    val got = Dedup.prefixFilterJaccardPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", num = 4, den = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.map { case (id, t) => id -> TextSig.shingleHashes(t, 1).toSet }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      if (sa & sb).size * 5 >= (sa | sb).size * 4
    } yield (ia, ib)).toSet
    assert(want.nonEmpty && got == want,
      s"prefix filter not lossless: missing ${want -- got}, extra ${got -- want}")
    // strategy independence (r14): the broadcastDfreq gate picks a join
    // STRATEGY for the document-frequency table, never a result — the
    // web-scale escape hatch (false → AQE-chosen join) must return the
    // identical pair set
    val gotShuffled = Dedup.prefixFilterJaccardPairs(docs.toDF("doc_id", "text"),
        "doc_id", "text", num = 4, den = 5, broadcastDfreq = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotShuffled == want,
      s"broadcastDfreq=false changed the result: missing ${want -- gotShuffled}, extra ${gotShuffled -- want}")
    // exact rational boundary: J = 4/5 exactly is KEPT (den*inter >= num*uni
    // integer arithmetic — a double 0.8 comparison is engine-dependent here)
    val edge = Seq((1L, "a b c d"), (2L, "a b c d e"),
        (3L, null.asInstanceOf[String]), (4L, ""), (5L, " ")).toDF("doc_id", "text")
    val ep = Dedup.prefixFilterJaccardPairs(edge, "doc_id", "text", 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // null text (3) never pairs; empty/whitespace texts (4, 5) both hash to
    // the {0} singleton set and pair at J = 1 — documented, engine-mirrored
    assert(ep == Set((1L, 2L, 0.8), (4L, 5L, 1.0)), s"edge pairs: $ep")
    // maxBucket: 70 one-token docs share one prefix bucket > cap — dropped
    // (their 2415 J=1 pairs are the boilerplate-mega-bucket shape); the
    // 2-doc bucket stays exact
    val hot = ((1 to 70).map(i => (i.toLong, "hot")) ++
      Seq((71L, "cold stream"), (72L, "cold stream"))).toDF("doc_id", "text")
    val capped = Dedup.prefixFilterJaccardPairs(hot, "doc_id", "text", 4, 5,
        maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((71L, 72L)), s"capped pairs: $capped")
    val uncapped = Dedup.prefixFilterJaccardPairs(hot, "doc_id", "text", 4, 5)
      .count()
    assert(uncapped == 70L * 69 / 2 + 1, s"uncapped pair count: $uncapped")
  }

  test("ledger fingerprint distinguishes even-multiplicity slices; mixed-geometry hamming never cross-pairs") {
    import spark.implicits._
    import graft.operators.Dedup
    // bit_xor alone cancels rows with even multiplicity: two DIFFERENT
    // batches, each carrying its rows twice, xor to the same 0 — the sum
    // component must split them
    val a = Seq((1L, "x"), (1L, "x")).toDF("id", "v")
    val b = Seq((2L, "y"), (2L, "y")).toDF("id", "v")
    assert(Dedup.ledgerContentFp(a) != Dedup.ledgerContentFp(b),
      "even-multiplicity slices collided")
    assert(Dedup.ledgerContentFp(a) == Dedup.ledgerContentFp(a.orderBy(desc("id"))),
      "fingerprint is not order-free")
    // a mixed-geometry index (manual union of two stores — every refresh
    // path refuses to create one) must not pair fingerprints through
    // coincidentally-equal chunk values of DIFFERENT widths: fp=1 at
    // 4x16-bit chunks and fp=1 at 8x8-bit chunks share chunk_val 1 at
    // chunk_idx 0, but their chunks are not comparable
    val i1 = Dedup.hammingChunkIndex(Seq((10L, 1L)).toDF("id", "fp"),
      "id", "fp", bits = 64, chunks = 4)
    val i2 = Dedup.hammingChunkIndex(Seq((20L, 1L)).toDF("id", "fp"),
      "id", "fp", bits = 64, chunks = 8)
    val crossed = Dedup.hammingPairsFromIndex(i1.unionByName(i2),
        maxHamming = 3)
      .collect()
    assert(crossed.isEmpty,
      s"mixed-geometry index cross-paired: ${crossed.mkString(",")}")
  }

  test("dedup clusters: empty pair table -> all singletons (no NPE)") {
    import spark.implicits._
    val ids = (1L to 5L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val got = graft.operators.Dedup.clusters(ids, "id", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (1L to 5L).foreach(i => assert(got(i) == (i, 1L)))
  }

  test("as-of join: NULL right timestamps never match (DuckDB >= semantics)") {
    import spark.implicits._
    import java.sql.Timestamp
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val left = Seq((1L, 1L, t)).toDF("event_id", "k", "ts")
    val right = Seq((1L, null.asInstanceOf[Timestamp], 9.0))
      .toDF("k", "ts", "v")
    val got = graft.operators.AsOfJoin
      .asOfLatest(left, right, "k", "ts", "ts", Seq("v"))
      .select(col("asof.v")).collect()
    assert(got.length == 1 && got(0).isNullAt(0))
  }

  test("interval join: exclusive end, multi-bucket spans, exactly-once pairs") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val iv = Seq(
      (1L, ts("2024-01-01 00:30:00"), ts("2024-01-03 00:00:00")), // exclusive end: replicates to 2 day-buckets (Jan-1, Jan-2)
      (2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")))
      .toDF("user_id", "start_ts", "end_ts")
    val ev = Seq(
      (10L, 1L, ts("2024-01-02 23:59:59")), // inside, far bucket
      (11L, 1L, ts("2024-01-03 00:00:00")), // exactly at end -> excluded
      (12L, 1L, ts("2024-01-01 00:30:00")), // exactly at start -> included
      (13L, 2L, ts("2024-01-01 10:30:00")), // inside the short interval
      (14L, 2L, ts("2024-01-02 10:30:00"))) // right key, outside
      .toDF("event_id", "user_id", "ts")
    val got = graft.operators.IntervalJoin
      .containsJoin(iv, ev, "user_id", "start_ts", "end_ts", "ts",
        bucketMinutes = 24 * 60)
      .select("e_event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(10L, 12L, 13L))
  }

  test("as-of join matches a brute-force reference on random data") {
    import spark.implicits._
    import java.sql.Timestamp
    val rnd = new scala.util.Random(7)
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val leftRows = (1L to 300L).map(id =>
      (id, rnd.nextInt(12).toLong, ts(rnd.nextInt(500))))
    // right unique per (key, ts) by construction
    val rightRows = Seq.fill(400)((rnd.nextInt(12).toLong, ts(rnd.nextInt(500))))
      .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toDouble) }
    val left = leftRows.toDF("event_id", "k", "ts")
    val right = rightRows.toDF("k", "ts", "v")
      .select(col("k"), col("ts"), col("v"))
    val got = graft.operators.AsOfJoin
      .asOfLatest(left, right, "k", "ts", "ts", Seq("v"))
      .select(col("event_id"), col("asof.v"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got.size == leftRows.size) // left-join row preservation
    leftRows.foreach { case (id, k, t) =>
      val want = rightRows.filter(r => r._1 == k && !r._2.after(t))
        .sortBy(_._2.getTime).lastOption.map(_._3)
      assert(got(id) == want, s"event $id key $k ts $t: got ${got(id)}, want $want")
    }
  }

  test("gridPairs finds exactly the brute-force pair set on random points") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // lat band up to the declared maxAbsLat; a third of the points hug the
    // antimeridian (either side) so seam pairs are exercised, the rest
    // span an ordinary lon range including sign changes
    val pts = (1L to 150L).map { id =>
      val lon =
        if (id % 3 == 0) {
          val d = 178.0 + rnd.nextDouble() * 2 // within 2 deg of the seam
          if (rnd.nextBoolean()) d else -d
        } else rnd.nextDouble() * 20 - 10
      (id, rnd.nextDouble() * 70 - 35, lon)
    }
    val df = pts.toDF("id", "lat", "lon")
    val got = graft.operators.GeoSearch
      .gridPairs(df, "id", "lat", "lon", maxKm = 200.0, maxAbsLat = 35.0)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- pts; b <- pts if a._1 < b._1
      if graft.plans.HaversineKm.compute(a._2, a._3, b._2, b._3) <= 200.0
    } yield (a._1, b._1)).toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("nearestK keeps neighbors across the pole and the antimeridian") {
    import spark.implicits._
    // 11.1 km apart over the pole; the lon windows are disjoint, so any
    // lon BETWEEN predicate would wrongly drop the pair. Same story for
    // two points straddling the antimeridian at mid latitude.
    val left = Seq((1L, 89.95, 0.0), (2L, 10.0, 179.99)).toDF("lid", "lat", "lon")
    val right = Seq((10L, 89.95, 180.0), (20L, 10.0, -179.99))
      .toDF("rid", "stop_lat", "stop_lon")
    val got = graft.operators.GeoSearch.nearestK(
        left, right, "lid", "lat", "lon", "rid", "stop_lat", "stop_lon",
        k = 1, maxKm = 20.0)
      .select("lid", "rid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 10L, 2L -> 20L), s"got $got")
  }

  test("ANN KNN join recalls most brute-force neighbors at 4 planes") {
    // correctness of WHAT the bucket join returns is oracle-gated
    // (q_knn_join); this pins the QUALITY floor — a bucketing regression
    // (bad coefficients, over-aggressive planes) would tank recall while
    // still hash-matching its own oracle
    import org.apache.spark.sql.expressions.Window
    val all = graft.core.Tables.embeddings(spark, sf).select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    val queries = all.filter(col("vec_id") < 20)
    val corpus = all.filter(col("vec_id") >= 20)
    def recallAt(probeBits: Int): Double = {
      val approx = graft.operators.AnnIndex
        // wide = false: this floor was MEASURED on the legacy family and
        // guards the oracle-gated q_knn_join, which pins that geometry
        .annJoin(queries, "vec_id", "emb", corpus, "vec_id", "emb",
          dim = 64, planes = 4, k = 3, probeBits = probeBits, wide = false)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val w = Window.partitionBy("query_id")
        .orderBy(desc("similarity"), col("neighbor_id"))
      val exact = queries.select(col("vec_id").as("query_id"), col("emb").as("qe"))
        .crossJoin(corpus.select(col("vec_id").as("neighbor_id"), col("emb")))
        .withColumn("similarity", graft.functions.vectors.cosineSim(col("emb"), col("qe")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & exact).size.toDouble / exact.size
    }
    val single = recallAt(0)
    val probed = recallAt(1)
    // the synthetic embeddings are near-random, the hardest case for LSH
    // (little sign-pattern correlation to exploit): single-probe measures
    // ~0.17, 1-bit multi-probe ~0.38 here. The invariant worth pinning is
    // the LEVER — multi-probe strictly lifts recall — plus a floor with
    // margin under the measured value to catch bucketing regressions
    // (broken coefficients collapse recall toward k/|corpus| ≈ 0.02)
    assert(probed > single, f"multi-probe ($probed%.2f) not above single ($single%.2f)")
    assert(probed >= 0.3, f"1-bit multi-probe recall $probed%.2f below floor")
  }

  test("IVF ANN: probing all lists equals brute force; partial probe recalls") {
    import graft.operators.AnnIndex
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val query = corpus.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    val rest = corpus.filter(col("vec_id") =!= 0)
    val model = AnnIndex.ivfFit(rest, "emb", nLists = 8)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = ids(graft.operators.VectorSearch.knnByExample(
      rest, "emb", query, "qe", k = 10, threshold = -2.0))
    // exactness contract: nProbe = nLists is brute force (set-compare —
    // knnByExample has no tiebreak, so exact-tie orderings may differ)
    val full = ids(AnnIndex.ivfTopK(model, rest, "emb", query, "qe",
      k = 10, nProbe = 8, tieBreak = Seq("vec_id")))
    assert(full.toSet == brute.toSet, s"full probe diverged: $full vs $brute")
    // partial probe: approximate, but must overlap the true top-10
    val partial = ids(AnnIndex.ivfTopK(model, rest, "emb", query, "qe",
      k = 10, nProbe = 2, tieBreak = Seq("vec_id")))
    val recall = partial.toSet.intersect(brute.toSet).size
    assert(recall >= 3, s"nProbe=2 recall too low: $recall of 10 ($partial)")
  }

  test("IVFPQ: probe-all + wide over-fetch equals brute force; residual recall beats a bound") {
    import graft.operators.{AnnIndex, Quantize}
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val query = corpus.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    val rest = corpus.filter(col("vec_id") =!= 0)
    val model = AnnIndex.ivfFit(rest, "emb", nLists = 8)
    val cb = Quantize.pqFit(Quantize.ivfResiduals(model, rest, "emb"),
      "__res", dim = 64, m = 8, nCentroids = 16, maxIter = 2)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq
    val brute = ids(graft.operators.VectorSearch.knnByExample(
      rest, "emb", query, "qe", k = 10, threshold = -2.0))
    // probe-all + corpus-wide over-fetch: the exact re-rank sees every
    // row, so ADC resolution cannot matter — must equal brute force
    val n = rest.count().toInt
    val full = ids(Quantize.ivfPqTopK(model, rest, "emb", cb, query,
      k = 10, nProbe = 8, overFetch = n, tieBreak = Seq("vec_id")))
    assert(full.toSet == brute.toSet, s"degenerate IVFPQ diverged: $full vs $brute")
    // the real configuration: partial probe + narrow over-fetch
    val approx = ids(Quantize.ivfPqTopK(model, rest, "emb", cb, query,
      k = 10, nProbe = 2, overFetch = 4, tieBreak = Seq("vec_id")))
    val recall = approx.toSet.intersect(brute.toSet).size
    assert(recall >= 3, s"IVFPQ recall too low: $recall of 10 ($approx)")
  }

  test("IVF store refresh: append-only increment equals a from-scratch rebuild") {
    // the incremental-maintenance contract: the persisted store's loud
    // staleness failure has a cheap remedy — assign ONLY the new batch
    // under the unchanged routing fit and append. Assignment is a pure
    // per-row function of (embedding, centroids), so refresh == rebuild
    // exactly; a model re-fit must be refused, not absorbed.
    import graft.operators.AnnIndex
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val base = corpus.filter(col("vec_id") < 150)
    val batch = corpus.filter(col("vec_id") >= 150 && col("vec_id") < 200)
    val model = AnnIndex.ivfFit(base, "emb", nLists = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/store"
    AnnIndex.ivfStore(model, base, "emb")
      .write.partitionBy("list_id").parquet(dir)
    AnnIndex.ivfRefresh(spark, model, dir, batch, "emb")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "list_id", "ivf_sig").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val rebuilt = rows(AnnIndex.ivfStore(model, base.unionByName(batch), "emb"))
    assert(rows(spark.read.parquet(dir)) == rebuilt,
      "refreshed store differs from a from-scratch rebuild")
    // probing the refreshed store equals probing the rebuild (token checks
    // pass on the matching model — the assert_true fold stays silent)
    val query = corpus.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    def ids(assigned: org.apache.spark.sql.DataFrame) =
      AnnIndex.ivfTopKAssigned(model, assigned, "emb", query, "qe",
        k = 5, nProbe = 8, tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(spark.read.parquet(dir)) ==
      ids(AnnIndex.ivfStore(model, base.unionByName(batch), "emb")))
    // a different fit (new seed → new centroids) must be refused loudly
    val refit = AnnIndex.ivfFit(base, "emb", nLists = 8, seed = 99L)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfRefresh(spark, refit, dir, batch, "emb")
    }
    assert(e.getMessage.contains("stale IVF store"), e.getMessage)
  }

  test("PQ store refresh: append-only increment equals a from-scratch re-encode") {
    // pqRefresh is ivfRefresh's twin for the code store: encoding is a
    // pure per-row function of (embedding, codebooks), so appending the
    // newly-encoded batch equals re-encoding everything; a store built
    // under different codebooks must be refused, not absorbed
    import graft.operators.Quantize
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val base = corpus.filter(col("vec_id") < 150)
    val batch = corpus.filter(col("vec_id") >= 150 && col("vec_id") < 200)
    val cb = Quantize.pqFit(base, "emb", dim = 64, m = 8,
      nCentroids = 16, maxIter = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString + "/store"
    Quantize.pqEncode(base, "emb", cb).write.parquet(dir)
    Quantize.pqRefresh(spark, cb, dir, batch, "emb")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "pq_codes", "pq_cb_sig").collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toList, r.getLong(2)))
        .toSet
    val rebuilt = rows(Quantize.pqEncode(base.unionByName(batch), "emb", cb))
    assert(rows(spark.read.parquet(dir)) == rebuilt,
      "refreshed PQ store differs from a from-scratch re-encode")
    // codebooks from a different fit must be refused loudly
    val refit = Quantize.pqFit(base, "emb", dim = 64, m = 8,
      nCentroids = 16, seed = 99L, maxIter = 2)
    val e = intercept[IllegalArgumentException] {
      Quantize.pqRefresh(spark, refit, dir, batch, "emb")
    }
    assert(e.getMessage.contains("stale PQ store"), e.getMessage)
    // a ZERO-ROW store (schema present, no data) raises the loud rebuild
    // message, not an NPE from the null min/max — both refresh twins
    val emptyPq = java.nio.file.Files
      .createTempDirectory("graft_pq_empty").toString + "/store"
    Quantize.pqEncode(base, "emb", cb).limit(0).write.parquet(emptyPq)
    val ep = intercept[IllegalArgumentException] {
      Quantize.pqRefresh(spark, cb, emptyPq, batch, "emb")
    }
    assert(ep.getMessage.contains("is empty"), ep.getMessage)
    import graft.operators.AnnIndex
    val model = AnnIndex.ivfFit(base, "emb", nLists = 4)
    val emptyIvf = java.nio.file.Files
      .createTempDirectory("graft_ivf_empty").toString + "/store"
    AnnIndex.ivfStore(model, base, "emb").limit(0).write.parquet(emptyIvf)
    val ei = intercept[IllegalArgumentException] {
      AnnIndex.ivfRefresh(spark, model, emptyIvf, batch, "emb")
    }
    assert(ei.getMessage.contains("is empty"), ei.getMessage)
  }

  test("ivfJoinIndexed: probe-all equals per-query brute force; loud store refusals") {
    // the batch serving face over the persisted IVF layout
    // (annJoinIndexed's sibling): nProbe = nLists probes every list, so
    // the routed result must equal the exact per-query cosine top-k —
    // the same theorem ivfTopK's spec pins for one query, here for a
    // query TABLE in one plan. Null query embeddings drop up front;
    // a stale store (different routing fit) is refused loudly.
    import graft.operators.AnnIndex
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val queries = corpus.filter(col("vec_id") < 10)
      .unionByName(Seq((999999L, null.asInstanceOf[Array[Double]]))
        .toDF("vec_id", "emb"))
    val rest = corpus.filter(col("vec_id") >= 10)
    val model = AnnIndex.ivfFit(rest, "emb", nLists = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfjoin").toString + "/store"
    AnnIndex.ivfStore(model, rest, "emb")
      .write.partitionBy("list_id").parquet(dir)
    val store = spark.read.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = rows(AnnIndex.ivfJoinIndexed(queries, "vec_id", "emb",
      model, store, "vec_id", "emb", k = 3, nProbe = 8))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), col("neighbor_id"))
    val brute = rows(rest
      .select(col("vec_id").as("neighbor_id"), col("emb").as("ce"))
      .crossJoin(broadcast(queries.filter(col("emb").isNotNull)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"))))
      .withColumn("sim", graft.functions.vectors.cosineSim(col("ce"), col("qe")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3))
    assert(got == brute,
      s"probe-all ivfJoinIndexed diverged from brute force: " +
        s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    // the null-embedding query routed nowhere and scored nothing
    assert(!got.exists(_._1 == 999999L),
      "null query embedding produced neighbors")
    // 10 real queries × k rows each — probe-all can never under-fill
    assert(got.size == 30, s"expected 10×3 rows, got ${got.size}")
    // a store from a different routing fit is refused loudly, BEFORE
    // any join is planned
    val refit = AnnIndex.ivfFit(rest, "emb", nLists = 8, seed = 99L)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfJoinIndexed(queries, "vec_id", "emb",
        refit, store, "vec_id", "emb", k = 3, nProbe = 8)
    }
    assert(e.getMessage.contains("stale IVF store"), e.getMessage)
    // duplicate query ids are the silent-blend class the 1-row faces
    // refuse: two rows sharing an id would have their candidate pages
    // merged by the per-query window into one top-k belonging to
    // neither — refused loudly on both batch faces
    val dup = queries.filter(col("emb").isNotNull)
      .unionByName(queries.filter(col("vec_id") === 1L))
    val ed = intercept[IllegalArgumentException] {
      AnnIndex.ivfJoinIndexed(dup, "vec_id", "emb",
        model, store, "vec_id", "emb", k = 3, nProbe = 8)
    }
    assert(ed.getMessage.contains("duplicate query_id"), ed.getMessage)
    val ew = intercept[IllegalArgumentException] {
      AnnIndex.annJoinIndexed(dup, "vec_id", "emb",
        graft.operators.Dedup.embeddingBucketIndex(rest, "vec_id", "emb",
          dim = 64, planes = 12),
        dim = 64, planes = 12, k = 3, probeBits = 1)
    }
    assert(ew.getMessage.contains("duplicate query_id"), ew.getMessage)
  }

  test("pqJoinIndexed: face parity with looped pqTopK, page-covering " +
      "equals brute force, loud refusals") {
    // the batch serving face over the persisted PQ code table
    // (ivfJoinIndexed's sibling for the flat ADC layout). Claims:
    // (1) FACE PARITY — for every query, the one-plan batch face serves
    // exactly what a per-query pqTopK loop serves at the same dials
    // (same (approx_sim DESC, id ASC) candidate page, same exact
    // re-rank), so a user can swap the loop for the join with no
    // result change; (2) a page covering the whole store equals the
    // exact brute-force cosine top-k (over-fetch saturation — the
    // pqTopK theorem lifted to the table face); (3) null query
    // embeddings drop, duplicate query ids and a stale store (codes
    // from a different fit) are refused loudly.
    import graft.operators.Quantize
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val queries = corpus.filter(col("vec_id") < 10)
      .unionByName(Seq((999999L, null.asInstanceOf[Array[Double]]))
        .toDF("vec_id", "emb"))
    val rest = corpus.filter(col("vec_id") >= 10)
    val cb = Quantize.pqFit(rest.filter(col("vec_id") % 4 === 1), "emb",
      dim = 64, m = 8, nCentroids = 16, maxIter = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_pqjoin").toString
    val dir = base + "/store"
    Quantize.pqEncode(rest, "emb", cb).write.parquet(dir)
    val store = spark.read.parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (1) face parity at a NARROW page (overFetch 4 — where the ADC
    // approximation actually bites, so page agreement is load-bearing)
    val joined = rows(Quantize.pqJoinIndexed(queries, "vec_id", "emb", cb,
      store, "vec_id", "emb", k = 3, overFetch = 4))
    val looped = queries.filter(col("emb").isNotNull)
      .select(col("vec_id"), col("emb")).collect().flatMap { qr =>
        val q = Seq(Tuple1(qr.getSeq[Double](1))).toDF("qe")
        Quantize.pqTopK(store, "emb", cb, q, k = 3, overFetch = 4,
            tieBreak = Seq("vec_id"))
          .select(col("vec_id")).collect().map(_.getLong(0))
          .zipWithIndex.map { case (nid, i) => (qr.getLong(0), nid, i + 1) }
      }.toSet
    assert(joined == looped,
      s"batch face diverged from the per-query pqTopK loop: " +
        s"missing=${(looped -- joined).take(3)} extra=${(joined -- looped).take(3)}")
    // (2) page covering the store == exact brute force
    val n = rest.count().toInt
    val gotAll = rows(Quantize.pqJoinIndexed(queries, "vec_id", "emb", cb,
      store, "vec_id", "emb", k = 3, overFetch = n / 3 + 1))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), col("neighbor_id"))
    val brute = rows(rest
      .select(col("vec_id").as("neighbor_id"), col("emb").as("ce"))
      .crossJoin(broadcast(queries.filter(col("emb").isNotNull)
        .select(col("vec_id").as("query_id"), col("emb").as("qe"))))
      .withColumn("sim", graft.functions.vectors.cosineSim(col("ce"), col("qe")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3))
    assert(gotAll == brute,
      s"page-covering pqJoinIndexed diverged from brute force: " +
        s"missing=${(brute -- gotAll).take(3)} extra=${(gotAll -- brute).take(3)}")
    // (3a) the null-embedding query scored nothing; 10 real queries × 3
    assert(!gotAll.exists(_._1 == 999999L),
      "null query embedding produced neighbors")
    assert(gotAll.size == 30, s"expected 10×3 rows, got ${gotAll.size}")
    // (3b) a store coded under a different fit is refused loudly,
    // BEFORE any join is planned
    val refit = Quantize.pqFit(rest.filter(col("vec_id") % 4 === 2), "emb",
      dim = 64, m = 8, nCentroids = 16, maxIter = 2)
    val e = intercept[IllegalArgumentException] {
      Quantize.pqJoinIndexed(queries, "vec_id", "emb", refit,
        store, "vec_id", "emb", k = 3)
    }
    assert(e.getMessage.contains("PQ store"), e.getMessage)
    // (3c) duplicate query ids — the silent-blend class every batch
    // face refuses
    val dup = queries.filter(col("emb").isNotNull)
      .unionByName(queries.filter(col("vec_id") === 1L))
    val ed = intercept[IllegalArgumentException] {
      Quantize.pqJoinIndexed(dup, "vec_id", "emb", cb,
        store, "vec_id", "emb", k = 3)
    }
    assert(ed.getMessage.contains("duplicate query_id"), ed.getMessage)
    graft.sources.Maintenance.deleteLocalTree(spark, base)
  }

  test("IVF store: list_id-layout compaction preserves rows, token, and batch serving") {
    // compactPartitionedTo over the THIRD Hive layout in the house
    // (bucket / chunk_idx / band_idx are gate-covered; the IVF store's
    // list_id layout was not): ingest appends leave one file per batch
    // per task, the audit-cadence rewrite must shrink files while the
    // store keeps rows, its ivf_sig token, and — proven by USE, the
    // minhash gate's parity-probe discipline — identical batch serving
    // through ivfJoinIndexed.
    import graft.operators.AnnIndex
    import graft.sources.Maintenance
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val queries = corpus.filter(col("vec_id") < 10)
    val rest = corpus.filter(col("vec_id") >= 10)
    val model = AnnIndex.ivfFit(rest.filter(col("vec_id") >= 100), "emb",
      nLists = 8)
    val base = java.nio.file.Files
      .createTempDirectory("graft_ivfc").toString
    val dir = s"$base/store"
    AnnIndex.ivfStore(model, rest.filter(col("vec_id") >= 100), "emb")
      .write.partitionBy("list_id").parquet(dir)
    // two token-gated ingest appends accumulate the small files the
    // compaction exists for
    AnnIndex.ivfRefresh(spark, model, dir,
      rest.filter(col("vec_id") >= 50 && col("vec_id") < 100), "emb")
    AnnIndex.ivfRefresh(spark, model, dir,
      rest.filter(col("vec_id") >= 10 && col("vec_id") < 50), "emb")
    val dir2 = s"$base/compacted"
    Maintenance.compactPartitionedTo(spark, dir, dir2, Seq("list_id"))
    assert(parquetFiles(dir2) < parquetFiles(dir),
      s"compaction did not shrink files: ${parquetFiles(dir)} -> " +
        s"${parquetFiles(dir2)}")
    def storeRows(d: String) = spark.read.parquet(d)
      .select(col("vec_id"), col("list_id").cast("long"), col("ivf_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(storeRows(dir2) == storeRows(dir),
      "compaction changed IVF store rows or dropped the token")
    def serve(d: String) = AnnIndex.ivfJoinIndexed(queries, "vec_id", "emb",
        model, spark.read.parquet(d), "vec_id", "emb", k = 3, nProbe = 4)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaOriginal = serve(dir)
    assert(viaOriginal.nonEmpty, "serve parity probe returned nothing")
    assert(serve(dir2) == viaOriginal,
      "compacted IVF store serves different neighbors")
  }

  test("mixed-token IVF and PQ stores are refused at append time") {
    // the r12 gate unification: ivfRefresh/pqRefresh used to verify
    // their tokens with bare min/max, which SKIP nulls — so a careless
    // stamped ∪ raw union store (some rows written without ever passing
    // through ivfStore/pqEncode) PASSED maintenance and got appended
    // to, exactly the mixed-store hole requireStoreSig's null-token
    // count closes for the other three store families. Both refreshes
    // now route through that shared gate; this pins the refusal.
    import graft.operators.{AnnIndex, Quantize}
    val corpus = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val base = corpus.filter(col("vec_id") < 100)
    val raw = corpus.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val batch = corpus.filter(col("vec_id") >= 120 && col("vec_id") < 140)
    val model = AnnIndex.ivfFit(base, "emb", nLists = 4)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft_ivf_mixed").toString + "/store"
    // the union a careless pipeline writes: stamped rows plus rows
    // assigned but never stamped (NULL ivf_sig) — min/max alone see
    // only the stamped half and would accept it
    AnnIndex.ivfStore(model, base, "emb")
      .unionByName(AnnIndex.ivfAssign(model, raw, "emb")
        .withColumn("ivf_sig", lit(null).cast("long")))
      .write.partitionBy("list_id").parquet(ivfDir)
    val ei = intercept[IllegalArgumentException] {
      AnnIndex.ivfRefresh(spark, model, ivfDir, batch, "emb")
    }
    assert(ei.getMessage.contains("NULL ivf_sig"), ei.getMessage)
    assert(ei.getMessage.contains("rebuild"), ei.getMessage)
    val cb = Quantize.pqFit(base, "emb", dim = 64, m = 8,
      nCentroids = 16, maxIter = 2)
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft_pq_mixed").toString + "/store"
    Quantize.pqEncode(base, "emb", cb)
      .unionByName(Quantize.pqEncode(raw, "emb", cb)
        .withColumn("pq_cb_sig", lit(null).cast("long")))
      .write.parquet(pqDir)
    val ep = intercept[IllegalArgumentException] {
      Quantize.pqRefresh(spark, cb, pqDir, batch, "emb")
    }
    assert(ep.getMessage.contains("NULL pq_cb_sig"), ep.getMessage)
    assert(ep.getMessage.contains("rebuild"), ep.getMessage)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    // the 100 TB co-location story: pre-bucketing both sides of a repeated
    // join key removes the per-query Exchange entirely — the planner must
    // produce a SortMergeJoin with zero Exchange operators
    import spark.implicits._
    val warehouse = java.nio.file.Files.createTempDirectory("graft_buck").toString
    try {
      val facts = (1L to 1000L).map(i => (i % 50, i, i * 2.0)).toDF("k", "id", "v")
      val dims = (0L until 50L).map(i => (i, s"name_$i")).toDF("k", "name")
      facts.write.format("parquet").bucketBy(8, "k").sortBy("k")
        .option("path", s"$warehouse/facts").mode("overwrite").saveAsTable("buck_facts")
      dims.write.format("parquet").bucketBy(8, "k").sortBy("k")
        .option("path", s"$warehouse/dims").mode("overwrite").saveAsTable("buck_dims")
      // merge hint: at test size the planner would broadcast the dim side
      // (also shuffle-free, but then bucketing proves nothing) — the point
      // is the sort-merge join runs WITHOUT a hashpartitioning exchange
      val joined = spark.table("buck_facts").hint("merge")
        .join(spark.table("buck_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS buck_facts")
      spark.sql("DROP TABLE IF EXISTS buck_dims")
    }
  }

  test("CSV ingest: BOM headers normalized, coords cast, embedding text built") {
    val df = CsvClean.healthServices(spark, refCsv)
    assert(df.columns.contains("lat") && df.columns.contains("lon"))
    assert(!df.columns.exists(_.contains("﻿")))
    // 1038 records: the CSV has 6109 physical lines but multiline quoted
    // Services cells collapse to 1038 records — pandas with utf-8-sig
    // agrees exactly (BASELINE.md's "6109 rows" counts lines, not records)
    val n = df.count()
    assert(n == 1038, s"expected 1038 services (pandas parity), got $n")
    val r = df.select("lat", "lon", "embedding_text").head()
    assert(r.getDouble(0) > 30 && r.getDouble(0) < 35)
    assert(r.getString(2).nonEmpty)
  }

  test("the two haversine formulas agree up to the unit conversion") {
    // X1 (km, asin) and X2 (miles, atan2) are kept as separate exact
    // formulas for oracle parity; mathematically they must still be the
    // same distance in different units (away from antipodes, where the
    // asin form loses precision first)
    import spark.implicits._
    import graft.functions.geo
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(200)((rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 358 - 179,
        rnd.nextDouble() * 120 - 60, rnd.nextDouble() * 358 - 179))
      .toDF("la1", "lo1", "la2", "lo2")
    val rows = pts.select(
        geo.haversineKm(col("la1"), col("lo1"), col("la2"), col("lo2")).as("km"),
        geo.haversineMiles(col("la1"), col("lo1"), col("la2"), col("lo2")).as("mi"))
      .collect()
    rows.foreach { r =>
      val (km, mi) = (r.getDouble(0), r.getDouble(1))
      if (km > 1e-6) {
        val expected = km * (3959.0 / 6371.0) // the radii ratio, not 0.621371
        assert(math.abs(mi - expected) / expected < 1e-9,
          s"km=$km mi=$mi expected=$expected")
        // and the reference's km->miles constant is consistent to ~0.03%
        assert(math.abs(mi - km * geo.kmToMilesFactor) / mi < 5e-4)
      }
    }
  }

  test("multiline Services cells split into trimmed non-empty arrays (X11)") {
    // the real thing convert_csv_to_json.py:30-32 handles: Services cells
    // in the county CSV contain embedded newlines
    val df = CsvClean.normalizeHeaders(CsvClean.readCsv(spark, refCsv))
      .select(col("Services"), CsvClean.splitLines("Services").as("arr"))
      .filter(col("Services").contains("\n"))
    val rows = df.collect()
    assert(rows.nonEmpty, "expected multiline Services cells in the county CSV")
    rows.foreach { r =>
      val arr = r.getAs[scala.collection.Seq[String]]("arr")
      assert(arr.nonEmpty && arr.forall(s => s.trim == s && s.nonEmpty),
        s"bad split: $arr")
      assert(arr.length > 1, s"newline cell should split into >1 entries: $arr")
    }
  }

  test("ingest quality report counts per-rule violations in one pass") {
    val raw = CsvClean.normalizeHeaders(CsvClean.readCsv(spark, refCsv))
    val report = CsvClean.qualityReport(raw, Seq(
      "missing_coords" -> (col("LAT").isNull || col("LONG").isNull ||
        col("LAT").cast("double").isNull || col("LONG").cast("double").isNull),
      "no_program" -> (col("Program").isNull || trim(col("Program")) === ""),
      "no_services" -> col("Services").isNull)).head()
    val total = report.getAs[Long]("n_rows")
    assert(total == raw.count())
    // the kept-rows count the pipeline produces must equal total minus the
    // report's missing-coords violations (the S8 drop rule)
    val kept = CsvClean.dropMissingCoords(
      CsvClean.castTruncate(raw, Map("LONG" -> "double", "LAT" -> "double")),
      "LAT", "LONG").count()
    assert(kept == total - report.getAs[Long]("n_missing_coords"))
  }

  test("observed quality metrics ride the main action and match the separate-pass report") {
    val raw = CsvClean.normalizeHeaders(CsvClean.readCsv(spark, refCsv))
    val rules = Seq(
      "missing_coords" -> (col("LAT").isNull || col("LONG").isNull ||
        col("LAT").cast("double").isNull || col("LONG").cast("double").isNull),
      "no_program" -> (col("Program").isNull || trim(col("Program")) === ""),
      "no_services" -> col("Services").isNull)
    val (obs, framed) = CsvClean.observedQuality(raw, rules)
    // the "main action" — metrics must accumulate during THIS job, with no
    // second scan of the source
    framed.write.mode("overwrite").format("noop").save()
    val m = obs.get
    val twoPass = CsvClean.qualityReport(raw, rules).head()
    assert(m("n_rows") == twoPass.getAs[Long]("n_rows"))
    rules.foreach { case (name, _) =>
      assert(m(s"n_$name") == twoPass.getAs[Long](s"n_$name"),
        s"observed n_$name=${m(s"n_$name")} vs report ${twoPass.getAs[Long](s"n_$name")}")
    }
  }

  test("JSON source: array-of-records scan + summary aggregate") {
    val df = JsonSource.readJson(spark, refJson)
    assert(df.count() == 50)
    assert(df.schema.fieldNames.contains("coordinates"))
    val lat = df.select(col("coordinates.latitude")).head().getDouble(0)
    assert(lat > 30 && lat < 35)
  }

  test("nested housing sink round-trips through JSON") {
    import spark.implicits._
    val flat = Seq(
      (1L, "San Diego", "Residential", "Vacant", 10L, 1.5),
      (2L, "Chula Vista", "Commercial", "Developed", 0L, 2.0))
      .toDF("id", "jurisdiction", "zoning_type", "vacancy_status", "units", "shape_area")
    val nested = JsonSource.nestHousing(flat)
    val out = "/root/repo/target/tmp/housing_json"
    JsonSource.writeNestedJson(nested, out)
    val back = JsonSource.readJson(spark, out)
    assert(back.count() == 2)
    assert(back.select("zoning.jurisdiction").collect().map(_.getString(0)).toSet ==
      Set("San Diego", "Chula Vista"))
    val s = JsonSource.summaryStats(flat, "units", "jurisdiction", "vacancy_status").head()
    assert(s.getAs[Long]("total_units") == 10L && s.getAs[Long]("n_vacant") == 1L)
  }

  test("transit stops CSV -> reference JSON record shape (S7 flat + X12)") {
    val stops = JsonSource.transitStops(spark,
      "/root/reference/backend/datasets/Public_Transit_Stops%2C_San_Diego_County.csv")
    val n = stops.count()
    assert(n > 6000 && n <= 6221, s"got $n stops") // 6220 data rows per FIXTURES A2
    val r = stops.head()
    assert(stops.schema.fieldNames.toSet ==
      Set("id", "name", "agency", "coordinates", "wheelchair_accessible", "stop_code"))
    val lat = r.getStruct(r.fieldIndex("coordinates")).getDouble(0)
    assert(lat > 32 && lat < 34)
    // X12: flag decode yields both values somewhere in the corpus
    assert(stops.filter(col("wheelchair_accessible")).count() > 0)
    assert(stops.filter(!col("wheelchair_accessible")).count() > 0)
  }

  test("streaming daily counts with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.dailyCounts(df)
      .writeStream.format("memory").queryName("daily").outputMode("complete").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 11:00:00"), "click", 3.0),
      (Timestamp.valueOf("2024-01-02 09:00:00"), "view", 2.0))
    q.processAllAvailable()
    val rows = spark.table("daily").collect()
    q.stop()
    assert(rows.length == 2)
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 2 && click.getDouble(3) == 2.0)
  }

  test("streaming perceptual dedup: re-encoded images collapse in-flight") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // the same picture (doc 3) arrives four times — BMP, 2x upscale, PPM,
    // real PNG, all byte-DIFFERENT blobs — plus one genuinely different
    // picture; the dHash-keyed state must keep exactly one of each
    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df = mem.toDF().toDF("ts", "img_id", "content")
    val q = EventsStream.mediaDedupStream(df, "content")
      .writeStream.format("memory").queryName("media_dedup").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, Multimodal.imageVariantForDoc(3L)),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, Multimodal.imageVariantForDoc(3L + 20000)),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, Multimodal.imageVariantForDoc(3L + 40000)),
      (Timestamp.valueOf("2024-01-01 10:00:03"), 4L, Multimodal.imageVariantForDoc(3L + 60000)),
      (Timestamp.valueOf("2024-01-01 10:00:04"), 5L, Multimodal.imageVariantForDoc(7L)),
      // dirty rows — null and corrupt blobs — must neither kill the
      // query (the safe decode) nor ship through as one "deduped"
      // garbage survivor (a null fp is a distinct dropDuplicates key,
      // so without the null filter exactly one would survive)
      (Timestamp.valueOf("2024-01-01 10:00:05"), 6L, null: Array[Byte]),
      (Timestamp.valueOf("2024-01-01 10:00:06"), 7L,
        "not an image".getBytes("US-ASCII")))
    q.processAllAvailable()
    val survivors = spark.table("media_dedup").collect()
      .map(_.getLong(1)).sorted.toSeq
    q.stop()
    // first arrival of picture 3 survives; the three re-encodes are
    // suppressed by the in-flight state; picture 7 passes; the dirty
    // rows vanish
    assert(survivors == Seq(1L, 5L), s"got $survivors")
  }

  test("streaming near-dup: edited re-posts flagged in-flight, mega-bucket saturates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Multimodal}
    // picture 6 arrives, then its single-pixel edit (hamming <= 1 by the
    // fixture contract), then an unrelated picture — the chunk-bucket
    // state must flag exactly the edit pair, matching the batch
    // hammingPairs verdict on the same fingerprints
    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df = mem.toDF().toDF("ts", "img_id", "content")
    val q = EventsStream.mediaNearDupStream(df, "img_id", "content")
      .writeStream.format("memory").queryName("media_neardup").start()
    val arrivals = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, Multimodal.nearImageForDoc(6L)),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, Multimodal.nearImageForDoc(80006L)),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, Multimodal.nearImageForDoc(9L)))
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    val hits = spark.table("media_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).distinct.toSeq
    q.stop()
    // the fixture contract is hamming <= 1 (the edit flips AT MOST bit 63)
    assert(hits.map { case (a, b, _) => (a, b) } == Seq((2L, 1L)) &&
      hits.head._3 <= 1, s"got $hits")
    // parity with the batch path on the same corpus: same (unordered)
    // pair set, same hamming
    val batchPairs = Dedup.hammingPairs(
        arrivals.map { case (_, id, b) => (id, Multimodal.dHash64(b)) }
          .toDF("id", "fp"), "id", "fp", 64, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs == hits.map { case (a, b, h) =>
      (math.min(a, b), math.max(a, b), h.toLong) }.toSet)
    // mega-bucket saturation: monochrome rasters all dHash to 0; with
    // maxBucket=2 the zero bucket saturates and stops emitting — bounded
    // state where the uncapped form would compare every new arrival to
    // every monochrome seen
    def monoPpm(v: Int): Array[Byte] =
      "P6\n9 9\n255\n".getBytes("US-ASCII") ++ Array.fill(3 * 9 * 9)(v.toByte)
    val mem2 = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df2 = mem2.toDF().toDF("ts", "img_id", "content")
    val q2 = EventsStream.nearDupStream(
        df2.withColumn("__fp", Multimodal.dHash64Udf(col("content"))),
        "img_id", "__fp", bits = 64, chunks = 4, maxHamming = 3,
        maxBucket = 2)
      .writeStream.format("memory").queryName("media_neardup_cap").start()
    mem2.addData((1L to 6L).map(i =>
      (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"), i,
        monoPpm((i % 4).toInt * 30))): _*)
    q2.processAllAvailable()
    val capped = spark.table("media_neardup_cap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    q2.stop()
    // arrivals 2 and 3 match before the bucket exceeds 2; the saturation
    // then silences 4..6 (uncapped would emit 5+4+3 more hits)
    assert(capped.toSet == Set((2L, 1L), (3L, 1L), (3L, 2L)), s"got $capped")
    // salvageRep: the same flood with the in-flight STAR tier — the
    // saturated bucket keeps min-id arrival 1 as representative and
    // 4..6 each emit exactly their verified star edge to it (hamming 0),
    // O(1) per arrival where the cap went silent and the uncapped form
    // compared against everything
    val mem3 = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df3 = mem3.toDF().toDF("ts", "img_id", "content")
    val q3 = EventsStream.nearDupStream(
        df3.withColumn("__fp", Multimodal.dHash64Udf(col("content"))),
        "img_id", "__fp", bits = 64, chunks = 4, maxHamming = 3,
        maxBucket = 2, salvageRep = true)
      .writeStream.format("memory").queryName("media_neardup_star").start()
    mem3.addData((1L to 6L).map(i =>
      (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"), i,
        monoPpm((i % 4).toInt * 30))): _*)
    q3.processAllAvailable()
    val starred = spark.table("media_neardup_star").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).distinct.toSeq
    // rep PROMOTION: the rep ages past the watermark while the flood
    // continues. Batch 2 (arrival 7, event time 12:00) still runs under
    // the old watermark, so 7 stars against rep 1 AND advances the
    // watermark to 11:00 for the next batch; in batch 3 the 10:00 rep
    // is pruned, arrival 8 is promoted silently (no emission), and 9
    // stars against the NEW rep 8 — the bucket never goes blind
    mem3.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 7L, monoPpm(0)))
    q3.processAllAvailable() // watermark -> 11:00, past the 10:00 rep
    mem3.addData(
      (Timestamp.valueOf("2024-01-01 12:00:01"), 8L, monoPpm(30)),
      (Timestamp.valueOf("2024-01-01 12:00:02"), 9L, monoPpm(60)))
    q3.processAllAvailable()
    val promoted = spark.table("media_neardup_star").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).distinct.toSeq
      .filter(_._1 >= 7L)
    q3.stop()
    assert(starred.toSet == Set((2L, 1L, 0), (3L, 1L, 0), (3L, 2L, 0),
      (4L, 1L, 0), (5L, 1L, 0), (6L, 1L, 0)), s"got $starred")
    assert(promoted.toSet == Set((7L, 1L, 0), (9L, 8L, 0)),
      s"promotion broke: $promoted")
  }

  test("streaming star tier: a non-matching bucket-mate cannot blind the flood") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The poisoning regression: an OUTLIER that shares chunk buckets with
    // a flood (pigeonhole collision) but verifies at hamming > maxHamming
    // against every flood member must NOT silence the flood — neither by
    // winning the min-id rep election at saturation nor by being promoted
    // into an expired bucket. The diverse rep set keeps one slot per
    // mutually-non-matching signature, so the flood always holds (or
    // regains) a rep of its own. A single-rep tier emits ONLY (3,2,1)
    // on this fixture.
    //
    // Geometry 64/4 (16-bit chunks). The flood lives in chunk 3 with
    // <= 3 bits set, so every flood pair shares chunks 0-2 — and the
    // outliers (chunk 3 = 0xFFFF / 0x5555, hamming >= 8 vs everything)
    // share EXACTLY those buckets, poisoning all three discovery paths
    // at once; no clean bucket can mask the regression.
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val df = mem.toDF().toDF("ts", "id", "fp")
    val q = EventsStream.nearDupStream(df, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 2,
        salvageRep = true)
      .writeStream.format("memory").queryName("star_poison").start()
    // batch 1: outlier id 1 is MIN-ID, then two flood members -> the
    // bucket saturates at [3,2,1]; greedy reps = [1 (outlier), 2 (flood)]
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 0xFFFFL << 48),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, 0L),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, 1L << 48))
    q.processAllAvailable()
    // batch 2: flood continues — members must star against flood rep 2,
    // not go silent behind the outlier rep
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:03"), 4L, 2L << 48),
      (Timestamp.valueOf("2024-01-01 10:00:04"), 5L, 3L << 48))
    q.processAllAvailable()
    // batch 3: one flood arrival two hours on — stars against rep 2
    // under the old watermark AND advances it past both reps
    mem.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 6L, 6L << 48))
    q.processAllAvailable()
    // batch 4: reps pruned; a SECOND outlier arrives first and takes a
    // rep slot — the flood members behind it must re-seed their own rep
    // (8 promoted silently, 9 stars against it)
    mem.addData(
      (Timestamp.valueOf("2024-01-01 12:00:01"), 7L, 0x5555L << 48),
      (Timestamp.valueOf("2024-01-01 12:00:02"), 8L, 8L << 48),
      (Timestamp.valueOf("2024-01-01 12:00:03"), 9L, 9L << 48))
    q.processAllAvailable()
    // normalized to (min, max): emission direction within a micro-batch
    // follows the group iterator, which the engine does not contract
    val got = spark.table("star_poison").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).distinct.toSet
    q.stop()
    assert(got == Set((2L, 3L, 1), (2L, 4L, 1), (2L, 5L, 2),
      (2L, 6L, 2), (8L, 9L, 1)), s"got $got")
    // the outliers never verified into the pair graph, and every flood
    // member except the (documented) silent promotions 2 and 8 linked
    assert(!got.exists(p => Set(p._1, p._2).exists(Set(1L, 7L))),
      s"outlier forged an edge: $got")
  }

  test("streaming star tier: a same-id update refreshes its rep slot even when it matches another rep") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The r13 review fix: the same-id refresh was gated on the arrival
    // matching NO rep, so an updated row that happened to verify against
    // some OTHER rep kept its stale content in its own slot — future
    // arrivals near the UPDATE could not match it and were silently
    // promoted instead of pairing. Geometry 64/4; all fps live in chunk 3
    // (bits 48-63), so every row shares the three zero chunk buckets.
    val fpA = 0L                    // rep 1's original content
    val fpB = 0xFFL << 48           // rep 2 (hamming 8 vs fpA — diverse)
    val fpC = fpB ^ (1L << 56)      // id 1's UPDATE: 1 bit from fpB, 9 from fpA
    val fpD = fpC ^ (1L << 57) ^ (1L << 58) ^ (1L << 59)
    // fpD: hamming 3 vs fpC (matches the refreshed slot), 4 vs fpB and
    // 12 vs fpA (matches nothing under the stale content)
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val df = mem.toDF().toDF("ts", "id", "fp")
    val q = EventsStream.nearDupStream(df, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 2,
        salvageRep = true)
      .writeStream.format("memory").queryName("star_refresh").start()
    // saturate: [1 (fpA), 2 (fpB), 3 (near fpA)] -> pre-sat pair (1,3),
    // greedy reps = [1 (fpA), 2 (fpB)]
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, fpA),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, fpB),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, 1L << 48))
    q.processAllAvailable()
    // id 1 redelivered with UPDATED content at a fresher ts: it verifies
    // against rep 2 (pair (1,2), hamming 1) AND must still refresh its
    // own slot to fpC — the pre-fix code skipped the refresh here
    mem.addData((Timestamp.valueOf("2024-01-01 10:00:05"), 1L, fpC))
    q.processAllAvailable()
    // the witness: near the UPDATE, far from both original reps — pairs
    // with the refreshed slot (pre-fix: matched nothing, silent promote)
    mem.addData((Timestamp.valueOf("2024-01-01 10:00:06"), 4L, fpD))
    q.processAllAvailable()
    val got = spark.table("star_refresh").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).distinct.toSet
    q.stop()
    assert(got == Set((1L, 3L, 1), (1L, 2L, 1), (1L, 4L, 3)), s"got $got")
  }

  test("clusters and pqFit release their checkpoint blocks deterministically") {
    import spark.implicits._
    import graft.operators.{Dedup, Quantize}
    // The r13 cache->localCheckpoint migrations must not trade the
    // planning-tax win for unbounded executor storage: checkpoint blocks
    // bypass Dataset.unpersist, so the operators release them explicitly.
    // getPersistentRDDs tracks exactly these blocks.
    def live(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = live()
    // pqFit returns driver arrays — NOTHING may stay persisted after it
    val corpus = (1 to 64).map(i =>
      (i.toLong, Seq.tabulate(16)(j => ((i * 31 + j * 7) % 13).toDouble)))
      .toDF("vec_id", "emb")
    Quantize.pqFit(corpus, "emb", dim = 16, m = 2, nCentroids = 4, maxIter = 2)
    assert((live() -- before).isEmpty,
      s"pqFit leaked persisted RDDs: ${live() -- before}")
    // clusters returns a lazy frame over its FINAL label checkpoint; the
    // pair table and every superseded round must be released — at most
    // one persisted RDD (the final labels) may remain after consumption
    val ids = (1L to 12L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (7L, 8L))
      .toDF("a_id", "b_id")
    val out = Dedup.clusters(ids, "id", pairs)
    assert(out.count() == 12)
    val leaked = live() -- before
    assert(leaked.size <= 1,
      s"clusters left ${leaked.size} persisted RDDs (pair table or " +
        s"superseded rounds not released): $leaked")
  }

  test("pqFit: one failed subspace fit fails the call, leaving no job or persisted RDD") {
    import spark.implicits._
    import graft.operators.Quantize
    def live(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = live()
    // one null element inside subspace 1's slice (elements 8..15) of one
    // row: that fit cannot vectorize it, subspace 0's slice is clean
    val corpus = (1 to 64).map(i => (i.toLong, Seq.tabulate(16)(j =>
        if (i == 7 && j == 12) null
        else java.lang.Double.valueOf(((i * 31 + j * 7) % 13).toDouble))))
      .toDF("vec_id", "emb")
    Quantize.pqFit(corpus.select(slice(col("emb"), 1, 8).as("emb")), "emb",
      dim = 8, m = 1, nCentroids = 4, maxIter = 2)
    assert((live() -- before).isEmpty)
    intercept[Exception] {
      Quantize.pqFit(corpus, "emb", dim = 16, m = 2, nCentroids = 4,
        maxIter = 2)
    }
    // every sibling fit settled before the throw, and nothing it
    // persisted (the fit corpus checkpoint, KMeans' own caches) stays
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling subspace fit was still running after pqFit threw")
    assert((live() -- before).isEmpty,
      s"failed pqFit leaked persisted RDDs: ${live() -- before}")
  }

  test("recallReport: one lazy row of in-plan counts; a 4-hop true pair breaks full recall") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.queries.PipelineQueries.recallReport
    def pairs(ps: (Long, Long)*) = ps.toDF("a_id", "b_id")
    // jobs started on this thread under a private job group; the
    // sentinel job marks the end of the build window on the event bus
    val group = "recall-report-build"
    val built = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "sentinel")
            sentinel.countDown()
          else built.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // truth 1-2, 1-3, 1-4, 5-6; the salvaged graph (capped 1-2, 5-6 plus
    // edges 2-3, 3-4 and a duplicate 5-6) is the path 1-2-3-4 and 5-6,
    // so every true pair is within 3 hops
    val report = try {
      sc.setJobGroup(group, "build")
      val r = recallReport(pairs((1, 2), (1, 3), (1, 4), (5, 6)),
        pairs((1, 2), (5, 6)), pairs((2, 3), (3, 4), (5, 6)))
      sc.setJobDescription("sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS))
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(built.get == 0, s"building the report started ${built.get} jobs")
    assert(report.columns.toSeq == Seq("n_true_pairs", "n_capped_pairs",
      "n_salvage_pairs", "n_true_connected_salvaged", "salvage_full_recall"))
    assert(report.collect().toSeq == Seq(Row(4L, 2L, 4L, 4L, true)))
    // path 1-2-3-4-5: the true pair 1-5 is 4 hops out, beyond the closure
    val far = recallReport(pairs((1, 2), (1, 5)), pairs((1, 2)),
      pairs((2, 3), (3, 4), (4, 5)))
    assert(far.collect().toSeq == Seq(Row(2L, 1L, 4L, 1L, false)))
  }

  test("streaming star tier: duplicate redeliveries cannot exhaust the rep slots") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Every face's `matches` maps a self-compare (same id) to None, so
    // without the same-id guard an at-least-once source retrying ONE
    // sub-threshold outlier row would make each copy look mutually
    // diverse, hoard all maxReps slots, and blind the flood behind it —
    // the exact hole the diverse rep set exists to close. Here the
    // outlier is redelivered four times into an expired bucket; the
    // copies must collapse to one slot so the flood members behind them
    // still re-seed their own rep and link.
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val df = mem.toDF().toDF("ts", "id", "fp")
    val q = EventsStream.nearDupStream(df, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 2,
        salvageRep = true)
      .writeStream.format("memory").queryName("star_dup").start()
    // flood saturates; rep = min-id flood member 1
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 0L),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, 1L << 48),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, 2L << 48))
    q.processAllAvailable()
    // stars against rep 1 under the old watermark, advances it past it
    mem.addData((Timestamp.valueOf("2024-01-01 12:00:00"), 4L, 3L << 48))
    q.processAllAvailable()
    // rep pruned; the outlier arrives FOUR times (same id, same fp),
    // then two flood members — with maxReps = 4, unguarded copies would
    // fill every slot and silence 6 and 7
    mem.addData(
      (Timestamp.valueOf("2024-01-01 12:00:01"), 5L, 0xFFFFL << 48),
      (Timestamp.valueOf("2024-01-01 12:00:02"), 5L, 0xFFFFL << 48),
      (Timestamp.valueOf("2024-01-01 12:00:03"), 5L, 0xFFFFL << 48),
      (Timestamp.valueOf("2024-01-01 12:00:04"), 5L, 0xFFFFL << 48),
      (Timestamp.valueOf("2024-01-01 12:00:05"), 6L, 4L << 48),
      (Timestamp.valueOf("2024-01-01 12:00:06"), 7L, 5L << 48))
    q.processAllAvailable()
    val got = spark.table("star_dup").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).distinct.toSet
    q.stop()
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 2),
      (1L, 4L, 2), (6L, 7L, 1)), s"got $got")
    assert(!got.exists(p => Set(p._1, p._2).contains(5L)),
      s"redelivered outlier forged an edge: $got")
  }

  test("streaming video near-dup: edited clips flagged in-flight, black clips saturate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Multimodal}
    // clip 6 arrives, then its single-pixel-edited re-post (the fixture
    // contract: the edit flips AT MOST bit 63 of the temporal-mean
    // dHash), then an unrelated clip — the chunk-bucket state must flag
    // exactly the edit pair, matching the batch verdict
    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df = mem.toDF().toDF("ts", "clip_id", "content")
    val q = EventsStream.videoNearDupStream(df, "clip_id", "content")
      .writeStream.format("memory").queryName("video_neardup").start()
    val arrivals = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, Multimodal.nearVideoForDoc(6L)),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, Multimodal.nearVideoForDoc(80006L)),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, Multimodal.nearVideoForDoc(9L)))
    // two dirty rows: a NULL blob used to NPE the decode UDF (and a null
    // fp the non-nullable tuple encoder), and a CORRUPT blob used to
    // throw inside the strict decode and fail the task — either one
    // killed the whole stream; the SAFE decode maps both to a null fp
    // that drops at ingest, the embedNearDupStream null discipline
    mem.addData(arrivals ++ Seq(
      (Timestamp.valueOf("2024-01-01 10:00:03"), 4L, null: Array[Byte]),
      (Timestamp.valueOf("2024-01-01 10:00:04"), 5L,
        "definitely not a Y4M container".getBytes("US-ASCII"))): _*)
    q.processAllAvailable()
    val hits = spark.table("video_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).distinct.toSeq
    q.stop()
    assert(hits.map { case (a, b, _) => (a, b) } == Seq((2L, 1L)) &&
      hits.head._3 <= 1, s"got $hits")
    // parity with the batch path on the same corpus: same (unordered)
    // pair set, same hamming
    val batchPairs = Dedup.hammingPairs(
        arrivals.map { case (_, id, b) => (id, Multimodal.videoFingerprint(b, 2)) }
          .toDF("id", "fp"), "id", "fp", 64, 4, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs == hits.map { case (a, b, h) =>
      (math.min(a, b), math.max(a, b), h.toLong) }.toSet)
    // mega-bucket saturation: BLACK clips (all-zero planes through the
    // real Y4M walk) fingerprint to exactly 0; with maxBucket=2 the zero
    // bucket saturates and stops emitting — bounded state where the
    // uncapped form would compare every arrival to every black clip
    def blackY4m(w: Int, h: Int, nf: Int): Array[Byte] = {
      val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n".getBytes("US-ASCII")
      val fb = w * h + 2 * (w / 2) * (h / 2)
      val marker = "FRAME\n".getBytes("US-ASCII")
      header ++ (1 to nf).flatMap(_ => marker ++ new Array[Byte](fb))
    }
    assert(Multimodal.videoFingerprint(blackY4m(10, 8, 4), 2) == 0L,
      "black clip must fingerprint to 0")
    val mem2 = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df2 = mem2.toDF().toDF("ts", "clip_id", "content")
    val q2 = EventsStream.nearDupStream(
        df2.withColumn("__fp",
          Multimodal.videoFingerprintUdf(col("content"), lit(2))),
        "clip_id", "__fp", bits = 64, chunks = 4, maxHamming = 3,
        maxBucket = 2)
      .writeStream.format("memory").queryName("video_neardup_cap").start()
    mem2.addData((1L to 6L).map(i =>
      (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"), i,
        blackY4m(10 + 2 * (i % 2).toInt, 8, 3))): _*)
    q2.processAllAvailable()
    val capped = spark.table("video_neardup_cap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    q2.stop()
    // arrivals 2 and 3 match before the bucket exceeds 2; the saturation
    // then silences 4..6 (uncapped would emit 5+4+3 more hits)
    assert(capped.toSet == Set((2L, 1L), (3L, 1L), (3L, 2L)), s"got $capped")
  }

  test("streaming audio near-dup: edited clips flagged in-flight, silence saturates and stars") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Multimodal}
    // clip 4 arrives, then its edited re-post (the ±80000 twin contract,
    // hamming <= 2 at the 36-bit geometry), then an unrelated clip — the
    // chunk-bucket state must flag exactly the edit pair, matching the
    // batch verdict through the same real RIFF/PCM parse
    val mem = MemoryStream[(Timestamp, Long, Array[Byte])]
    val df = mem.toDF().toDF("ts", "clip_id", "content")
    val q = EventsStream.audioNearDupStream(df, "clip_id", "content")
      .writeStream.format("memory").queryName("audio_neardup").start()
    val arrivals = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, Multimodal.nearAudioForDoc(4L)),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, Multimodal.nearAudioForDoc(80004L)),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, Multimodal.nearAudioForDoc(9L)))
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    val hits = spark.table("audio_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).distinct.toSeq
    q.stop()
    assert(hits.map { case (a, b, _) => (a, b) } == Seq((2L, 1L)) &&
      hits.head._3 <= 2, s"got $hits")
    val batchPairs = Dedup.hammingPairs(
        arrivals.map { case (_, id, b) => (id, Multimodal.audioFingerprint(b, 256)) }
          .toDF("id", "fp"), "id", "fp", 36, 3, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchPairs == hits.map { case (a, b, h) =>
      (math.min(a, b), math.max(a, b), h.toLong) }.toSet)
    // silence flood (every silent clip fingerprints to 0 through the real
    // parse): cap 2 saturates the zero bucket — cap mode silences 4..6,
    // star mode keeps emitting verified edges against min-id rep 1
    def silentWav(i: Int): Array[Byte] = {
      val b = Multimodal.encodeWavMix(34 * 256 + i * 256, 8000, i.toLong)
      java.util.Arrays.fill(b, 44, b.length, 0.toByte)
      b
    }
    for ((star, expect) <- Seq(
        false -> Set((2L, 1L), (3L, 1L), (3L, 2L)),
        true -> Set((2L, 1L), (3L, 1L), (3L, 2L), (4L, 1L), (5L, 1L), (6L, 1L)))) {
      val mem2 = MemoryStream[(Timestamp, Long, Array[Byte])]
      val df2 = mem2.toDF().toDF("ts", "clip_id", "content")
      val q2 = EventsStream.nearDupStream(
          df2.withColumn("__fp",
            Multimodal.audioFingerprintUdf(col("content"), lit(256))),
          "clip_id", "__fp", bits = 36, chunks = 3, maxHamming = 2,
          maxBucket = 2, salvageRep = star)
        .writeStream.format("memory").queryName(s"audio_neardup_$star").start()
      mem2.addData((1L to 6L).map(i =>
        (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"), i,
          silentWav((i % 3).toInt))): _*)
      q2.processAllAvailable()
      val got = spark.table(s"audio_neardup_$star").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).distinct.toSeq
      q2.stop()
      assert(got.forall(_._3 == 0), s"star=$star: nonzero hamming in $got")
      assert(got.map(p => (p._1, p._2)).toSet == expect, s"star=$star: got $got")
    }
  }

  test("streaming LSH text near-dup: band-mates verified in-flight, boilerplate saturates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val twinText = "the quick brown fox jumps over the lazy dog again and again"
    val otherText = "completely different subject matter in this document entirely"
    // a twin pair plus an unrelated doc: the band-keyed state must flag
    // exactly the twin pair at jaccard 1.0, matching the batch verdict
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "text")
    val q = EventsStream.lshNearDupStream(df, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3, threshold = 0.8)
      .writeStream.format("memory").queryName("lsh_neardup").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, twinText),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, twinText),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, otherText))
    q.processAllAvailable()
    val hits = spark.table("lsh_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.toSeq
    q.stop()
    assert(hits == Seq((2L, 1L, 1.0)), s"got $hits")
    // batch parity on the same corpus: same pair set, same jaccard
    val batchPairs = Dedup.minhashLshVerifiedPairs(
        Seq((1L, twinText), (2L, twinText), (3L, otherText))
          .toDF("doc_id", "text"),
        "doc_id", "text", k = 16, bands = 4, shingleN = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs == hits.map { case (a, b, j) =>
      (math.min(a, b), math.max(a, b), j) }.toSet)
    // boilerplate saturation: the license header arriving over and over
    // lands every copy in the same bucket of every band; with maxBucket=2
    // the buckets saturate and per-arrival compares stop — the streaming
    // face of the batch mega-bucket cap
    val mem2 = MemoryStream[(Timestamp, Long, String)]
    val df2 = mem2.toDF().toDF("ts", "doc_id", "text")
    val q2 = EventsStream.lshNearDupStream(df2, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3, threshold = 0.8, maxBucket = 2)
      .writeStream.format("memory").queryName("lsh_neardup_cap").start()
    mem2.addData((1L to 8L).map(i =>
      (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"), i, twinText)): _*)
    q2.processAllAvailable()
    val sat = spark.table("lsh_neardup_cap").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    q2.stop()
    // arrivals 2 and 3 match; saturation then silences 4..8 (uncapped
    // would emit 7+6+...+1 more)
    assert(sat.toSet == Set((2L, 1L), (3L, 1L), (3L, 2L)), s"got $sat")
    // salvageRep: the same boilerplate flood with the in-flight STAR
    // tier — 4..8 each exact-Jaccard verify against min-id rep 1 and
    // emit their star edge at 1.0; a NEAR-variant (one appended word,
    // jaccard 10/11 < the 0.95 threshold) that still shares a band with
    // the rep is candidate-matched but VERIFIED AWAY — the streaming
    // face of the batch salvage tier's no-exactness-theorem caveat
    val variant = twinText + " extra"
    assert(Dedup.minhashLshPairs(
        Seq((1L, twinText), (99L, variant)).toDF("doc_id", "text"),
        "doc_id", "text", 16, 4, 3).collect().nonEmpty,
      "fixture broken: variant shares no band with the rep")
    val mem3 = MemoryStream[(Timestamp, Long, String)]
    val df3 = mem3.toDF().toDF("ts", "doc_id", "text")
    val q3 = EventsStream.lshNearDupStream(df3, "doc_id", "text",
        k = 16, bands = 4, shingleN = 3, threshold = 0.95, maxBucket = 2,
        salvageRep = true)
      .writeStream.format("memory").queryName("lsh_neardup_star").start()
    mem3.addData(((1L to 8L).map(i =>
      (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"), i, twinText)) :+
      ((Timestamp.valueOf("2024-01-01 10:00:08"), 9L, variant))): _*)
    q3.processAllAvailable()
    val star = spark.table("lsh_neardup_star").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.toSeq
    q3.stop()
    assert(star.toSet == ((2L to 8L).flatMap(i =>
        Seq((i, 1L, 1.0)) ++ (if (i == 3L) Seq((3L, 2L, 1.0)) else Nil)).toSet),
      s"got $star")
  }

  test("streaming embedding near-dup: rescaled twins verified in-flight, floods saturate and star") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{AnnIndex, Dedup}
    // the q_dedup_embed fixture trick: an x2-rescaled copy is cosine 1.0
    // to its original and sign-LSH lands it in the SAME hyperplane
    // bucket (signs are scale-invariant) — the streamed verdict must
    // equal the batch embeddingPairs verdict over the same bucketing
    val v = Array(1.0, 2.0, 3.0, 4.0)
    val arrivals = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, v),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L, v.map(_ * 2)),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, Array(-4.0, 3.0, -2.0, 1.0)),
      // one dirty row (ADVICE r9): a NULL embedding used to reach the
      // non-nullable tuple encoder (null bucket/norm) and NPE the whole
      // streaming query — it must be dropped at ingest like the batch
      // face drops null-similarity pairs, not kill the stream
      (Timestamp.valueOf("2024-01-01 10:00:03"), 4L, null: Array[Double]))
    val mem = MemoryStream[(Timestamp, Long, Array[Double])]
    val df = mem.toDF().toDF("ts", "vec_id", "embedding")
    val q = EventsStream.embedNearDupStream(df, "vec_id", "embedding",
        dim = 4, planes = 8, threshold = 0.95, wide = false)
      .writeStream.format("memory").queryName("embed_neardup").start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    val hits = spark.table("embed_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.toSeq
    q.stop()
    assert(hits == Seq((2L, 1L, 1.0)), s"got $hits")
    // batch parity on the same corpus and the same sign-LSH blocking
    val batchPairs = Dedup.embeddingPairs(
        AnnIndex.withBucket(
          arrivals.map { case (_, id, e) => (id, e) }.toDF("vec_id", "embedding"),
          "embedding", dim = 4, planes = 8),
        "vec_id", "embedding", "bucket", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs == hits.map { case (a, b, c) =>
      (math.min(a, b), math.max(a, b), c) }.toSet)
    // wide = true keys the stream by the WIDE plane family — the twin is
    // still flagged (positive-scale invariance holds for ANY sign-LSH
    // family) and the streamed verdict equals the batch embeddingPairs
    // verdict over the SAME wide blocking, so a stream can pair with a
    // persisted embeddingBucketIndex store without re-blocking
    val memW = MemoryStream[(Timestamp, Long, Array[Double])]
    val dfW = memW.toDF().toDF("ts", "vec_id", "embedding")
    val qW = EventsStream.embedNearDupStream(dfW, "vec_id", "embedding",
        dim = 4, planes = 10, threshold = 0.95, wide = true)
      .writeStream.format("memory").queryName("embed_neardup_wide").start()
    memW.addData(arrivals: _*)
    qW.processAllAvailable()
    val hitsW = spark.table("embed_neardup_wide").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.toSeq
    qW.stop()
    val batchWide = Dedup.embeddingPairs(
        arrivals.filter(_._3 != null).map { case (_, id, e) => (id, e) }
          .toDF("vec_id", "embedding")
          .withColumn("bucket",
            AnnIndex.wideBucketExpr("embedding", dim = 4, planes = 10)),
        "vec_id", "embedding", "bucket", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(hitsW.map { case (a, b, c) =>
      (math.min(a, b), math.max(a, b), c) }.toSet == batchWide &&
      batchWide.contains((1L, 2L, 1.0)), s"wide parity: $hitsW vs $batchWide")
    // flood saturation + the star tier: i-rescaled copies of one vector
    // (all cosine 1.0, one bucket) at cap 2 — cap mode silences 4..6,
    // star mode keeps emitting verified edges against min-id rep 1
    def flood(i: Long) = (Timestamp.valueOf(s"2024-01-01 10:00:0${i - 1}"),
      i, v.map(_ * i))
    for ((star, expect) <- Seq(
        false -> Set((2L, 1L), (3L, 1L), (3L, 2L)),
        true -> Set((2L, 1L), (3L, 1L), (3L, 2L), (4L, 1L), (5L, 1L), (6L, 1L)))) {
      val mem2 = MemoryStream[(Timestamp, Long, Array[Double])]
      val df2 = mem2.toDF().toDF("ts", "vec_id", "embedding")
      val q2 = EventsStream.embedNearDupStream(df2, "vec_id", "embedding",
          dim = 4, planes = 8, threshold = 0.95, maxBucket = 2,
          salvageRep = star, wide = false)
        .writeStream.format("memory").queryName(s"embed_neardup_$star").start()
      mem2.addData((1L to 6L).map(flood): _*)
      q2.processAllAvailable()
      val got = spark.table(s"embed_neardup_$star").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).distinct.toSeq
      q2.stop()
      assert(got.forall(_._3 == 1.0), s"star=$star: non-1.0 cosine in $got")
      assert(got.map(p => (p._1, p._2)).toSet == expect,
        s"star=$star: got $got")
    }
  }

  test("streaming per-window top-k leaderboard merges state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val q = EventsStream.topUsersPerWindow(df, k = 2)
      .writeStream.format("memory").queryName("trending").outputMode("complete").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 5.0),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 2L, 9.0),
      (Timestamp.valueOf("2024-01-01 12:00:00"), 3L, 1.0))
    q.processAllAvailable()
    // second batch: user 4 displaces user 1 from the top-2 — the k-bounded
    // buffer persisted as streaming state must fold the new batch in
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 4L, 7.0))
    q.processAllAvailable()
    val rows = spark.table("trending").orderBy("rank").collect()
    q.stop()
    assert(rows.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      == Seq((1L, 2L, 9.0), (2L, 4L, 7.0)))
  }

  test("native session_window agg closes the same sessions once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventsStream.Event]
    val q = EventsStream.sessionWindowCounts(mem.toDS().toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    mem.addData(
      EventsStream.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventsStream.Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // append mode holds the session until the watermark passes its close;
    // a later event (13:00 - 1h watermark = 12:00 > 10:40 close) flushes it
    mem.addData(
      EventsStream.Event(3, Timestamp.valueOf("2024-01-01 13:00:00"), 1, "view", 1.0))
    q.processAllAvailable()
    val rows = spark.table("native_sessions")
      .select("user_id", "session_start", "session_end", "n_events")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    q.stop()
    assert(rows.length == 1, s"expected 1 closed session, got ${rows.toSeq}")
    // native session end = last event + gap (the window's close), where the
    // custom sessionize reports the last EVENT time — both documented
    assert(rows.head == ((1L, Timestamp.valueOf("2024-01-01 10:00:00"),
      Timestamp.valueOf("2024-01-01 10:40:00"), 2L)))
  }

  test("streaming dedup within watermark drops repeated content") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "event_id", "text")
    val q = EventsStream.dedupStream(df, "text")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "the same doc"),
      (Timestamp.valueOf("2024-01-01 10:05:00"), 2L, "the  same   doc"), // ws-insensitive dup
      (Timestamp.valueOf("2024-01-01 10:10:00"), 3L, "a different doc"))
    q.processAllAvailable()
    // append mode emits deduped rows only after the watermark passes —
    // advance event time far enough to flush, then read
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 4L, "flush marker"))
    q.processAllAvailable()
    val ids = spark.table("dedup_stream").select("event_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    assert(ids.contains(1L) && ids.contains(3L), s"survivors missing: $ids")
    assert(!ids.contains(2L), s"duplicate 2 survived: $ids")
    // batch twin (the q_stream_dedup shape): event-time-first per
    // fingerprint must equal the streaming survivors on a fixture whose
    // duplicates all sit inside the watermark horizon
    val fixture = Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "the same doc"),
      (Timestamp.valueOf("2024-01-01 10:05:00"), 2L, "the  same   doc"),
      (Timestamp.valueOf("2024-01-01 10:10:00"), 3L, "a different doc"),
      (Timestamp.valueOf("2024-01-01 13:00:00"), 4L, "flush marker"))
      .toDF("ts", "event_id", "text")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("ts", "event_id")
    val twin = fixture
      .withColumn("fp", expr(graft.functions.text.fingerprint(
        graft.functions.SparkDialect, "text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(twin == ids, s"batch twin $twin != streaming survivors $ids")
  }

  test("streaming URL dedup collapses spelling variants to one fetch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "event_id", "url")
    val q = EventsStream.urlDedupStream(df, "url")
      .writeStream.format("memory").queryName("url_dedup_stream")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L,
        "https://ex.com/a?id=1&utm_source=x"),
      // same page: tracking param differs, host case differs, default port
      (Timestamp.valueOf("2024-01-01 10:05:00"), 2L,
        "HTTPS://EX.COM:443/a?id=1&utm_source=y"),
      (Timestamp.valueOf("2024-01-01 10:10:00"), 3L, "https://ex.com/b"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 4L,
      "https://ex.com/flush"))
    q.processAllAvailable()
    val ids = spark.table("url_dedup_stream").select("event_id")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    assert(ids.contains(1L) && ids.contains(3L), s"survivors missing: $ids")
    assert(!ids.contains(2L), s"URL spelling variant 2 survived: $ids")
  }

  test("sessionization gap logic (pure state update)") {
    def ev(id: Long, t: String) =
      EventsStream.Event(id, Timestamp.valueOf(t), 1, "click", 1.0)
    val gapMs = 30L * 60 * 1000
    // burst, 2h gap, second burst: first session closes, second stays open
    val (closed, open) = EventsStream.updateGroup(1L,
      Seq(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00"),
        ev(3, "2024-01-01 12:00:00"), ev(4, "2024-01-01 12:05:00")),
      prior = None, gapMs = gapMs)
    assert(closed.length == 1 && closed.head.n_events == 2)
    assert(closed.head.session_end == Timestamp.valueOf("2024-01-01 10:10:00"))
    assert(open.get.nEvents == 2 && open.get.start == Timestamp.valueOf("2024-01-01 12:00:00"))
    // continuation within the gap extends the prior state
    val (closed2, open2) = EventsStream.updateGroup(1L,
      Seq(ev(5, "2024-01-01 12:20:00")), prior = open, gapMs = gapMs)
    assert(closed2.isEmpty && open2.get.nEvents == 3)
    // a cross-batch late event MORE than the gap before the open
    // session's start closes alone — folding it in would emit a session
    // counting an event outside [start, end]
    val (closed3, open3) = EventsStream.updateGroup(1L,
      Seq(ev(6, "2024-01-01 07:00:00")), prior = open2, gapMs = gapMs)
    assert(closed3 == Seq(EventsStream.Session(1L,
        Timestamp.valueOf("2024-01-01 07:00:00"),
        Timestamp.valueOf("2024-01-01 07:00:00"), 1)),
      s"straggler not closed alone: $closed3")
    assert(open3 == open2, s"straggler disturbed the open session: $open3")
    // a late event WITHIN the gap before the start extends the bounds
    // backwards (the batch ordering would have merged it)
    val (closed4, open4) = EventsStream.updateGroup(1L,
      Seq(ev(7, "2024-01-01 11:45:00")), prior = open3, gapMs = gapMs)
    assert(closed4.isEmpty && open4.get.nEvents == 4 &&
        open4.get.start == Timestamp.valueOf("2024-01-01 11:45:00") &&
        open4.get.last == open3.get.last,
      s"in-gap straggler did not extend start: $open4")
  }

  test("streaming near-dup: pre-saturation redeliveries cannot saturate a bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the star-tier redelivery guard's twin for the PRE-saturation path:
    // an at-least-once source retrying one hot row must not fill the
    // bucket with its own copies (self-compares map to None, so the
    // copies would count toward maxBucket silently) and drop the real
    // pair behind them
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val df = mem.toDF().toDF("ts", "id", "fp")
    val q = EventsStream.nearDupStream(df, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 3,
        salvageRep = false)
      .writeStream.format("memory").queryName("presat_dup").start()
    // one row redelivered four times (> maxBucket) in its own
    // micro-batch: with the copies counted, the bucket saturates
    // IMMEDIATELY (salvageRep=false drops everything) and the genuine
    // pair arriving in the next batch would be silently lost; the
    // two-batch split also makes the order deterministic — within one
    // batch a group iterator could interleave the copies after the
    // pair and mask the bug
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 0L),
      (Timestamp.valueOf("2024-01-01 10:00:01"), 1L, 0L),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 1L, 0L),
      (Timestamp.valueOf("2024-01-01 10:00:03"), 1L, 0L))
    q.processAllAvailable()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:04"), 2L, 1L),
      (Timestamp.valueOf("2024-01-01 10:00:05"), 3L, 3L))
    q.processAllAvailable()
    val got = spark.table("presat_dup").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).distinct.toSet
    q.stop()
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"redelivered copies saturated the bucket: $got")
  }

  test("streaming near-dup: a same-id arrival with UPDATED content refreshes bucket state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the redelivery guard keys on (id, content, ts), not id alone
    // (ADVICE r12): an at-least-once source redelivering a CORRECTED row
    // — same id, different fingerprint, fresher ts — must replace the
    // stale entry, or future arrivals matching the updated content are
    // silently lost wherever they meet the stale entry's bucket. The
    // fixture forces exactly that: fp=0 and its update 0xFFFF share
    // chunks 1-3 (value 0); the probe 0xFFFE (hamming 1 from the update,
    // 15 from the stale original) lands ONLY in those shared buckets, so
    // under an id-only guard the pair is unreachable — its own chunk 0
    // bucket holds nobody.
    val mem = MemoryStream[(Timestamp, Long, Long)]
    val df = mem.toDF().toDF("ts", "id", "fp")
    val q = EventsStream.nearDupStream(df, "id", "fp",
        bits = 64, chunks = 4, maxHamming = 3, maxBucket = 8,
        salvageRep = false)
      .writeStream.format("memory").queryName("upd_content").start()
    mem.addData((Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 0L))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 10:00:01"), 1L, 0xFFFFL))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 10:00:02"), 2L, 0xFFFEL))
    q.processAllAvailable()
    val got = spark.table("upd_content").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getInt(2))).distinct.toSet
    q.stop()
    assert(got == Set((1L, 2L, 1)),
      s"updated same-id content did not refresh bucket state: $got")
  }

  test("streaming embed near-dup: a null ELEMENT inside an embedding cannot kill the query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Array[java.lang.Double])]
    val df = mem.toDF().toDF("ts", "id", "emb")
    val q = EventsStream.embedNearDupStream(df, "id", "emb",
        dim = 4, planes = 3, threshold = 0.9)
      .writeStream.format("memory").queryName("embed_nullel").start()
    def arr(xs: Double*): Array[java.lang.Double] =
      xs.map(java.lang.Double.valueOf).toArray
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, arr(1.0, 2.0, 3.0, 4.0)),
      // a dirty row: whole-null passes nothing, but [1.0, null, ...]
      // passes isNotNull and would reach the primitive double[] encoder
      (Timestamp.valueOf("2024-01-01 10:00:01"), 2L,
        Array[java.lang.Double](1.0, null, 3.0, 4.0)),
      (Timestamp.valueOf("2024-01-01 10:00:02"), 3L, arr(1.0, 2.0, 3.0, 4.0)))
    q.processAllAvailable()
    val got = spark.table("embed_nullel").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).distinct.toSet
    q.stop()
    assert(got == Set((1L, 3L)),
      s"dirty row killed the stream or paired: $got")
  }

  test("streaming sessionization emits gap-closed sessions (single batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventsStream.Event]
    val q = EventsStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    // both bursts in one batch: the in-batch gap closes the first session
    mem.addData(
      EventsStream.Event(1, Timestamp.valueOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      EventsStream.Event(2, Timestamp.valueOf("2024-01-01 10:10:00"), 1, "click", 1.0),
      EventsStream.Event(3, Timestamp.valueOf("2024-01-01 12:00:00"), 1, "view", 1.0))
    q.processAllAvailable()
    val sessions = spark.table("sessions").as[EventsStream.Session].collect()
    q.stop()
    assert(sessions.length == 1, s"expected 1 closed session, got ${sessions.toSeq}")
    assert(sessions.head.n_events == 2)
    assert(sessions.head.session_end == Timestamp.valueOf("2024-01-01 10:10:00"))
  }

  test("stream-stream join attributes clicks to impressions within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long, Long)]
    val clicks = MemoryStream[(Timestamp, Long, Long)]
    val joined = graft.streaming.EventsStream.joinWithinWindow(
      imps.toDF().toDF("ts", "imp_id", "user"),
      clicks.toDF().toDF("ts", "click_id", "user"),
      key = "user", leftTs = "ts", rightTs = "ts", windowMinutes = 10)
    val q = joined.select("l_imp_id", "r_click_id")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    imps.addData((ts(0), 100L, 1L), (ts(0), 200L, 2L))
    clicks.addData(
      (ts(5), 500L, 1L),   // within 10 min of imp 100 -> attributed
      (ts(45), 501L, 1L),  // 45 min later -> outside window
      (ts(3), 502L, 3L))   // no impression for user 3
    q.processAllAvailable()
    val got = spark.table("attrib").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(got == Set((100L, 500L)), s"got $got")
  }

  test("streaming last-known-location state carries across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventsStream.ParsedMsg
    val mem = MemoryStream[ParsedMsg]
    val q = graft.streaming.EventsStream.withLastKnownLocation(mem.toDS())
      .writeStream.format("memory").queryName("loc_stream")
      .outputMode("append").start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // batch 1: user 1 reports a location then goes quiet; user 2 never does
    mem.addData(
      ParsedMsg(1, 1, ts(0), Some(32.7), Some(-117.1)),
      ParsedMsg(2, 1, ts(1), None, None),
      ParsedMsg(3, 2, ts(2), None, None))
    q.processAllAvailable()
    // batch 2: state must carry user 1's coords into the new batch
    mem.addData(ParsedMsg(4, 1, ts(9), None, None))
    q.processAllAvailable()
    val got = spark.table("loc_stream")
      .collect().map(r => r.getLong(0) -> Option(r.get(3))).toMap
    q.stop()
    assert(got(1L) == Some(32.7) && got(2L) == Some(32.7))
    assert(got(3L) == None)        // user 2 has no known location
    assert(got(4L) == Some(32.7))  // carried across the batch boundary
  }

  test("streaming location extraction (X6)") {
    import spark.implicits._
    val msgs = Seq("I am at Latitude 32.71, Longitude -117.16 now", "no coords here")
      .toDF("text")
    val out = EventsStream.parseLocations(msgs, "text").collect()
    assert(out(0).getAs[Double]("lat") == 32.71 && out(0).getAs[Double]("lon") == -117.16)
    assert(out(1).isNullAt(out(1).fieldIndex("lat")))
  }

  test("compaction shrinks the file count and preserves every row") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_frag").toString
    val dst = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/out"
    spark.range(0, 10000).toDF("id").repartition(64)
      .write.mode("overwrite").parquet(src)
    def files(d: String) = new java.io.File(d).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(src) == 64)
    graft.sources.Maintenance.compactTo(spark, src, dst, targetFileBytes = 1L << 26)
    assert(files(dst) < 8, s"still fragmented: ${files(dst)} files")
    assert(spark.read.parquet(dst).count() == 10000)
    assert(spark.read.parquet(dst).agg(sum(col("id"))).head().getLong(0)
      == 10000L * 9999 / 2)
  }

  test("bounded-buffer top-k agg matches the window formulation, ties broken by id") {
    import org.apache.spark.sql.expressions.Window
    // score = id % 13 forces heavy ties; repartition(8) forces real merges
    val df = spark.range(0, 5000).select(
      (col("id") % 7).as("g"), col("id"),
      (col("id") % 13).cast("double").as("score")).repartition(8)
    val tk = graft.operators.TopK.topK(4)
    val got = df.groupBy("g").agg(tk(col("id"), col("score")).as("tk"))
      .select(col("g"), posexplode(col("tk")))
      .select(col("g"), (col("pos") + 1).as("rank"),
        col("col.id").as("id"), col("col.score").as("score"))
    val w = Window.partitionBy("g").orderBy(desc("score"), asc("id"))
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4).select("g", "rank", "id", "score")
    assert(got.count() == 28 && got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("z-order clustering: bbox query concentrates into few files; row-order scatters") {
    val base = java.nio.file.Files.createTempDirectory("graft_z").toString
    val src = base + "/src"; val dst = base + "/z"
    // deterministic scatter over a 10x10 degree box (no rand(): reruns must
    // see the same layout)
    spark.range(0, 40000).select(
        col("id"),
        (col("id") * 2654435761L % 1000000L / 1000000.0 * 10.0 + 30.0).as("lat"),
        (col("id") * 48271L % 1000000L / 1000000.0 * 10.0 - 120.0).as("lon"))
      .repartition(16).write.mode("overwrite").parquet(src)
    val nFiles = graft.sources.Maintenance.zorderTo(
      spark, src, dst, "lat", "lon", bits = 16, targetFileBytes = 1L << 16)
    assert(nFiles >= 8, s"want a multi-file layout to prove pruning, got $nFiles")
    assert(spark.read.parquet(dst).count() == 40000)
    // files contributing >=1 row to a 0.5x0.5 degree bbox (1/400 of the
    // area): the z-layout packs the box into a handful of files, the
    // row-order layout has matches in every one of its 16 files
    def touched(d: String): Long = spark.read.parquet(d)
      .filter(col("lat").between(33.0, 33.5) && col("lon").between(-117.5, -117.0))
      .select(input_file_name()).distinct().count()
    val (scattered, clustered) = (touched(src), touched(dst))
    assert(scattered >= 12, s"row-order layout unexpectedly clustered: $scattered")
    assert(clustered * 3 <= scattered,
      s"z-order pruning too weak: $clustered of $nFiles files vs $scattered of 16")
  }

  test("schema evolution: merged read surfaces the added column, old rows NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("append").parquet(dir)
    Seq((2L, "b", 9.5)).toDF("id", "v", "score").write.mode("append").parquet(dir)
    val merged = graft.sources.Maintenance.readMerged(spark, dir)
    assert(merged.columns.toSet == Set("id", "v", "score"))
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("score"))) // pre-migration row
    assert(rows(1).getDouble(rows(1).fieldIndex("score")) == 9.5)
  }

  test("multimodal: deterministic fake features + frame sampling") {
    import spark.implicits._
    val media = Seq(
      (1L, "image", Array[Byte](1, 2, 3, 4), (640, 480, null.asInstanceOf[java.lang.Long], "image/png")),
      (2L, "video", Array[Byte](9, 9), (1920, 1080, java.lang.Long.valueOf(2500L), "video/mp4")))
      .toDF("media_id", "kind", "content", "meta")
      .withColumn("meta", col("meta").cast(
        "struct<width:int,height:int,duration_ms:bigint,mime:string>"))
    val feats = Multimodal.extractFeatures(media, dim = 8)
    val f = feats.orderBy("media_id").collect()
    assert(f.length == 2 && f(0).getAs[scala.collection.Seq[Float]]("feature").length == 8)
    // determinism: same bytes → same features
    val again = Multimodal.extractFeatures(media, dim = 8).orderBy("media_id").collect()
    assert(f(0).getAs[scala.collection.Seq[Float]]("feature").toSeq ==
      again(0).getAs[scala.collection.Seq[Float]]("feature").toSeq)
    val frames = Multimodal.sampleFrames(media, everyMs = 1000)
    assert(frames.count() == 3) // 0, 1000, 2000 for the 2500ms video
  }

  test("multimodal decodeMeta: hand-built literal bytes (parser independent of writer)") {
    // Each array is hand-assembled with features the in-house encoder never
    // emits — NONZERO bmp row padding, a ppm comment line, an unknown
    // odd-sized RIFF chunk — so this proves the PARSER, not writer∘parser.
    // 2x1 24bpp BMP, rowBytes=8: 6 pixel bytes sum 210, padding 99s skipped
    val bmp = Array[Int](
      'B', 'M', 62, 0, 0, 0, 0, 0, 0, 0, 54, 0, 0, 0, // file header
      40, 0, 0, 0, 2, 0, 0, 0, 1, 0, 0, 0, 1, 0, 24, 0, // info: 2x1, 24bpp
      0, 0, 0, 0, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      10, 20, 30, 40, 50, 60, 99, 99).map(_.toByte)
    val mb = Multimodal.decodeMeta(bmp)
    assert(mb == Multimodal.MediaMeta("bmp", 2, 1, -1, 210, 62),
      s"bmp parse: $mb (padding bytes must be excluded from content_sum)")
    // P6 with a comment line; 3x2 pixels 1..18 sum 171
    val ppm = "P6\n# test comment\n3 2\n255\n".getBytes("US-ASCII") ++
      (1 to 18).map(_.toByte).toArray
    val mp = Multimodal.decodeMeta(ppm)
    assert(mp == Multimodal.MediaMeta("ppm", 3, 2, -1, 171, ppm.length), s"ppm parse: $mp")
    // WAV @1000 Hz with an unknown odd-sized 'junk' chunk (1-byte pad)
    // between fmt and data; samples -1, 2, -3, 4 => sum 2, duration 4 ms
    val wav = Array[Int](
      'R', 'I', 'F', 'F', 56, 0, 0, 0, 'W', 'A', 'V', 'E',
      'f', 'm', 't', ' ', 16, 0, 0, 0, 1, 0, 1, 0, 0xE8, 3, 0, 0,
      0xD0, 7, 0, 0, 2, 0, 16, 0,
      'j', 'u', 'n', 'k', 3, 0, 0, 0, 7, 7, 7, 0,
      'd', 'a', 't', 'a', 8, 0, 0, 0,
      0xFF, 0xFF, 2, 0, 0xFD, 0xFF, 4, 0).map(_.toByte)
    val mw = Multimodal.decodeMeta(wav)
    assert(mw == Multimodal.MediaMeta("wav", -1, -1, 4, 2, 64),
      s"wav parse: $mw (int16 sign extension + chunk-walk must both hold)")
    // roundtrip sweep across all three formats: decode(mediaForDoc(id))
    // must equal the closed-form arithmetic the DuckDB oracle evaluates
    for (id <- 0L to 50L) {
      val m = Multimodal.decodeMeta(Multimodal.mediaForDoc(id))
      if (id % 3 == 2) {
        val n = 8 * (100 + id % 100)
        assert(m.kind == "wav" && m.duration_ms == 100 + id % 100 &&
          m.content_sum == (0L until n).map(i => (id * 7 + i) % 4001 - 2000).sum,
          s"doc $id: $m")
      } else {
        val (w, h) = (1 + id % 13, 1 + id % 7)
        assert(m.width == w && m.height == h &&
          m.content_sum == (0L until w * h * 3).map(i => (id * 3 + i) % 251).sum,
          s"doc $id: $m")
      }
    }
    // malformed input fails loudly, never returns zeros
    intercept[RuntimeException](Multimodal.decodeMeta(Array.fill[Byte](16)(1)))
    intercept[IllegalArgumentException](Multimodal.decodeMeta(Array[Byte](1, 2)))
  }

  test("Graft.registerAll: SQL over temp views matches the DataFrame path") {
    graft.core.Graft.registerAll(spark, sf)
    val viaSql = spark.sql(
      "SELECT count(*) FROM lineitem WHERE l_returnflag = 'A'").head().getLong(0)
    val viaDf = graft.core.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "A").count()
    assert(viaSql == viaDf && viaSql > 0)
    // events view must come through the nanos-safe loader
    assert(spark.sql("SELECT min(ts) FROM events").head().getTimestamp(0) != null)
    // the extensions' native functions are SQL-callable on the same session
    assert(spark.sql(
      "SELECT haversine_km(32.0, -117.0, 32.0, -117.0)").head().getDouble(0) == 0.0)
  }

  test("chat pipeline end-to-end: parse -> keyed location state -> embed, across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = EventsStream.chatPipeline(
        mem.toDF().toDF("event_id", "user_id", "ts", "msg"), "msg", embedDim = 8)
      .writeStream.format("memory").queryName("chat").outputMode("append").start()
    mem.addData(
      (1L, 7L, Timestamp.valueOf("2024-01-01 10:00:00"),
        "I am at Latitude 32.7, Longitude -117.1"),
      (2L, 7L, Timestamp.valueOf("2024-01-01 10:01:00"), "where can I sleep tonight"),
      (3L, 8L, Timestamp.valueOf("2024-01-01 10:02:00"), "hello"))
    q.processAllAvailable()
    // batch 2: user 7's state must carry; a new location overrides
    mem.addData(
      (4L, 7L, Timestamp.valueOf("2024-01-01 11:00:00"), "any food banks nearby"),
      (5L, 8L, Timestamp.valueOf("2024-01-01 11:01:00"),
        "at latitude 33.0, longitude -117.3 now"))
    q.processAllAvailable()
    val rows = spark.table("chat").orderBy("event_id").collect()
    q.stop()
    assert(rows.length == 5)
    def eff(i: Int) = (Option(rows(i).getAs[java.lang.Double]("eff_lat")),
      Option(rows(i).getAs[java.lang.Double]("eff_lon")))
    assert(eff(0) == (Some(32.7), Some(-117.1)))   // own coords
    assert(eff(1) == (Some(32.7), Some(-117.1)))   // carried within batch
    assert(eff(2) == (None, None))                 // user 8: no state yet
    assert(eff(3) == (Some(32.7), Some(-117.1)))   // carried ACROSS batches
    assert(eff(4) == (Some(33.0), Some(-117.3)))   // lowercase parse + update
    // every message got a deterministic embedding of the requested dim
    rows.foreach { r =>
      val e = r.getAs[scala.collection.Seq[Double]]("embedding")
      assert(e.length == 8 && e.exists(_ != 0.0))
    }
  }

  test("streaming sink lands micro-batches in the day-partitioned lake layout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = EventsStream.sinkPartitioned(
      mem.toDF().toDF("ts", "user_id", "value"), s"$base/tbl", s"$base/ckpt")
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
      (Timestamp.valueOf("2024-01-02 09:00:00"), 2L, 2.0))
    q.processAllAvailable()
    // late arrival for day 1 in a later batch: lands in day 1's partition
    mem.addData((Timestamp.valueOf("2024-01-01 23:00:00"), 3L, 3.0))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$base/tbl")
    assert(back.count() == 3)
    assert(back.filter(col("day") === "2024-01-01").count() == 2)
    // the layout on disk IS the contract: one Hive directory per day
    val dirs = new java.io.File(s"$base/tbl").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filterNot(_ == "_spark_metadata") // the sink's exactly-once commit log
      .toSet
    assert(dirs == Set("day=2024-01-01", "day=2024-01-02"), s"got $dirs")
    // exactly-once across restart: a NEW query over the same source and
    // SAME checkpoint+path resumes from the offset+commit logs — committed
    // rows must not duplicate, post-restart data must land exactly once
    mem.addData((Timestamp.valueOf("2024-01-02 12:00:00"), 4L, 4.0))
    val q2 = EventsStream.sinkPartitioned(
      mem.toDF().toDF("ts", "user_id", "value"), s"$base/tbl", s"$base/ckpt")
    q2.processAllAvailable()
    q2.stop()
    val after = spark.read.parquet(s"$base/tbl")
    assert(after.count() == 4, s"restart duplicated or lost rows: ${after.count()}")
    assert(after.select("user_id").distinct().count() == 4)
  }

  test("nested schema pruning: selecting one struct field narrows the scan") {
    // at 100 TB, reading zoning.* to answer a zoning.zone_type query is the
    // difference between one column chunk and the whole nested blob —
    // Spark's nested schema pruning must reach the parquet ReadSchema
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_nest").toString
    val flat = (1L to 100L).map(i =>
      (i, s"city_${i % 7}", s"zone_${i % 3}", "Vacant", i * 2, i * 1.5))
      .toDF("id", "jurisdiction", "zoning_type", "vacancy_status", "units", "shape_area")
    JsonSource.nestHousing(flat).write.parquet(s"$base/housing")
    val rd = spark.read.parquet(s"$base/housing")
      .select(col("zoning.zoning_type"))
    val scan = rd.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec"))
    val readSchema = scan.requiredSchema.catalogString
    assert(readSchema.contains("zoning_type"), readSchema)
    assert(!readSchema.contains("searchable_text") && !readSchema.contains("area") &&
      !readSchema.contains("jurisdiction"),
      s"nested pruning failed, scan reads: $readSchema")
    assert(rd.count() > 0)
  }

  test("dynamic partition pruning: dim filter prunes the partitioned fact at runtime") {
    import spark.implicits._
    // the 100 TB pattern behind every date-dim join: the fact is
    // day-partitioned, the predicate lives on the DIMENSION — static
    // pruning sees nothing, DPP injects the dim's surviving keys as a
    // runtime partition filter on the fact scan
    val base = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val ev = graft.core.Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    graft.sources.Maintenance.writePartitioned(ev, s"$base/fact", Seq("day"))
    val nDays = new java.io.File(s"$base/fact").listFiles()
      .count(_.getName.startsWith("day="))
    assert(nDays > 3, s"need several partitions, got $nDays")
    val dim = ev.select("day").distinct()
      .withColumn("tag",
        when(col("day") === "2024-01-03", "hot").otherwise("cold"))
    dim.write.parquet(s"$base/dim")
    val restore = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast on: DPP's cheapest form reuses the broadcasted dim keys
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
      // the dim predicate must be literal-comparison-shaped on a NON-join
      // column: DPP's isLikelySelective() rejects bare boolean attributes
      // (and `b === true` boolean-simplifies back to one), while a filter
      // on the join key itself would prune statically, proving nothing
      // about DPP
      val joined = spark.read.parquet(s"$base/fact")
        .join(spark.read.parquet(s"$base/dim").filter(col("tag") === "hot"), "day")
      val expected = ev.filter(col("day") === "2024-01-03").count()
      assert(joined.collect().length == expected)
      val scan = graft.tools.PlanAudit.walk(joined.queryExecution.executedPlan)
        .collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.output.exists(_.name == "ts") => s
        }.getOrElse(fail("no fact FileSourceScanExec"))
      assert(scan.partitionFilters.exists(_.toString.contains("dynamicpruning")),
        s"no DPP filter on the fact scan: ${scan.partitionFilters}")
      assert(scan.metrics("numPartitions").value == 1,
        s"DPP read ${scan.metrics("numPartitions").value} partitions of $nDays")
    } finally restore match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("variant type: parse-once binary JSON agrees with per-path extraction") {
    // the scale story for the events.props blob: get_json_object re-parses
    // the string per path per row; parse_json parses ONCE into Spark 4's
    // binary Variant, every later path is a binary probe. Semantics must
    // agree with the string path exactly (q_json_extract's oracle contract)
    val ev = graft.core.Tables.events(spark, sf).limit(500)
      .select(col("event_id"), col("props"))
    val both = ev.select(col("event_id"),
        expr(S.jsonGet("props", "$.k")).cast("long").as("k_str"),
        expr("try_variant_get(parse_json(props), '$.k', 'bigint')").as("k_var"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"variant/string extraction disagree for event ${r.getLong(0)}: " +
          s"${r.get(1)} vs ${r.get(2)}")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // thresholds scaled down so the test-size hot key counts as skewed;
      // broadcast off so the join actually shuffles (a broadcast join has
      // no skew to split)
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hot = (1L to 60000L).map(i => (0L, i)) // one mega-key
      val tail = (1L to 1000L).map(i => (i % 50 + 1, i))
      // no explicit repartition: OptimizeSkewedJoin only splits
      // ENSURE_REQUIREMENTS exchanges (a user-forced REPARTITION_BY_NUM
      // pins the partitioning and exempts itself from skew handling)
      val fact = (hot ++ tail).toDF("k", "v")
      val dim = (0L to 50L).map(i => (i, s"d_$i")).toDF("k", "name")
      val joined = fact.join(dim, "k")
      // collect() on THIS dataset: AQE finalizes (and marks skew on) the
      // executed plan of this QueryExecution; count() would run a separate one
      assert(joined.collect().length == 61000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partitioned write: equality predicate prunes to one directory") {
    import graft.sources.Maintenance
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString + "/events"
    val ev = graft.core.Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Maintenance.writePartitioned(ev, dir, Seq("day"))
    val all = spark.read.parquet(dir)
    val one = all.filter(col("day") === "2024-01-03")
    // collect(), not count(): count() spawns a separate QueryExecution and
    // the scan metrics below would stay unpopulated on this one
    assert(one.collect().length ==
      ev.filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-03").count())
    // the pruning is directory-level: the day predicate must surface as a
    // PartitionFilter (not a per-row data filter), and the executed scan's
    // own metrics must report exactly one partition read of the ~30 written
    val scan = one.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("2024-01-03")),
      s"day predicate not a partition filter: ${scan.partitionFilters}")
    assert(scan.metrics("numPartitions").value == 1,
      s"expected 1 partition read, got ${scan.metrics("numPartitions").value}")
    assert(scan.metrics("numFiles").value < all.inputFiles.length)
  }

  test("inverted index persists bucketed by token hash; a term probe prunes to one bucket") {
    // the 100 TB half of q_inverted_index / q_bm25: the posting table lands
    // partitioned by tokenHash % NBUCKETS, so a keyword lookup is a
    // directory-pruned read of 1-of-N buckets — the AnnIndex bucket-layout
    // argument applied to text search
    import graft.sources.Maintenance
    val nBuckets = 16
    val dir = java.nio.file.Files.createTempDirectory("graft_inv").toString + "/index"
    val postings = graft.core.Tables.documents(spark, sf).limit(200)
      .select(col("doc_id"), explode(expr(text.tokens(S, "text"))).as("tok"))
      .distinct()
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          _.cast("string")), ",").as("postings"))
      .withColumn("bucket",
        expr(text.tokenHash(S, "tok")) % nBuckets)
    Maintenance.writePartitioned(postings, dir, Seq("bucket"))
    val all = spark.read.parquet(dir)
    val term = "spark"
    val termBucket = TextSig.tokenHash(term) % nBuckets
    val probe = all.filter(col("bucket") === termBucket && col("tok") === term)
    val got = probe.collect()
    val want = postings.filter(col("tok") === term)
      .select("tok", "df", "postings").collect()
    assert(want.nonEmpty, "probe term absent from the corpus sample")
    assert(got.map(r => (r.getAs[String]("tok"), r.getAs[Long]("df"),
      r.getAs[String]("postings"))).toSet ==
      want.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet)
    val scan = probe.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, "bucket predicate not a partition filter")
    assert(scan.metrics("numPartitions").value == 1,
      s"expected 1 bucket read, got ${scan.metrics("numPartitions").value}")
  }

  test("ORC rewrite round-trips rows and pushes filters") {
    import graft.sources.Maintenance
    val base = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = s"$base/pq"
    graft.core.Tables.table(spark, sf, "customer").write.parquet(src)
    Maintenance.toOrc(spark, src, s"$base/orc")
    val orc = spark.read.orc(s"$base/orc")
    assert(orc.count() == spark.read.parquet(src).count())
    val filtered = orc.filter(col("c_custkey") <= 10)
    assert(filtered.queryExecution.executedPlan.toString
      .contains("LessThanOrEqual(c_custkey,10)"), "filter not pushed to ORC scan")
    assert(filtered.count() ==
      spark.read.parquet(src).filter(col("c_custkey") <= 10).count())
  }

  test("bloom-pruned semi-join equals the plain semi-join exactly") {
    import graft.operators.BloomPrune
    val orders = graft.core.Tables.table(spark, sf, "orders")
    val build = graft.core.Tables.table(spark, sf, "customer")
      .filter(col("c_mktsegment") === "MACHINERY")
    val viaBloom = BloomPrune.semiJoin(orders, "o_custkey", build, "c_custkey",
        expectedItems = 1000L, fpp = 0.3) // high fpp: force false positives
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    val plain = orders
      .join(build, col("o_custkey") === col("c_custkey"), "left_semi")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(viaBloom == plain,
      s"bloom prune changed the result: ${viaBloom.size} vs ${plain.size} rows")
  }

  test("SCD-2 intervals chain gaplessly; snapshot returns one version per key") {
    import spark.implicits._
    import graft.operators.Scd2
    val log = Seq(
      (1L, "2024-01-01 00:00:00", 10L), (1L, "2024-02-01 00:00:00", 11L),
      (1L, "2024-02-01 00:00:00", 12L), // same-ts change: tie-break on id
      (1L, "2024-03-01 00:00:00", 13L),
      (2L, "2024-06-01 00:00:00", 20L))
      .toDF("k", "ts", "log_id")
      .withColumn("ts", col("ts").cast("timestamp"))
    val hist = Scd2.fromChangeLog(log, "k", "ts", tieBreak = Seq("log_id"))
      .orderBy("k", "valid_from", "log_id").collect()
    // each version's valid_to == the next version's valid_from, last is open
    hist.groupBy(_.getLong(0)).foreach { case (_, versions) =>
      versions.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Timestamp]("valid_to") == b.getAs[Timestamp]("valid_from"))
        case _ =>
      }
      assert(versions.last.isNullAt(versions.last.fieldIndex("valid_to")))
      assert(versions.last.getAs[Boolean]("is_current"))
      assert(versions.init.forall(!_.getAs[Boolean]("is_current")))
    }
    // snapshot inside the same-ts pair's interval sees only the tie-winner's
    // successor chain: exactly one version per covered key
    val snap = Scd2.snapshotAt(
        Scd2.fromChangeLog(log, "k", "ts", tieBreak = Seq("log_id")),
        lit("2024-02-15 00:00:00").cast("timestamp"))
      .collect()
    assert(snap.length == 1 && snap.head.getAs[Long]("log_id") == 12L)
  }

  test("HLL and percentile sketches stay within their configured error of the exact twins") {
    // the two oracle-less catalog queries are only trustworthy if the
    // sketches actually track their oracle-checked exact twins — pin that
    val li = graft.core.Tables.table(spark, sf, "lineitem")
    val r = li.agg(
      approx_count_distinct(col("l_partkey")).as("apk"),
      countDistinct(col("l_partkey")).as("epk"),
      approx_count_distinct(col("l_suppkey")).as("ask"),
      countDistinct(col("l_suppkey")).as("esk"),
      expr("approx_percentile(l_quantity, 0.5)").as("aq"),
      expr("percentile(l_quantity, 0.5)").as("eq")).head()
    // default rsd = 5%; allow 3 sigma
    for ((a, e) <- Seq((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))) {
      assert(math.abs(a - e).toDouble / e <= 0.15, s"HLL est $a vs exact $e")
    }
    // quantity is integral 1..50: the median sketch must land within one
    // neighboring value of the exact median
    assert(math.abs(r.getDouble(4) - r.getDouble(5)) <= 1.0,
      s"approx median ${r.getDouble(4)} vs exact ${r.getDouble(5)}")
  }

  test("Misra-Gries: undercount-only within n/(k+1), heavy keys guaranteed present, any merge order") {
    import spark.implicits._
    import graft.operators.Sketches
    // zipf-ish stream: key i gets ~n/i occurrences; repartition(8) forces
    // real partial-summary merges in arbitrary order
    val rnd = new scala.util.Random(7)
    val stream = (1L to 40L).flatMap(i =>
      Seq.fill((2000 / i).toInt)(i)) ++ Seq.fill(500)(rnd.nextInt(5000).toLong + 100L)
    val df = rnd.shuffle(stream).toDF("key").repartition(8)
    val n = stream.size.toLong
    val k = 6
    val est = df.agg(Sketches.misraGries(k)(col("key")).as("s"))
      .select(explode(col("s")).as("ke"))
      .select(col("ke.key"), col("ke.est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.size <= k, s"more than $k counters survived: ${est.size}")
    val exact = stream.groupBy(identity).map { case (kk, v) => kk -> v.size.toLong }
    val bound = n.toDouble / (k + 1)
    est.foreach { case (kk, e) =>
      val t = exact(kk)
      assert(e <= t, s"MG overcounted key $kk: $e > $t")
      assert(t - e <= bound, s"MG error for $kk beyond n/(k+1): est $e true $t")
    }
    // superset property: every key above n/(k+1) must be in the summary
    exact.filter(_._2 > bound).keys.foreach { kk =>
      assert(est.contains(kk), s"heavy key $kk (true ${exact(kk)}) missing")
    }
  }

  test("count-min sketch: overcount-only, within eps*N, merges across partitions") {
    import graft.operators.Sketches
    val li = graft.core.Tables.table(spark, sf, "lineitem")
      .repartition(8) // force real partial-buffer merges
    val n = li.count()
    val eps = 0.001
    val est = li.agg(Sketches.cms(eps, 0.99, seed = 7,
        queryKeys = (1L to 10L))(col("l_suppkey")).as("e"))
      .select(explode(col("e")).as("ke"))
      .select(col("ke.key"), col("ke.est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = li.filter(col("l_suppkey").between(1, 10))
      .groupBy("l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 10L).foreach { k =>
      val t = exact.getOrElse(k, 0L)
      val e = est(k)
      assert(e >= t, s"CMS undercounted key $k: $e < $t")
      assert(e - t <= (eps * n).ceil.toLong,
        s"CMS error for key $k beyond eps*N: est $e, true $t, n $n")
    }
  }

  test("BMP resize: real pixel movement, stride re-pad, layout-pinned checksum") {
    val src = Multimodal.encodeBmp(5, 3, seed = 42L) // stride 16: 1 pad byte
    val rs = Multimodal.resizeBmp(src, 2, 2)
    val meta = Multimodal.decodeMeta(rs)
    assert(meta.kind == "bmp" && meta.width == 2 && meta.height == 2)
    // every output pixel is the nearest-neighbor source pixel, channel-exact
    val srcStride = ((3 * 5 + 3) / 4) * 4
    val dstStride = ((3 * 2 + 3) / 4) * 4
    for (r <- 0 until 2; x <- 0 until 2; c <- 0 until 3) {
      val sr = r * 3 / 2; val sx = x * 5 / 2
      assert(rs(54 + r * dstStride + 3 * x + c) ==
        src(54 + sr * srcStride + 3 * sx + c), s"pixel ($r,$x,$c)")
    }
    // the weighted checksum pins LAYOUT: swapping two adjacent payload
    // bytes changes it, while the plain content_sum (orientation/position
    // invariant by construction) cannot see the swap — the gap wsum closes
    val tweaked = rs.clone()
    val t = tweaked(54); tweaked(54) = tweaked(55); tweaked(55) = t
    assert(rs(54) != rs(55)) // deterministic payload => genuinely different
    assert(Multimodal.weightedPixelSum(rs) != Multimodal.weightedPixelSum(tweaked))
    assert(Multimodal.decodeMeta(rs).content_sum ==
      Multimodal.decodeMeta(tweaked).content_sum)
    // upscale round-trips too (sr/sx mapping must not read out of bounds)
    val up = Multimodal.resizeBmp(src, 11, 7)
    assert(Multimodal.decodeMeta(up).width == 11 &&
      Multimodal.decodeMeta(up).height == 7)
    // malformed-input-throws covers the header fields the pixel loop
    // assumes: a palette/odd-bpp or shifted-pixel-array BMP must be
    // refused, not resized into garbage (decodeBmp's discipline)
    val badBpp = src.clone(); badBpp(28) = 8 // 8bpp palette
    intercept[IllegalArgumentException] { Multimodal.resizeBmp(badBpp, 2, 2) }
    val badOff = src.clone(); badOff(10) = 122 // dataOff != 54 (v5 header)
    intercept[IllegalArgumentException] { Multimodal.resizeBmp(badOff, 2, 2) }
  }

  test("PNG/JPEG codec round-trips: lossless exactness, lossy bounds, loud failures") {
    // the JDK ImageIO tier: PNG decode must reproduce the deterministic
    // source raster EXACTLY (lossless — checksum equals the closed-form
    // (seed*3+i)%251 sum), JPEG must keep dims exactly and the sum within
    // the oracle's 5% bound, and garbage must throw, never zero-fill
    for ((w, h, seed) <- Seq((16, 16, 0L), (28, 22, 7L), (17, 19, 123L))) {
      val srcSum = (0L until 3L * w * h).map(i => (seed * 3 + i) % 251).sum
      val png = Multimodal.decodeMeta(Multimodal.encodePng(w, h, seed))
      assert(png.kind == "png" && png.width == w && png.height == h &&
        png.content_sum == srcSum, s"png $png vs srcSum=$srcSum")
      val jpg = Multimodal.decodeMeta(Multimodal.encodeJpeg(w, h, seed))
      assert(jpg.kind == "jpeg" && jpg.width == w && jpg.height == h)
      assert(math.abs(jpg.content_sum - srcSum) * 20 <= srcSum,
        s"jpeg sum ${jpg.content_sum} beyond 5% of $srcSum")
    }
    // truncated JPEG: the codec cannot finish — must surface, not zero
    val truncated = Multimodal.encodeJpeg(16, 16, 1L).take(20)
    intercept[Exception] { Multimodal.decodeMeta(truncated) }
    // compressed-format resize: PNG is lossless both ways, so the resized
    // raster must equal the closed-form NN resample byte-for-byte (via the
    // position-weighted checksum); JPEG double-lossy stays within half the
    // oracle's 10% bound on these dims
    for ((sw, sh, seed) <- Seq((16, 16, 2L), (28, 22, 9L))) {
      val (dw, dh) = (sw / 2, sh / 2)
      def nnByte(j: Int): Long =
        (seed * 3 + (j / (3 * dw)) * sh / dh * 3 * sw +
          (j % (3 * dw)) / 3 * sw / dw * 3 + j % 3) % 251
      val wantW = (0 until 3 * dw * dh).map(j => nnByte(j) * (j + 1)).sum
      val wantS = (0 until 3 * dw * dh).map(nnByte(_)).sum
      val rp = Multimodal.resizeImage(Multimodal.encodePng(sw, sh, seed), dw, dh)
      assert(Multimodal.decodeMeta(rp).width == dw)
      assert(Multimodal.rasterWeightedSum(rp) == wantW,
        s"png resize raster diverged at ${sw}x$sh")
      val rj = Multimodal.resizeImage(Multimodal.encodeJpeg(sw, sh, seed), dw, dh)
      val js = Multimodal.decodeMeta(rj)
      assert(js.width == dw && js.height == dh)
      assert(math.abs(js.content_sum - wantS) * 20 <= wantS,
        s"jpeg resize sum ${js.content_sum} beyond 5% of $wantS")
    }
    // real decoded-pixel features: deterministic and kind-dispatched (a
    // PNG and its JPEG twin land CLOSE — same pixels through a lossy
    // codec — which the fake byte-hash features could never do)
    import spark.implicits._
    val media = Seq(
      (0L, "png", Multimodal.encodePng(24, 18, 5L)),
      (1L, "jpeg", Multimodal.encodeJpeg(24, 18, 5L)))
      .toDF("media_id", "kind", "content")
    val feats = Multimodal.extractFeatures(media, dim = 8)
      .orderBy("media_id").collect()
      .map(_.getSeq[Float](2).toArray)
    assert(feats.length == 2 && feats(0).length == 8)
    val dist = feats(0).zip(feats(1)).map { case (a, b) =>
      math.abs(a - b) }.max
    assert(dist <= 8.0f, s"png/jpeg feature gap $dist — not decoding real pixels?")
    assert(feats(0).sum > 0f)
  }

  test("Y4M video walker: header, frame markers, luma framing, loud failures") {
    val b = Multimodal.encodeY4m(4, 2, 3, seed = 9L)
    val v = Multimodal.videoMeta(b)
    val fb = 4 * 2 + 2 * 2 * 1 // C420: 8 luma + 2x2 chroma bytes
    assert(v.width == 4 && v.height == 2 && v.n_frames == 3 &&
      v.duration_ms == 120) // 3 frames at 25 fps
    assert(v.content_sum == (0 until 3 * fb).map(i => (45L + i) % 241).sum)
    assert(v.max_frame_luma ==
      (0 until 3).map(f => (0 until 8).map(j => (45L + f * fb + j) % 241).sum).max)
    // malformed must throw, never zero-fill: truncated payload, odd C420
    // dims, corrupted FRAME marker
    intercept[IllegalArgumentException] { Multimodal.videoMeta(b.dropRight(1)) }
    intercept[IllegalArgumentException] { Multimodal.encodeY4m(3, 2, 1, 0L) }
    val bad = b.clone()
    bad("YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420\n".length) = 'X'
    intercept[IllegalArgumentException] { Multimodal.videoMeta(bad) }
  }

  test("CDC chunking: boundaries resync after a prefix shift; fixed segments do not") {
    // the property q_chunk_cdc exists for: prepend 2 tokens to a doc and
    // content-defined boundaries re-land on the same content past the
    // first hash window, so most chunk fingerprints survive — while fixed
    // 8-token segmentation shifts every boundary and shares ~nothing
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    val base = graft.core.Tables.documents(spark, sf).limit(40)
      .select(col("doc_id"), col("text"))
      .filter(expr(text.nTokens(S, "text")) >= 20)
    def cdcFps(df: DataFrame): Map[Long, Set[Long]] = {
      val staged = df.select(col("doc_id"), explode(array(expr(
        s"named_struct('ths', ${text.tokenHashes(S, "text")}, " +
          s"'ghs', ${text.gramHashes(S, "text", 3)})"))).as("z"))
        .select(col("doc_id"), col("z.ths").as("ths"), col("z.ghs").as("ghs"))
      val rows = staged.select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(ths)), i -> named_struct(" +
          "'h', element_at(ths, i), " +
          "'f', CASE WHEN i >= 3 AND element_at(ghs, i - 2) % 8 = 0 " +
          "THEN 1 ELSE 0 END))")).as(Seq("p0", "t")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"),
          col("t.h").as("h"), col("t.f").as("f"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      rows.withColumn("chunk", sum(col("f")).over(w) - col("f"))
        .groupBy("doc_id", "chunk")
        .agg(expr("aggregate(transform(sort_array(collect_list(" +
          "named_struct('pos', pos, 'h', h))), s -> s.h), 0L, " +
          s"(acc, x) -> (acc * 131 + x) % ${text.P})").as("fp"))
        .groupBy("doc_id").agg(collect_set("fp").as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    }
    def segFps(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("doc_id"),
        explode(expr(text.segments(S, "text", 8))).as("seg"))
        .select(col("doc_id"), expr(text.tokenHash(S, "seg")).as("fp"))
        .groupBy("doc_id").agg(collect_set("fp").as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    def overlap(a: Map[Long, Set[Long]], b: Map[Long, Set[Long]]): Double = {
      val fr = a.keys.toSeq.map { k =>
        a(k).intersect(b.getOrElse(k, Set.empty)).size.toDouble /
          math.max(a(k).size, 1)
      }
      fr.sum / fr.size
    }
    val shifted = base.select(col("doc_id"),
      concat(lit("zz zz "), col("text")).as("text"))
    val cdcO = overlap(cdcFps(base), cdcFps(shifted))
    val segO = overlap(segFps(base), segFps(shifted))
    assert(cdcO > 0.5, f"CDC chunk overlap after shift only $cdcO%.2f")
    assert(segO < 0.2, f"fixed segments unexpectedly stable: $segO%.2f")
    assert(cdcO > segO + 0.3, f"cdc=$cdcO%.2f seg=$segO%.2f")
  }

  test("BPE and CDC kernels match their SQL fragments / relational twins exactly") {
    import org.apache.spark.sql.expressions.Window
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "e" -> "r")
    // BPE: kernel vs the foldArr fragment, word by word over the real vocab
    val words = graft.core.Tables.documents(spark, sf).limit(80)
      .select(explode(expr(text.tokens(S, "text"))).as("w")).distinct()
    val enc = text.bpeApply(S, S.splitChars("w"), merges)
    val both = words.select(col("w"), expr(enc).as("frag"),
      TextSig.bpeEncodeUdf(merges)(col("w")).as("kern")).collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"word ${r.getString(0)}: frag=${r.getSeq[String](1)} kern=${r.getSeq[String](2)}")
    }
    // CDC: kernel chunk (fp, len) pairs vs the relational derivation
    val docs = graft.core.Tables.documents(spark, sf).limit(30)
      .select(col("doc_id"), col("text"))
    val viaKernel = docs
      .select(col("doc_id"),
        explode(TextSig.cdcChunkFpsUdf(col("text"), lit(3), lit(8))).as("ch"))
      .select(col("doc_id"), col("ch._1").as("fp"), col("ch._2").as("len"))
    val staged = docs.select(col("doc_id"), explode(array(expr(
      s"named_struct('ths', ${text.tokenHashes(S, "text")}, " +
        s"'ghs', ${text.gramHashes(S, "text", 3)})"))).as("z"))
      .select(col("doc_id"), col("z.ths").as("ths"), col("z.ghs").as("ghs"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val viaRelational = staged.select(col("doc_id"), posexplode(expr(
      "transform(sequence(1, size(ths)), i -> named_struct(" +
        "'h', element_at(ths, i), " +
        "'f', CASE WHEN i >= 3 AND element_at(ghs, i - 2) % 8 = 0 " +
        "THEN 1 ELSE 0 END))")).as(Seq("p0", "t")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"),
        col("t.h").as("h"), col("t.f").as("f"))
      .withColumn("chunk", sum(col("f")).over(w) - col("f"))
      .groupBy("doc_id", "chunk")
      .agg(expr("aggregate(transform(sort_array(collect_list(" +
        "named_struct('pos', pos, 'h', h))), s -> s.h), 0L, " +
        s"(acc, x) -> (acc * 131 + x) % ${text.P})").as("fp"),
        count(lit(1)).as("len"))
      .select("doc_id", "fp", "len")
    assert(viaKernel.count() > 0)
    assert(viaKernel.exceptAll(viaRelational).count() == 0)
    assert(viaRelational.exceptAll(viaKernel).count() == 0)
  }

  test("BPE merge fold: canonical greedy-leftmost semantics on crafted inputs") {
    // pins the exact Sennrich et al. merge behavior q_bpe_encode relies on:
    // leftmost-first on runs, no re-merge within a pass, chaining across
    // ranked passes
    def enc(word: String, merges: Seq[(String, String)]): Seq[String] = {
      val e = text.bpeApply(S, S.splitChars("w"), merges)
      spark.sql(s"SELECT $e AS t FROM (SELECT '$word' AS w)")
        .head.getSeq[String](0).toSeq
    }
    // "aaa" under (a,a): leftmost pair merges, survivor does NOT re-merge
    assert(enc("aaa", Seq("a" -> "a")) == Seq("aa", "a"))
    // "aaaa": two disjoint merges in one pass
    assert(enc("aaaa", Seq("a" -> "a")) == Seq("aa", "aa"))
    // chaining: (t,h) then (th,e) yields a single 'the' token
    assert(enc("the", Seq("t" -> "h", "th" -> "e")) == Seq("the"))
    // a later-rank merge does not apply before its turn: (h,e) consumed
    // the 'h' only if (t,h) hasn't already
    assert(enc("the", Seq("h" -> "e", "t" -> "h")) == Seq("t", "he"))
    // no merge applies: identity to the char split
    assert(enc("xyz", Seq("a" -> "b")) == Seq("x", "y", "z"))
  }

  test("BPE trainer: replay of the learned table equals the trainer's segmentation") {
    // the produce/consume contract q_bpe_train_encode rides on: encoding a
    // word by REPLAYING the ranked merge table (bpeEncodeWord, q_bpe_encode's
    // kernel) must equal the final segmentation the trainer maintained
    // incrementally round by round — the classic BPE equivalence, pinned
    val (mergesDf, wfFinal) = graft.queries.PipelineQueries.bpeTrain(spark, sf, 4)
    val learned = mergesDf.orderBy("rank").collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    assert(learned.length == 4 && learned.distinct.length == 4,
      s"trainer emitted $learned")
    val rows = wfFinal.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val w = r.getAs[String]("w")
      assert(r.getSeq[String](r.fieldIndex("seg")) ==
        TextSig.bpeEncodeWord(w, learned).toSeq,
        s"replay != trainer segmentation for word '$w'")
    }
    // and the trainer's inner step itself: one-pass merge kernel vs the
    // expression-rendered fragment it mirrors, pair riding in as columns
    val frag = S.slice(text.bpeMergeOnceExpr(S, "seg", "m_a", "m_b"),
      "2", "1000000")
    val both = graft.core.Tables.documents(spark, sf).limit(80)
      .select(explode(expr(text.tokens(S, "text"))).as("w")).distinct()
      .select(col("w"), expr(S.splitChars("w")).as("seg"),
        lit("t").as("m_a"), lit("h").as("m_b"))
      .select(col("w"), expr(frag).as("frag"),
        TextSig.bpeMergePassUdf(col("seg"), col("m_a"), col("m_b")).as("kern"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"word ${r.getString(0)}: frag=${r.getSeq[String](1)} kern=${r.getSeq[String](2)}")
    }
  }

  test("segments partition the token stream; char chunks cover the text with overlap") {
    // segments: rejoining them with single spaces reproduces the normalized
    // token stream exactly — nothing duplicated, nothing lost (the property
    // that makes segment-level boilerplate REMOVAL safe, unlike shingles)
    val docs = graft.core.Tables.documents(spark, sf).limit(50)
    val seg = docs.select(col("doc_id"),
      expr(text.segments(S, "text", 8)).as("segs"),
      expr(text.tokens(S, "text")).as("toks"))
      .select(col("doc_id"),
        array_join(col("segs"), " ").as("joined"),
        array_join(col("toks"), " ").as("stream"))
      .collect()
    assert(seg.nonEmpty)
    seg.foreach(r => assert(r.getString(1) == r.getString(2),
      s"doc ${r.getLong(0)}: segment join != token stream"))

    // chunks: chunk i starts at (i-1)*stride+1; stripping each chunk's
    // overlap prefix (size-stride chars, except chunk 1) and concatenating
    // reproduces the original text — full coverage, no gaps
    val size = 200; val stride = 150
    val ch = docs.select(col("doc_id"), col("text"),
      expr(text.charChunks(S, "text", size, stride)).as("chunks")).collect()
    ch.foreach { r =>
      val full = r.getString(1)
      val chunks = r.getAs[scala.collection.Seq[String]]("chunks")
      val rebuilt = chunks.zipWithIndex.map {
        case (c, 0) => c
        case (c, _) => c.drop(size - stride)
      }.mkString
      assert(rebuilt == full, s"doc ${r.getLong(0)}: chunk rebuild differs")
      // each chunk spans exactly [start, min(start+size-1, len)] — full
      // `size` only while the text lasts (the tail chunk truncates)
      chunks.zipWithIndex.foreach { case (c, i) =>
        val start = i * stride + 1
        val want = math.min(size, full.length - start + 1)
        assert(c.length == want,
          s"doc ${r.getLong(0)} chunk ${i + 1}: length ${c.length} != $want")
      }
      // no chunk is fully contained in its predecessor: every chunk after
      // the first must END past the previous chunk's end (the count
      // formula's whole point — a redundant tail would be a duplicate
      // embedding downstream)
      chunks.zipWithIndex.drop(1).foreach { case (c, i) =>
        val end = i * stride + c.length
        val prevEnd = (i - 1) * stride + chunks(i - 1).length
        assert(end > prevEnd,
          s"doc ${r.getLong(0)} chunk ${i + 1} adds no new text")
      }
      // and the chunk set still covers the whole text
      assert((chunks.length - 1) * stride + chunks.last.length == full.length)
    }
  }

  test("q_bm25 matches an independent Scala BM25 implementation") {
    // the oracle gate pins Spark == DuckDB on the same formula; this golden
    // pins the formula itself — a from-scratch driver-side BM25 over the
    // same corpus must produce the identical quantized top-10
    val terms = Seq("spark", "merge", "window")
    val k1 = 1.2; val b = 0.75
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase
        .split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val n = docs.size
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    val dfs = terms.map(t => t -> docs.values.count(_.contains(t))).toMap
    val expected = docs.toSeq.map { case (id, toks) =>
      val dl = toks.size
      val score = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
        // parenthesized exactly like Bm25Sql: idf * (num/den), NOT
        // (idf*num)/den — FP multiply/divide are non-associative, and a
        // 1-ulp disagreement at a floor(x*1e4+0.5) boundary would flip
        // the quantized score this golden compares
        idf * ((tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)))
      }.sum
      (id, math.floor(score * 10000.0 + 0.5).toLong)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = graft.queries.Catalog.byName("q_bm25").fn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
  }

  test("segment-dedup boilerplate set rides a broadcast join") {
    // the scale contract of q_segment_dedup: the df-filtered boilerplate
    // set joins back via BroadcastHashJoin — the exploded corpus must
    // never shuffle against itself
    // pre-execution plan (like PlanGuardSpec): after execution AQE wraps
    // subtrees in QueryStageExec leaves whose children are not walkable
    val df = graft.queries.Catalog.byName("q_segment_dedup").fn(spark, sf)
    def walk(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val self = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case other => Seq(other)
      }
      self ++ p.children.flatMap(walk)
    }
    val bhj = walk(df.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "boilerplate set not broadcast")
  }

  test("videoFrameStats: stride sampling agrees with the full videoMeta walk") {
    import graft.operators.Multimodal
    val b = Multimodal.encodeY4m(w = 8, h = 4, nFrames = 7, seed = 11L)
    val meta = Multimodal.videoMeta(b)
    val all = Multimodal.videoFrameStats(b, 1)
    // stride 1 is the full walk: frame count, total payload, max luma agree
    assert(all.length == meta.n_frames)
    assert(all.map(f => f.luma_sum + f.chroma_sum).sum == meta.content_sum)
    assert(all.map(_.luma_sum).max == meta.max_frame_luma)
    // stride 3 keeps exactly frames 0,3,6 of the full walk's values
    val s3 = Multimodal.videoFrameStats(b, 3)
    assert(s3.map(_.frame_idx).toSeq == Seq(0L, 3L, 6L))
    assert(s3.toSeq == s3.map(f => all(f.frame_idx.toInt)).toSeq)
    // malformed input throws, same policy as the other walkers
    intercept[IllegalArgumentException] {
      Multimodal.videoFrameStats(b.take(b.length - 1), 2)
    }
    intercept[IllegalArgumentException] {
      Multimodal.videoFrameStats(b, 0)
    }
  }

  test("TextNorm.normalize: NFC composes, controls strip, whitespace collapses") {
    import graft.functions.TextNorm
    // decomposed e+combining-acute composes to one code point
    assert(TextNorm.normalize("Cafe\u0301") == "Caf\u00E9")
    assert(TextNorm.normalize("A\u030A") == "\u00C5")
    // C0 controls vanish; the five ASCII whitespace controls collapse
    assert(TextNorm.normalize("a\u0007b") == "ab")
    assert(TextNorm.normalize("a\u0000\u0001\u007Fb") == "ab")
    assert(TextNorm.normalize(" a\t\t b\r\nc\u000B\u000Cd  ") == "a b c d")
    // idempotent: a second pass is the identity
    val once = TextNorm.normalize("  Cafe\u0301\u0007\t x ")
    assert(TextNorm.normalize(once) == once)
    assert(TextNorm.normalize("") == "")
    assert(TextNorm.normalize("\t\u0007 ") == "")
  }

  test("TextNorm.htmlToText: script/style content drops, entities decode, truncation is safe") {
    import graft.functions.TextNorm
    assert(TextNorm.htmlToText("<p>a</p><script>var x = 1 < 2;</script>b") == "a b")
    // case-insensitive element names, attributes on the opening tag
    assert(TextNorm.htmlToText("<SCRIPT type=\"t\">x<y</SCRIPT>ok") == "ok")
    assert(TextNorm.htmlToText("<style media=\"all\">p{a:b}</style>ok") == "ok")
    // <styled> is NOT a style element: name boundary required
    assert(TextNorm.htmlToText("<styled>kept</styled>") == "kept")
    // entities: named, decimal, hex; unknown and malformed pass through
    assert(TextNorm.htmlToText("x &lt; y &amp;&nbsp;&#65;&#x42;") == "x < y & AB")
    assert(TextNorm.htmlToText("&foo; &amp &#xzz; &#1114112;") ==
      "&foo; &amp &#xzz; &#1114112;")
    // unterminated tag / unterminated script: consume to end, never leak markup
    assert(TextNorm.htmlToText("a<div  class=") == "a")
    assert(TextNorm.htmlToText("a<script>var x=1;") == "a")
    assert(TextNorm.htmlToText("a<script>x</script") == "a")
    // bare '<' before a non-letter is CHARACTER DATA (HTML spec), not a
    // tag opener — unescaped comparisons in crawl text must survive
    assert(TextNorm.htmlToText("1 < 2 > 3") == "1 < 2 > 3")
    assert(TextNorm.htmlToText("a < <b>bold</b>") == "a < bold")
    assert(TextNorm.htmlToText("x <") == "x <")
    // surrogate code points are not characters: the numeric entity passes
    // through verbatim like other malformed entities, never an unpaired
    // surrogate in the output
    assert(TextNorm.htmlToText("&#xD800; ok &#55296;") == "&#xD800; ok &#55296;")
    assert(!TextNorm.htmlToText("&#xDFFF;").exists(Character.isSurrogate))
  }

  test("TextNorm.canonicalizeUrl: pinned rules, including the ones the catalog query can't hit") {
    import graft.functions.TextNorm.canonicalizeUrl
    // scheme/host case, default port, fragment, tracking params, sort
    assert(canonicalizeUrl("HTTP://Ex.COM:80/p?utm_a=1&b=2&a=1#f") ==
      "http://ex.com/p?a=1&b=2")
    // NON-default port and cross-scheme default port are kept
    assert(canonicalizeUrl("http://ex.com:8080/p") == "http://ex.com:8080/p")
    assert(canonicalizeUrl("http://ex.com:443/p") == "http://ex.com:443/p")
    // path: empty -> '/', slash runs collapse, root slash survives
    assert(canonicalizeUrl("https://ex.com") == "https://ex.com/")
    assert(canonicalizeUrl("https://ex.com///a//b///") == "https://ex.com/a/b")
    assert(canonicalizeUrl("https://ex.com/?gclid=x") == "https://ex.com/")
    // all-tracking query disappears entirely (no dangling '?')
    assert(canonicalizeUrl("https://ex.com/p?utm_source=a&fbclid=b") ==
      "https://ex.com/p")
    // params sort by full name=value text; duplicates kept
    assert(canonicalizeUrl("https://ex.com/p?b=2&a=9&a=1") ==
      "https://ex.com/p?a=1&a=9&b=2")
    // not an absolute URL: pass through untouched
    assert(canonicalizeUrl("not a url") == "not a url")
    assert(canonicalizeUrl("/relative/path?x=1") == "/relative/path?x=1")
  }

  test("TextNorm.extractLinks: document order, duplicates kept, case-insensitive") {
    import graft.functions.TextNorm
    val html = "<a href=\"u1\">x</a><A HREF=\"u2\">y</A>" +
      "<a class=\"c\" href=\"u1\">z</a><a name=\"no-href\">w</a>"
    assert(TextNorm.extractLinks(html).toSeq == Seq("u1", "u2", "u1"))
    assert(TextNorm.extractLinks("no links").isEmpty)
  }

  test("embeddingIncrementalPairs: increment equals capped from-scratch restricted to the batch") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Dedup}
    val (dim, planes, thr) = (8, 10, 0.99)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the from-scratch comparator: capped wide-bucket embeddingPairs over
    // old ∪ new, restricted to pairs involving the batch
    def scratch(all: org.apache.spark.sql.DataFrame, cap: Int,
                batchMin: Long) =
      run(Dedup.embeddingPairs(
          all.withColumn("bucket", AnnIndex.wideBucketExpr("emb", dim, planes)),
          "id", "emb", "bucket", threshold = thr, maxBucket = cap))
        .filter { case (a, b, _) => a >= batchMin || b >= batchMin }
    // four well-separated directions; positive rescales share the bucket
    // (sign-LSH scale-invariance) and sit at cosine exactly 1.0
    val anchors = Array(
      Array(1.0, -2.0, 3.0, -1.0, 2.0, -3.0, 1.5, -0.5),
      Array(-1.0, 1.0, -1.0, 1.0, -2.0, 2.0, -2.0, 2.0),
      Array(3.0, 1.0, -0.5, -2.0, 1.0, 0.5, -1.0, 2.5),
      Array(-2.0, -1.0, 1.0, 3.0, -0.5, 1.5, 2.0, -1.0))
    def copies(aIdx: Int, idBase: Long, n: Int) = (0 until n).map(i =>
      (idBase + i, anchors(aIdx).map(_ * (i + 2))))
    // old: 10 copies each of anchors 0-2; batch: 10 MORE copies of anchor
    // 0 (pushing its bucket from 10 to 20), 3 copies of the unseen anchor
    // 3 (new×new only), one null embedding (must pair with nothing)
    val old = (copies(0, 1L, 10) ++ copies(1, 21L, 10) ++ copies(2, 41L, 10))
      .toDF("id", "emb")
    val batch = (copies(0, 101L, 10) ++ copies(3, 121L, 3))
      .toDF("id", "emb")
      .unionByName(Seq((131L, null: Array[Double])).toDF("id", "emb"))
    val index = Dedup.embeddingBucketIndex(old, "id", "emb", dim, planes)
    val all = old.unionByName(batch)
    // uncapped, and capped at 15: anchor 0's bucket is 10 old + 10 new =
    // 20 rows — UNDER no cap, OVER cap 15 only because of the batch, so
    // the post-batch cap population must drop it from both sides
    for (cap <- Seq(Int.MaxValue, 15)) {
      val incr = run(Dedup.embeddingIncrementalPairs(batch, index,
        "id", "emb", dim, planes, thr, maxBucket = cap))
      assert(incr == scratch(all, cap, 101L),
        s"cap=$cap: increment != from-scratch-restricted")
      assert(incr.forall { case (a, b, _) => a != 131L && b != 131L },
        "null embedding forged a pair")
    }
    // non-vacuity: uncapped finds the 10x10 cross + C(10,2) new×new on
    // anchor 0 plus C(3,2) on anchor 3; capped-at-15 keeps only anchor 3
    assert(run(Dedup.embeddingIncrementalPairs(batch, index,
      "id", "emb", dim, planes, thr)).size == 100 + 45 + 3)
    assert(run(Dedup.embeddingIncrementalPairs(batch, index,
      "id", "emb", dim, planes, thr, maxBucket = 15)).size == 3)
    // RANDOMIZED equivalence battery, the hamming test's discipline
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 3) {
      val cap2 = Seq(4, 12, Int.MaxValue)(trial - 1)
      def near(aIdx: Int) = anchors(aIdx).map(x =>
        x * (1 + rnd.nextInt(9)) + rnd.nextGaussian() * 0.01)
      val oldR = (1L to 30L).map(i => (i, near(rnd.nextInt(4))))
      val newR = (101L to 112L).map(i => (i, near(rnd.nextInt(4))))
      val oldDf = oldR.toDF("id", "emb"); val newDf = newR.toDF("id", "emb")
      val incr2 = run(Dedup.embeddingIncrementalPairs(newDf,
        Dedup.embeddingBucketIndex(oldDf, "id", "emb", dim, planes),
        "id", "emb", dim, planes, thr, maxBucket = cap2))
      assert(incr2 == scratch(oldDf.unionByName(newDf), cap2, 101L),
        s"trial $trial cap=$cap2: increment != from-scratch")
    }
    // the persistence claim: the store written to parquet PARTITIONED BY
    // bucket (the documented 100 TB layout) mines the same pairs
    val dir = java.nio.file.Files.createTempDirectory("graft_eidx")
      .toString + "/idx"
    index.write.partitionBy("bucket").parquet(dir)
    val viaStore = run(Dedup.embeddingIncrementalPairs(batch,
      spark.read.parquet(dir), "id", "emb", dim, planes, thr))
    assert(viaStore == run(Dedup.embeddingIncrementalPairs(batch, index,
      "id", "emb", dim, planes, thr)),
      "parquet round-trip changed pairs")
    // refusals: a store without the token cannot be geometry-checked; a
    // geometry-mismatched store fails LOUDLY per corpus row even when no
    // bucket value would ever join (the silent-zero-pairs class)
    intercept[IllegalArgumentException] {
      Dedup.embeddingIncrementalPairs(batch, index.drop("emb_sig"),
        "id", "emb", dim, planes, thr)
    }
    val stale = intercept[Exception] {
      Dedup.embeddingIncrementalPairs(batch,
        Dedup.embeddingBucketIndex(old, "id", "emb", dim, planes = 6),
        "id", "emb", dim, planes, thr).collect()
    }
    assert(Iterator.iterate(stale: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(e => Option(e.getMessage)
        .exists(_.contains("stale embedding bucket index"))),
      s"wrong error: $stale")
  }

  test("wide-family store serving: token-checked top-k, loud refusals on both mismatches") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, Dedup}
    val (dim, planes) = (8, 10)
    // anchor + an x2-rescale twin (cosine 1.0, same wide bucket) + a
    // far direction — the twin must be the top hit for the anchor query
    val corpus = Seq(
      (1L, Array(1.0, -2.0, 3.0, -1.0, 2.0, -3.0, 1.5, -0.5)),
      (2L, Array(2.0, -4.0, 6.0, -2.0, 4.0, -6.0, 3.0, -1.0)),
      (3L, Array(-1.0, 1.0, -1.0, 1.0, -2.0, 2.0, -2.0, 2.0))
    ).toDF("id", "emb")
    val store = Dedup.embeddingBucketIndex(corpus, "id", "emb", dim, planes)
    val q = Seq(Tuple1(Array(1.0, -2.0, 3.0, -1.0, 2.0, -3.0, 1.5, -0.5)))
      .toDF("qe")
    val top = AnnIndex.annTopKWideIndexed(store, "emb", dim, planes,
        q, "qe", k = 2, tieBreak = Seq("id"))
      .select(col("id"), round(col("similarity"), 4).as("s"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top == Seq((1L, 1.0), (2L, 1.0)), s"got $top")
    // a wide store served through the LEGACY entry point would silently
    // match nothing — annTopKIndexed must refuse it loudly
    intercept[IllegalArgumentException] {
      AnnIndex.annTopKIndexed(store, "emb", "bucket", dim, planes,
        q, "qe", k = 2)
    }
    // a store without the token cannot be geometry-checked
    intercept[IllegalArgumentException] {
      AnnIndex.annTopKWideIndexed(store.drop("emb_sig"), "emb", dim, planes,
        q, "qe", k = 2)
    }
    // a geometry mismatch (store built at other planes) fails the JOB
    // loudly on the probe page instead of returning wrong/no neighbors
    val stale = intercept[Exception] {
      AnnIndex.annTopKWideIndexed(
        Dedup.embeddingBucketIndex(corpus, "id", "emb", dim, planes = 6),
        "emb", dim, planes, q, "qe", k = 2).collect()
    }
    assert(Iterator.iterate(stale: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(e => Option(e.getMessage)
        .exists(_.contains("stale wide-family store"))), s"wrong error: $stale")
    // a multi-row query frame would blend every query's candidates into
    // one global top-k — refused loudly, the annTuning contract
    intercept[IllegalArgumentException] {
      AnnIndex.annTopKWideIndexed(store, "emb", dim, planes,
        corpus.select(col("emb").as("qe")), "qe", k = 2)
    }
    // the batch-join face: annJoin(wide = true) blocks on the same
    // family, so the rescale twin (same wide bucket by scale
    // invariance) is the rank-1 neighbor with cosine exactly 1.0
    // similarity is unrounded in annJoin (call sites quantize), so pin
    // the x10k fixed point, not the raw double
    val aj = AnnIndex.annJoin(
        corpus.filter(col("id") === 1L), "id", "emb",
        corpus.filter(col("id") =!= 1L), "id", "emb",
        dim = dim, planes = planes, k = 1, wide = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e4)))
    assert(aj.toSeq == Seq((1L, 2L, 10000L)), s"got ${aj.toSeq}")
  }

  test("corrupt-media guards: chunk-walk hang, oversized-raster OOM, safe-null mapping") {
    import graft.operators.Multimodal
    // (1) WAV whose data-chunk size field reads -8: the RIFF walk's
    // cursor `p += 8 + sz + (sz & 1)` advances by ZERO — before the
    // guard this was an INFINITE LOOP, which no exception handler (and
    // no null-on-error wrapper) can catch; it must throw instead
    val hang = {
      val bb = java.nio.ByteBuffer.allocate(28)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(20)
        .put("WAVE".getBytes("US-ASCII"))
        .put("data".getBytes("US-ASCII")).putInt(-8)
        .putInt(0).putInt(0)
      bb.array()
    }
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.audioFingerprint(hang, 256)
    }
    assert(e1.getMessage.contains("corrupt chunk size"), e1.getMessage)
    // (2) PNG whose IHDR DECLARES a 100000x100000 raster: the decoder
    // would allocate ~40 GB before touching pixel data — a FATAL
    // OutOfMemoryError that escapes NonFatal wrappers; the dim guard
    // must throw an ordinary exception BEFORE the allocation
    val hugePng = {
      val ihdr = java.nio.ByteBuffer.allocate(17)
      ihdr.put("IHDR".getBytes("US-ASCII")).putInt(100000).putInt(100000)
        .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      val crc = new java.util.zip.CRC32(); crc.update(ihdr.array())
      val bb = java.nio.ByteBuffer.allocate(8 + 4 + 17 + 4)
      bb.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
        .putInt(13).put(ihdr.array()).putInt(crc.getValue.toInt)
      bb.array()
    }
    val e2 = intercept[Exception] { Multimodal.dHash64(hugePng) }
    assert(Option(e2.getMessage).exists(_.contains("decode guard")),
      s"expected the pre-allocation dim guard, got: $e2")
    // (3) the SAFE kernels map all of it — null, garbage, the hang blob,
    // the OOM header — to null, never an error (the streaming contract)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dirty = Seq(
      (1L, null: Array[Byte]),
      (2L, "garbage".getBytes("US-ASCII")),
      (3L, hang),
      (4L, hugePng)).toDF("id", "content")
    val fps = dirty.select(
        Multimodal.dHash64SafeUdf(col("content")).as("d"),
        Multimodal.audioFingerprintSafeUdf(col("content"), lit(256)).as("a"),
        Multimodal.videoFingerprintSafeUdf(col("content"), lit(2)).as("v"))
      .collect()
    assert(fps.forall(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)),
      s"safe kernels leaked a non-null fingerprint: ${fps.mkString(";")}")
    // healthy blobs still fingerprint identically through the safe path
    val good = Multimodal.nearImageForDoc(5L)
    assert(Multimodal.dHash64(good) == Seq((1L, good)).toDF("id", "content")
      .select(Multimodal.dHash64SafeUdf(col("content"))).head().getLong(0))
  }

  test("annTuning: nested probes are monotone and the full-probe cell is brute force") {
    import org.apache.spark.sql.functions._
    import graft.operators.AnnIndex
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val corpus = e.filter(col("vec_id") =!= 0)
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    val rows = AnnIndex.annTuning(corpus, "emb", "vec_id", q, "qe",
        dim = 64, k = 5,
        cells = Seq((1, 0), (1, 1), (4, 0), (4, 1), (4, 2), (12, 1), (12, 2)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val byCell = rows.map(r => (r._1, r._2) -> r).toMap
    val nCorpus = rows.head._4
    // planes=1, probe=1 probes BOTH buckets of the single hyperplane —
    // brute force by construction: every corpus row is a candidate and
    // recall is exactly 1
    val full = byCell((1L, 1L))
    assert(full._3 == nCorpus, s"full probe missed rows: $full")
    assert(full._5 == 5L && full._6 == 10000L, s"full probe recall != 1: $full")
    // nested-prefix monotonicity at fixed planes: each extra probe bit
    // can only add candidates, and the top-k of a candidate superset can
    // only gain true-top-k members
    for (p <- Seq(1L, 4L)) {
      assert(byCell((p, 1L))._3 >= byCell((p, 0L))._3, s"candidates shrank at planes=$p")
      assert(byCell((p, 1L))._5 >= byCell((p, 0L))._5, s"hits shrank at planes=$p")
    }
    assert(byCell((4L, 2L))._3 >= byCell((4L, 1L))._3 &&
      byCell((4L, 2L))._5 >= byCell((4L, 1L))._5 &&
      byCell((12L, 2L))._3 >= byCell((12L, 1L))._3 &&
      byCell((12L, 2L))._5 >= byCell((12L, 1L))._5,
      "probe-2 cells are not supersets of probe-1")
    // the recall floor this corpus measures for the serving default
    // (planes=12, probe=1): multi-probe must recover at least 2 of the
    // exact top-5 here — the dial a new store starts from (measured 3/5
    // at sf0.001; the cell exists so the number is MEASURED, not assumed)
    assert(byCell((12L, 1L))._5 >= 2L,
      s"planes=12 probe=1 recall floor broke: ${byCell((12L, 1L))}")
    // candidate fractions never exceed the corpus
    assert(rows.forall(r => r._3 <= nCorpus))
    // the 1-row query contract is CHECKED, not documented-only: a
    // multi-row frame would merge every query's probes into one ranking
    // and return garbage that looks like a measurement
    intercept[IllegalArgumentException] {
      AnnIndex.annTuning(corpus, "emb", "vec_id",
        e.limit(2).select(col("emb").as("qe")), "qe",
        dim = 64, k = 5, cells = Seq((4, 0)))
    }
  }

  test("annTuning: a non-bigint idCol fails loudly, naming the column and its type") {
    import graft.operators.AnnIndex
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id").cast("string").as("sid"),
        col("embedding").cast("array<double>").as("emb"))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.annTuning(e.filter(col("sid") =!= "0"), "emb", "sid",
        e.filter(col("sid") === "0").select(col("emb").as("qe")), "qe",
        dim = 64, k = 5, cells = Seq((4, 0)))
    }
    assert(err.getMessage.contains("`sid` is string"), err.getMessage)
  }

  test("multi-probe wide-store serving: pruned scan, tuning-cell recall parity, indexed batch join") {
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, Dedup}
    import graft.sources.Maintenance
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val corpus = e.filter(col("vec_id") =!= 0)
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    val (dim, planes) = (64, 12)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_wstore").toString + "/store"
    Maintenance.writePartitioned(
      Dedup.embeddingBucketIndex(corpus, "vec_id", "emb", dim, planes),
      dir, Seq("bucket"))
    val store = spark.read.parquet(dir)
    val nBuckets = store.select("bucket").distinct().count()
    assert(nBuckets > 80, s"fixture too coarse to witness pruning: $nBuckets")
    val exact = corpus
      .crossJoin(broadcast(q))
      .withColumn("__s", graft.functions.vectors.cosineSim(col("emb"), col("qe")))
      .orderBy(desc("__s"), col("vec_id")).limit(5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // the tuning sweep's measured cells at the store's exact geometry —
    // probed serving must deliver the recall the sweep priced, not less:
    // identical probe sets (the shared probeSetExpr builder) make the
    // candidate pages equal, so the hit counts must be EQUAL, not just >=
    val cells = AnnIndex.annTuning(corpus, "emb", "vec_id", q, "qe",
        dim, k = 5, cells = Seq((planes, 1), (planes, 2)))
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    for (pb <- Seq(1, 2)) {
      val maxProbed = 1 + (if (pb >= 1) planes else 0) +
        (if (pb == 2) planes * (planes - 1) / 2 else 0)
      val served = AnnIndex.annTopKWideIndexed(store, "emb", dim, planes,
        q, "qe", k = 5, tieBreak = Seq("id"), probeBits = pb)
      val ids = served.collect().map(_.getAs[Long]("id"))
      assert(ids.count(exact) == cells(pb.toLong),
        s"probe-$pb serving recall ${ids.count(exact)} != tuning cell ${cells(pb.toLong)}")
      // the probed IN-set must surface as a LITERAL partition filter on
      // the store scan (pruned at planning — no dynamic-pruning machinery
      // to trust), and the scan's own metrics must show it read at most
      // the probe set's partitions, strictly fewer than the store holds
      val scan = fileScans(served.queryExecution.executedPlan).headOption
        .getOrElse(fail("no FileSourceScanExec under the serving plan"))
      assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
        s"probe set not a partition filter: ${scan.partitionFilters}")
      val nRead = scan.metrics("numPartitions").value
      assert(nRead <= maxProbed && nRead < nBuckets,
        s"probe-$pb read $nRead partitions (probe set $maxProbed, store $nBuckets)")
    }
    // the batch face: annJoinIndexed over the persisted store must equal
    // annJoin(wide = true) re-hashing the corpus inline at the same dial —
    // the store path buys "never re-bucket the corpus", not different math
    val queries = e.filter(col("vec_id") < 20)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
      .toSeq
    val viaStore = canon(AnnIndex.annJoinIndexed(queries, "vec_id", "emb",
      store, dim, planes, k = 3, probeBits = 1))
    val inline = canon(AnnIndex.annJoin(queries, "vec_id", "emb",
      corpus, "vec_id", "emb", dim, planes, k = 3, probeBits = 1,
      wide = true))
    assert(viaStore == inline,
      s"store-served batch join diverged from inline annJoin:\n$viaStore\nvs\n$inline")
    // refusals: no token, stale geometry, and the min/max-skips-nulls hole
    // (a careless union of stamped and raw rows must be refused, not
    // silently served with raw rows sitting in wrong-family buckets)
    intercept[IllegalArgumentException] {
      AnnIndex.annJoinIndexed(queries, "vec_id", "emb",
        store.drop("emb_sig"), dim, planes, k = 3)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.annJoinIndexed(queries, "vec_id", "emb",
        store, dim, planes = 6, k = 3)
    }
    val poisoned = store.unionByName(
      store.limit(1).withColumn("emb_sig", lit(null).cast("long")))
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.annJoinIndexed(queries, "vec_id", "emb",
        poisoned, dim, planes, k = 3)
    }
    assert(e1.getMessage.contains("NULL emb_sig"), e1.getMessage)
    // serving checks the token over the PROBED SLICE (the rows the query
    // actually reads): a null-token row INSIDE the probed buckets is
    // refused loudly...
    val qbVal = e.filter(col("vec_id") === 0)
      .select(AnnIndex.wideBucketExpr("emb", dim, planes)).head().getLong(0)
    val poisonedInSlice = store.unionByName(store.limit(1)
      .withColumn("bucket", lit(qbVal))
      .withColumn("emb_sig", lit(null).cast("long")))
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.annTopKWideIndexed(poisonedInSlice, "emb", dim, planes,
        q, "qe", k = 5)
    }
    assert(e2.getMessage.contains("NULL emb_sig"), e2.getMessage)
    // ...while a null-token row OUTSIDE them does not fail THIS query —
    // the served rows are all verified; whole-store hygiene is the
    // maintenance gate's job (embeddingIndexRefresh refuses the same
    // store above). Query = a corpus row's own embedding, so the probed
    // slice is provably nonempty and no full-store escalation runs.
    val q2 = store.orderBy(col("id")).limit(1).select(col("emb").as("qe"))
    val elsewhere = store.unionByName(store.limit(1)
      .withColumn("bucket", lit(-1L))
      .withColumn("emb_sig", lit(null).cast("long")))
    assert(AnnIndex.annTopKWideIndexed(elsewhere, "emb", dim, planes,
        q2, "qe", k = 3).collect().nonEmpty,
      "a null-token row outside the probed slice wrongly failed the serve")
    // a NULL query embedding would hash to a null bucket and silently
    // return empty — refused loudly at call time
    import spark.implicits._
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.annTopKWideIndexed(store, "emb", dim, planes,
        Seq(Tuple1(null: Array[Double])).toDF("qe"), "qe", k = 5)
    }
    assert(e3.getMessage.contains("NULL"), e3.getMessage)
    // the degenerate probe geometry (double flips in a 1-plane family)
    // is refused identically by the Spark builder and the oracle twin
    // instead of diverging on it (Spark's sequence(0, -1) is DESCENDING)
    intercept[IllegalArgumentException] {
      AnnIndex.annJoin(queries, "vec_id", "emb", corpus, "vec_id", "emb",
        dim, planes = 1, k = 3, probeBits = 2, wide = true)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.probeSetSqlDuck("qb", planes = 1, probeBits = 2)
    }
  }

  test("embedding store lifecycle: token-checked appends, compaction keeps layout + serving") {
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndex, Dedup}
    import graft.sources.Maintenance
    val e = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("emb"))
    val (dim, planes) = (64, 12)
    val base = java.nio.file.Files.createTempDirectory("graft_elc").toString
    val dir = s"$base/store"
    Dedup.embeddingBucketIndex(e.filter(col("id") >= 100), "id", "emb",
      dim, planes).write.partitionBy("bucket").parquet(dir)
    // two token-checked ingest appends — the store read back must hold
    // every row exactly once (Append, never Overwrite)
    Dedup.embeddingIndexRefresh(spark, dir,
      e.filter(col("id") >= 50 && col("id") < 100), "id", "emb", dim, planes)
    Dedup.embeddingIndexRefresh(spark, dir,
      e.filter(col("id") > 0 && col("id") < 50), "id", "emb", dim, planes)
    val grown = spark.read.parquet(dir)
    assert(grown.count() == e.filter(col("id") > 0).count())
    assert(grown.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "an append duplicated store rows")
    // refusals BEFORE any row is written: stale geometry, no token,
    // NULL-token rows, empty store
    intercept[IllegalArgumentException] {
      Dedup.embeddingIndexRefresh(spark, dir, e.limit(1), "id", "emb",
        dim, planes = 6)
    }
    val rawDir = s"$base/raw"
    Dedup.embeddingBucketIndex(e.limit(5), "id", "emb", dim, planes)
      .drop("emb_sig").write.parquet(rawDir)
    intercept[IllegalArgumentException] {
      Dedup.embeddingIndexRefresh(spark, rawDir, e.limit(1), "id", "emb",
        dim, planes)
    }
    val nullDir = s"$base/nulltoken"
    Dedup.embeddingBucketIndex(e.limit(5), "id", "emb", dim, planes)
      .unionByName(Dedup.embeddingBucketIndex(e.limit(1), "id", "emb",
        dim, planes).withColumn("emb_sig", lit(null).cast("long")))
      .write.parquet(nullDir)
    val eNull = intercept[IllegalArgumentException] {
      Dedup.embeddingIndexRefresh(spark, nullDir, e.limit(1), "id", "emb",
        dim, planes)
    }
    assert(eNull.getMessage.contains("NULL emb_sig"), eNull.getMessage)
    val emptyDir = s"$base/empty"
    Dedup.embeddingBucketIndex(e.limit(0), "id", "emb", dim, planes)
      .write.parquet(emptyDir)
    intercept[IllegalArgumentException] {
      Dedup.embeddingIndexRefresh(spark, emptyDir, e.limit(1), "id", "emb",
        dim, planes)
    }
    // audit-cadence compaction: fewer files, identical rows, the token
    // and the PARTITIONED layout both survive — plain compactTo would
    // flatten bucket into a data column and the store would stop pruning
    val dir2 = s"$base/compacted"
    Maintenance.compactPartitionedTo(spark, dir, dir2, Seq("bucket"))
    assert(parquetFiles(dir2) < parquetFiles(dir),
      s"compaction did not shrink files: ${parquetFiles(dir)} -> ${parquetFiles(dir2)}")
    val compacted = spark.read.parquet(dir2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("emb_sig"), col("bucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(compacted) == rows(grown),
      "compaction changed store rows or dropped the token")
    // serving from the compacted store: identical top-k, and the probed
    // IN-set still prunes partitions (the layout-survival claim that
    // makes compaction safe to run on a live store)
    val q = e.filter(col("id") === 0).select(col("emb").as("qe"))
    def canonTop(store: org.apache.spark.sql.DataFrame) =
      AnnIndex.annTopKWideIndexed(store, "emb", dim, planes, q, "qe",
          k = 5, tieBreak = Seq("id"), probeBits = 1)
        .collect().map(r => (r.getAs[Long]("id"),
          math.round(r.getAs[Double]("similarity") * 1e6))).toSeq
    val served = AnnIndex.annTopKWideIndexed(compacted, "emb", dim, planes,
      q, "qe", k = 5, tieBreak = Seq("id"), probeBits = 1)
    assert(canonTop(compacted) == canonTop(grown),
      "compacted store serves different neighbors")
    served.collect()
    val scan = fileScans(served.queryExecution.executedPlan).headOption
      .getOrElse(fail("no FileSourceScanExec under the compacted serving plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("bucket")),
      s"compacted store lost partition pruning: ${scan.partitionFilters}")
    assert(scan.metrics("numPartitions").value <= 1 + planes,
      s"compacted probe read ${scan.metrics("numPartitions").value} partitions")
    // skew: a MEGA bucket must SPLIT across ceil(size/target) salted
    // files instead of funneling through one task as one arbitrarily
    // large file (the straggler/OOM the pair caps exist for), while cold
    // buckets still collapse to exactly one file
    import spark.implicits._
    val anchor = e.filter(col("id") === 1L).head().getSeq[Double](1).toArray
    val flood = (0 until 300).map(i => (800000L + i, anchor.map(_ * (i + 2.0))))
      .toDF("id", "emb")
    val skewDir = s"$base/skew"
    Dedup.embeddingBucketIndex(
        flood.unionByName(e.filter(col("id") >= 10 && col("id") < 15)),
        "id", "emb", dim, planes)
      .write.partitionBy("bucket").parquet(skewDir)
    val skewOut = s"$base/skew_compacted"
    Maintenance.compactPartitionedTo(spark, skewDir, skewOut, Seq("bucket"),
      targetFileBytes = 16L * 1024)
    val floodBucket = spark.read.parquet(skewDir)
      .filter(col("id") === 800000L).select(col("bucket").cast("long"))
      .head().getLong(0)
    assert(parquetFiles(s"$skewOut/bucket=$floodBucket") > 1,
      "mega bucket compacted into a single file — the salt never engaged")
    val coldDirs = spark.read.parquet(skewDir)
      .filter(col("id") >= 10 && col("id") < 15)
      .select(col("bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).filter(_ != floodBucket)
    assert(coldDirs.nonEmpty &&
      coldDirs.forall(b => parquetFiles(s"$skewOut/bucket=$b") == 1),
      "a cold bucket did not collapse to one file")
    assert(rows(spark.read.parquet(skewOut)) == rows(spark.read.parquet(skewDir)),
      "skew compaction changed store rows")
  }

  test("probe sets: exact size, distinct, radius-bounded, plane-confined over random geometries") {
    // the geometry every wide-serving face rests on (annJoin,
    // annJoinIndexed, annTopKWideIndexed's static IN set, annTuning's
    // cells, and their DuckDB twins): the probe set of (planes, probeBits)
    // is EXACTLY the Hamming ball of radius probeBits around the origin
    // bucket within the plane bits — right size, no duplicates (a corpus
    // row must meet a query at most once), no probe outside the 2^planes
    // bucket space (the ADVICE planes=1/probe=2 escape, generalized)
    import org.apache.spark.sql.functions._
    import graft.operators.AnnIndex
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 25) {
      val planes = 2 + rnd.nextInt(30)
      val pb = rnd.nextInt(3)
      val qb0 = rnd.nextLong() & ((1L << planes) - 1)
      val probes = spark.range(1).select(lit(qb0).as("__qb0"))
        .selectExpr(s"${AnnIndex.probeSetExpr(planes, pb)} AS p")
        .head().getSeq[Long](0)
      val expected = 1 + (if (pb >= 1) planes else 0) +
        (if (pb == 2) planes * (planes - 1) / 2 else 0)
      assert(probes.size == expected,
        s"planes=$planes probe=$pb: ${probes.size} probes, want $expected")
      assert(probes.distinct.size == probes.size,
        s"planes=$planes probe=$pb: duplicate probes")
      assert(probes.contains(qb0), "origin bucket missing from its probe set")
      assert(probes.forall(p => java.lang.Long.bitCount(p ^ qb0) <= pb),
        s"planes=$planes probe=$pb: a probe exceeds the flip radius")
      assert(probes.forall(p => (p ^ qb0) >>> planes == 0L),
        s"planes=$planes probe=$pb: a probe flipped a bit outside the " +
          "plane space")
    }
  }

  test("band/chunk store refresh: token-gated appends close the refresh matrix") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.Maintenance
    val docs = graft.core.Tables.documents(spark, sf).limit(60)
      .select(col("doc_id"), col("text"))
    val (k, bands, n) = (16, 4, 3)
    val base = java.nio.file.Files.createTempDirectory("graft_ref").toString
    // ---- minhash band store: r11 gave it the band_sig geometry token
    // (the ONE persisted blocking index that had none — a mismatched
    // geometry's band keys simply never match and every cross pair
    // silently vanishes)
    val bandDir = s"$base/bands"
    Dedup.minhashBandIndex(docs.filter(col("doc_id") < 40), "doc_id",
      "text", k, bands, n).write.partitionBy("band_idx").parquet(bandDir)
    Dedup.minhashIndexRefresh(spark, bandDir,
      docs.filter(col("doc_id") >= 40), "doc_id", "text", k, bands, n)
    def bandRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("band_idx").cast("int"), col("band_key"),
        col("band_sig"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3))).toSet
    // append-then-read equals a from-scratch build exactly (banding is a
    // pure per-row function of (text, geometry))
    assert(bandRows(spark.read.parquet(bandDir)) ==
      bandRows(Dedup.minhashBandIndex(docs, "doc_id", "text", k, bands, n)),
      "band refresh diverged from the from-scratch index")
    // refresh refusals: stale geometry, raw store, empty store
    intercept[IllegalArgumentException] {
      Dedup.minhashIndexRefresh(spark, bandDir, docs.limit(1), "doc_id",
        "text", k, bands, shingleN = 4)
    }
    val rawBand = s"$base/bands_raw"
    Dedup.minhashBandIndex(docs.limit(3), "doc_id", "text", k, bands, n)
      .drop("band_sig").write.parquet(rawBand)
    intercept[IllegalArgumentException] {
      Dedup.minhashIndexRefresh(spark, rawBand, docs.limit(1), "doc_id",
        "text", k, bands, n)
    }
    val emptyBand = s"$base/bands_empty"
    Dedup.minhashBandIndex(docs.limit(0), "doc_id", "text", k, bands, n)
      .write.parquet(emptyBand)
    intercept[IllegalArgumentException] {
      Dedup.minhashIndexRefresh(spark, emptyBand, docs.limit(1), "doc_id",
        "text", k, bands, n)
    }
    // the MINING face refuses a stale/raw index loudly even when no band
    // key would ever join (the silent-zero-pairs class): the assert rides
    // the band_key join key, once per index row
    val idx = Dedup.minhashBandIndex(docs, "doc_id", "text", k, bands, n)
    val stale = intercept[Exception] {
      Dedup.minhashIncrementalPairs(docs.limit(3), idx, "doc_id", "text",
        k, bands, shingleN = 4).collect()
    }
    assert(Iterator.iterate(stale: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(e => Option(e.getMessage)
        .exists(_.contains("stale minhash band index"))), s"wrong error: $stale")
    intercept[IllegalArgumentException] {
      Dedup.minhashIncrementalPairs(docs.limit(3), idx.drop("band_sig"),
        "doc_id", "text", k, bands, n)
    }
    // ---- hamming chunk store: refresh + compaction over the chunk_idx
    // layout (the other incremental store layout the audit cadence owns)
    val fps = (1L to 80L).map(i => (i, 0x0123456789abcdefL ^ (1L << (i % 60))))
      .toDF("id", "fp")
    val hamDir = s"$base/chunks"
    Dedup.hammingChunkIndex(fps.filter(col("id") <= 50), "id", "fp",
      bits = 64, chunks = 4).write.partitionBy("chunk_idx").parquet(hamDir)
    Dedup.hammingIndexRefresh(spark, hamDir, fps.filter(col("id") > 50),
      "id", "fp", bits = 64, chunks = 4)
    intercept[IllegalArgumentException] {
      Dedup.hammingIndexRefresh(spark, hamDir, fps.limit(1), "id", "fp",
        bits = 64, chunks = 2)
    }
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromStore = pairs(Dedup.hammingPairsFromIndex(
      spark.read.parquet(hamDir), maxHamming = 3))
    assert(fromStore == pairs(Dedup.hammingPairs(fps, "id", "fp",
      bits = 64, chunks = 4, maxHamming = 3)),
      "refreshed chunk store mines different pairs than from-scratch")
    assert(fromStore.nonEmpty, "hamming fixture went vacuous")
    val hamOut = s"$base/chunks_compacted"
    Maintenance.compactPartitionedTo(spark, hamDir, hamOut, Seq("chunk_idx"))
    assert(parquetFiles(hamOut) < parquetFiles(hamDir),
      s"chunk compaction did not shrink files: ${parquetFiles(hamDir)} -> " +
        s"${parquetFiles(hamOut)}")
    assert(pairs(Dedup.hammingPairsFromIndex(spark.read.parquet(hamOut),
      maxHamming = 3)) == fromStore,
      "compacted chunk store mines different pairs")
  }

  test("streaming store ingest: a replayed micro-batch overwrites, never appends") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.sources.Maintenance
    // the exactly-once contract asserted, not argued: applying the SAME
    // batch id twice (what Structured Streaming does after a crash
    // between commit-log writes) must leave the store and the mined
    // pairs byte-identical — a blind refreshStore-style append would
    // double both
    val (dim, planes, thr) = (4, 3, 0.9)
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_store").toString
    val mk = (id: Long, seed: Long, s: Double) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 7)) & 127) - 63.0) * s))
    val corpus = (1L to 8L).map(i => mk(i, i * 7919L, 1.0)).toDF("id", "emb")
    val storeDir = s"$base/store"
    val pairsDir = s"$base/pairs"
    Dedup.seedEmbedIngestStore(corpus, storeDir, "id", "emb", dim, planes)
    def storeSet() = spark.read.parquet(storeDir)
      .select(col("ingest_batch").cast("long"), col("id"),
        col("bucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def pairSet() = spark.read.parquet(pairsDir)
      .select(col("ingest_batch").cast("long"), col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    // batch 0: two scaled copies of corpus row 3 (cosine 1.0 near-dups)
    // and one novel row; batch 1: a copy of corpus row 5
    val b0 = Seq(mk(100L, 3L * 7919L, 2.0), mk(101L, 3L * 7919L, 3.0),
      mk(102L, 999999L, 1.0)).toDF("id", "emb")
    val b1 = Seq(mk(200L, 5L * 7919L, 2.0)).toDF("id", "emb")
    Dedup.embedStoreIngestBatch(spark, storeDir, pairsDir, 0L, b0,
      "id", "emb", dim, planes, thr)
    val (s0, p0) = (storeSet(), pairSet())
    assert(p0.nonEmpty, "batch 0 mined nothing — fixture went vacuous")
    assert(p0.exists(t => t._2 == 3L && t._3 == 100L),
      s"new x corpus pair not mined: $p0")
    assert(p0.exists(t => t._2 == 100L && t._3 == 101L),
      s"new x new pair not mined: $p0")
    // REPLAY batch 0 — the store must not grow by a single row
    Dedup.embedStoreIngestBatch(spark, storeDir, pairsDir, 0L, b0,
      "id", "emb", dim, planes, thr)
    assert(storeSet() == s0, "replayed batch doubled store rows")
    assert(pairSet() == p0, "replayed batch doubled mined pairs")
    // batch 1 under dynamic overwrite leaves the seed and batch 0 intact
    Dedup.embedStoreIngestBatch(spark, storeDir, pairsDir, 1L, b1,
      "id", "emb", dim, planes, thr)
    val s1 = storeSet()
    assert(s1.filter(_._1 != 1L) == s0,
      "batch 1 clobbered the seed or batch 0 (static overwrite leak)")
    assert(pairSet().exists(t => t._1 == 1L && t._2 == 5L && t._3 == 200L),
      "batch 1 did not mine its planted pair")
    // graduation: folding the ledger away yields EXACTLY the store a
    // batch build over the same rows would have written
    val gradDir = s"$base/store_canonical"
    Maintenance.compactPartitionedTo(spark, storeDir, gradDir,
      Seq("bucket"), dropCols = Seq("ingest_batch"))
    val grad = spark.read.parquet(gradDir)
    assert(!grad.columns.contains("ingest_batch"))
    val gradSet = grad
      .select(col("id"), col("bucket").cast("long"), col("emb_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val want = Dedup.embeddingBucketIndex(
        corpus.unionByName(b0).unionByName(b1), "id", "emb", dim, planes)
      .select(col("id"), col("bucket"), col("emb_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(gradSet == want, "graduated store diverged from the batch build")
    // the replay-exactness claim rests on the mine's corpus read PRUNING
    // the batch's own ledger slice at planning — pin that the != filter
    // on the ledger column is a partition filter and the scan's own
    // metrics report exactly the non-batch-1 partitions read
    val all = spark.read.parquet(storeDir)
    val totalParts = all
      .select(col("ingest_batch").cast("long"), col("bucket").cast("long"))
      .distinct().count()
    val b1Parts = all.filter(col("ingest_batch") === lit(1L))
      .select(col("bucket").cast("long")).distinct().count()
    val prunedRead = all.filter(col("ingest_batch") =!= lit(1L))
    // collect(), not count(): count() plans its OWN QueryExecution, so
    // prunedRead's inspected scan would never execute and its metrics
    // would read zero
    prunedRead.collect()
    val scan = prunedRead.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      .getOrElse(fail("no FileSourceScanExec in the ledger-filtered plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("ingest_batch")),
      s"ledger predicate not a partition filter: ${scan.partitionFilters}")
    assert(scan.metrics("numPartitions").value == totalParts - b1Parts,
      s"ledger filter did not prune: read ${scan.metrics("numPartitions").value} " +
        s"of $totalParts partitions (expected ${totalParts - b1Parts})")
  }

  test("streaming store ingest refuses canonical stores and foreign geometry") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_refuse").toString
    val mk = (id: Long, seed: Long) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 7)) & 127) - 63.0)))
    val corpus = (1L to 6L).map(i => mk(i, i * 7919L)).toDF("id", "emb")
    val batch = Seq(mk(50L, 12345L)).toDF("id", "emb")
    // a canonical bucket-only store has no replay ledger — streaming into
    // it would double rows on replay, so it is refused BEFORE any write
    val canon = s"$base/canonical"
    Dedup.embeddingBucketIndex(corpus, "id", "emb", 4, 3)
      .write.partitionBy("bucket").parquet(canon)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.embedStoreIngestBatch(spark, canon, s"$base/p1", 0L, batch,
        "id", "emb", 4, 3, 0.9)
    }
    assert(e1.getMessage.contains("ingest_batch"), e1.getMessage)
    // foreign geometry: seeded at planes=3, streamed at planes=2 — the
    // token gate fires before a row is written, and the store and pairs
    // trees are untouched
    val seeded = s"$base/seeded"
    Dedup.seedEmbedIngestStore(corpus, seeded, "id", "emb", 4, 3)
    val before = spark.read.parquet(seeded).count()
    val e2 = intercept[IllegalArgumentException] {
      Dedup.embedStoreIngestBatch(spark, seeded, s"$base/p2", 0L, batch,
        "id", "emb", 4, 2, 0.9)
    }
    assert(e2.getMessage.contains("emb_sig does not match"), e2.getMessage)
    assert(spark.read.parquet(seeded).count() == before,
      "refused batch still wrote store rows")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/p2")),
      "refused batch still wrote pairs")
    // ledger regression: a fresh checkpoint renumbers batches from 0, and
    // its dynamic overwrite would silently REPLACE committed ledger
    // slices with different rows — refused against the high-water mark
    // (replay of the LAST batch, id == max, stays legal and is pinned in
    // the replay test)
    Dedup.embedStoreIngestBatch(spark, seeded, s"$base/p3", 5L, batch,
      "id", "emb", 4, 3, 0.9)
    val e3 = intercept[IllegalArgumentException] {
      Dedup.embedStoreIngestBatch(spark, seeded, s"$base/p3", 1L, batch,
        "id", "emb", 4, 3, 0.9)
    }
    assert(e3.getMessage.contains("ledger regression"), e3.getMessage)
    // ledger COLLISION: the >= guard alone cannot catch a fresh
    // checkpoint whose renumbered batch lands EXACTLY on the high-water
    // mark (a store one batch old) — the commit marker + content
    // fingerprint must refuse different rows at the same id, while a
    // true replay (identical rows) stays legal
    val snapBefore = spark.read.parquet(seeded)
      .select(col("ingest_batch").cast("long"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val foreign = Seq(mk(60L, 98765L)).toDF("id", "emb")
    val e4 = intercept[IllegalArgumentException] {
      Dedup.embedStoreIngestBatch(spark, seeded, s"$base/p3", 5L, foreign,
        "id", "emb", 4, 3, 0.9)
    }
    assert(e4.getMessage.contains("ledger collision"), e4.getMessage)
    assert(spark.read.parquet(seeded)
        .select(col("ingest_batch").cast("long"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      == snapBefore, "refused collision still mutated the store")
    Dedup.embedStoreIngestBatch(spark, seeded, s"$base/p3", 5L, batch,
      "id", "emb", 4, 3, 0.9) // identical rows: a true replay stays legal
    // with the marker REMOVED the same id accepts different rows — the
    // heal-a-partial-slice path after a crash between write and marker
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$seeded/_ledger_commit_5"))
    Dedup.embedStoreIngestBatch(spark, seeded, s"$base/p3", 5L, foreign,
      "id", "emb", 4, 3, 0.9)
    assert(spark.read.parquet(seeded)
        .filter(col("ingest_batch") === 5L).select(col("id"))
        .collect().map(_.getLong(0)).contains(60L),
      "markerless re-apply did not land the batch")
    // an EMPTY mine must still leave pairsDir readable (a zero-partition
    // dynamic overwrite would commit no schema-bearing file, failing the
    // cold-start consumer's read.parquet)
    val lonely = s"$base/lonely"
    Dedup.seedEmbedIngestStore(corpus, lonely, "id", "emb", 4, 3)
    Dedup.embedStoreIngestBatch(spark, lonely, s"$base/p4", 0L,
      Seq(mk(80L, 424242L)).toDF("id", "emb"), "id", "emb", 4, 3, 0.9999)
    assert(spark.read.parquet(s"$base/p4").count() == 0,
      "pairsDir unreadable or non-empty after a zero-pair micro-batch")
    // the hamming face rides the same shared body: replay-idempotent too
    val fps = (1L to 30L).map(i => (i, 0x0123456789abcdefL ^ (1L << (i % 50))))
      .toDF("id", "fp")
    val hamStore = s"$base/ham"
    val hamPairs = s"$base/ham_pairs"
    Dedup.seedHammingIngestStore(fps, hamStore, "id", "fp",
      bits = 64, chunks = 4)
    val hb = Seq((100L, 0x0123456789abcdefL ^ (1L << 3)))
      .toDF("id", "fp")
    Dedup.hammingStoreIngestBatch(spark, hamStore, hamPairs, 0L, hb,
      "id", "fp", bits = 64, chunks = 4, maxHamming = 3)
    val hp = spark.read.parquet(hamPairs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(hp.nonEmpty, "hamming batch mined nothing")
    val hs = spark.read.parquet(hamStore).count()
    Dedup.hammingStoreIngestBatch(spark, hamStore, hamPairs, 0L, hb,
      "id", "fp", bits = 64, chunks = 4, maxHamming = 3)
    assert(spark.read.parquet(hamStore).count() == hs,
      "replayed hamming batch doubled store rows")
    assert(spark.read.parquet(hamPairs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == hp,
      "replayed hamming batch doubled pairs")
    // and the minhash face: same ledger, candidate pairs out
    val docs = (1L to 20L).map(i =>
      (i, s"the quick brown fox ${i} jumps over the lazy dog " * 3))
      .toDF("id", "text")
    val mhStore = s"$base/mh"
    val mhPairs = s"$base/mh_pairs"
    Dedup.seedMinhashIngestStore(docs, mhStore, "id", "text",
      k = 16, bands = 4, shingleN = 3)
    val mb = Seq((100L, "the quick brown fox 7 jumps over the lazy dog " * 3))
      .toDF("id", "text")
    Dedup.minhashStoreIngestBatch(spark, mhStore, mhPairs, 0L, mb,
      "id", "text", k = 16, bands = 4, shingleN = 3)
    val mp = spark.read.parquet(mhPairs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(mp.contains((7L, 100L)), s"planted twin not a candidate: $mp")
    val ms = spark.read.parquet(mhStore).count()
    Dedup.minhashStoreIngestBatch(spark, mhStore, mhPairs, 0L, mb,
      "id", "text", k = 16, bands = 4, shingleN = 3)
    assert(spark.read.parquet(mhStore).count() == ms,
      "replayed minhash batch doubled store rows")
    assert(spark.read.parquet(mhPairs)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == mp,
      "replayed minhash batch doubled pairs")
  }

  test("streaming store ingest: checkpoint restart continues the ledger; a fresh checkpoint is refused") {
    import spark.implicits._
    import graft.operators.Dedup
    import org.apache.spark.sql.streaming.Trigger
    // the production restart path, driven through the REAL engine: a
    // stopped query restarted from its OWN checkpoint resumes batch ids
    // past the store's high-water mark (monotonic, no overwrite), while
    // a restart with a FRESH checkpoint renumbers from 0 and must be
    // refused by the ledger-regression guard — as a query failure, not
    // a silent overwrite of committed slices
    val (dim, planes, thr) = (4, 3, 0.9)
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_restart").toString
    val mk = (id: Long, seed: Long, s: Double) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 7)) & 127) - 63.0) * s))
    val corpus = (1L to 8L).map(i => mk(i, i * 7919L, 1.0)).toDF("id", "emb")
    val storeDir = s"$base/store"
    val pairsDir = s"$base/pairs"
    Dedup.seedEmbedIngestStore(corpus, storeDir, "id", "emb", dim, planes)
    val inDir = s"$base/in"
    def runOnce(ck: String): Unit = {
      val stream = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = EventsStream.embedStoreIngest(stream, storeDir, pairsDir,
          "id", "emb", dim, planes, thr)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def ledger(): Seq[Long] = spark.read.parquet(storeDir)
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    // first life: two files -> batches 0, 1
    Seq(mk(100L, 3L * 7919L, 2.0)).toDF("id", "emb")
      .coalesce(1).write.mode("append").parquet(inDir)
    Seq(mk(200L, 5L * 7919L, 2.0)).toDF("id", "emb")
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce(s"$base/ck")
    assert(ledger() == Seq(-1L, 0L, 1L), s"first life ledger: ${ledger()}")
    // second life, SAME checkpoint: one new file -> batch 2, not 0
    Seq(mk(300L, 7L * 7919L, 2.0)).toDF("id", "emb")
      .coalesce(1).write.mode("append").parquet(inDir)
    runOnce(s"$base/ck")
    assert(ledger() == Seq(-1L, 0L, 1L, 2L),
      s"restart did not continue the ledger: ${ledger()}")
    // third life, FRESH checkpoint: renumbered batch 0 < high-water mark
    // 2 -> the guard fails the query instead of overwriting slice 0
    val before = spark.read.parquet(storeDir)
      .select(col("ingest_batch").cast("long"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(s"$base/ck_fresh")
    }
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).take(6)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("ledger regression"),
      s"fresh-checkpoint restart failed for the wrong reason: $chain")
    assert(spark.read.parquet(storeDir)
        .select(col("ingest_batch").cast("long"), col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == before,
      "the refused fresh-checkpoint run still mutated the store")
  }

  test("quantized point faces refuse multi-row query frames loudly") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Quantize}
    // the shared 1-row contract, completed across the class: every
    // global-orderBy point face must refuse a multi-row query instead of
    // silently blending all queries' candidates into one top-k
    val mk = (id: Long, seed: Long) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 5)) & 63) - 31.0)))
    val corpus = (1L to 30L).map(i => mk(i, i * 2654435761L)).toDF("id", "emb")
    val q2 = corpus.limit(2).select(col("emb").as("qe"))
    val cb = Quantize.pqFit(corpus, "emb", dim = 4, m = 2,
      nCentroids = 4, maxIter = 2)
    val model = AnnIndex.ivfFit(corpus, "emb", nLists = 4)
    val faces: Seq[(String, () => Any)] = Seq(
      "topK" -> (() => Quantize.topK(corpus, "emb", q2, k = 3)),
      "pqTopK" -> (() => Quantize.pqTopK(corpus, "emb", cb, q2, k = 3)),
      "ivfPqTopK" -> (() => Quantize.ivfPqTopK(model, corpus, "emb", cb,
        q2, k = 3, nProbe = 2)))
    faces.foreach { case (name, f) =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("ONE query row"), s"$name: ${e.getMessage}")
    }
  }

  test("streaming serving-store ingest (IVF/PQ): replay idempotent, parity with refresh") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Dedup, Quantize}
    // the APPEND-ONLY shape of the ledger contract: the serving stores
    // (IVF lists, PQ code table) have no mine — exactly-once is about the
    // store contents alone, asserted against the batch-cadence refresh
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_serve").toString
    val mk = (id: Long, seed: Long) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 5)) & 63) - 31.0)))
    val corpus = (1L to 40L).map(i => mk(i, i * 2654435761L)).toDF("id", "emb")
    val batch = (100L to 105L).map(i => mk(i, i * 40503L)).toDF("id", "emb")
    val model = AnnIndex.ivfFit(corpus, "emb", nLists = 4)
    val ivfDir = s"$base/ivf"
    AnnIndex.seedIvfIngestStore(model, corpus, "emb", ivfDir)
    AnnIndex.ivfStoreIngestBatch(spark, model, ivfDir, 0L, batch, "emb")
    val n0 = spark.read.parquet(ivfDir).count()
    AnnIndex.ivfStoreIngestBatch(spark, model, ivfDir, 0L, batch, "emb")
    assert(spark.read.parquet(ivfDir).count() == n0,
      "IVF replay doubled store rows")
    val ivfTwin = s"$base/ivf_twin"
    AnnIndex.ivfStore(model, corpus, "emb")
      .write.partitionBy("list_id").parquet(ivfTwin)
    AnnIndex.ivfRefresh(spark, model, ivfTwin, batch, "emb")
    val q = Seq(Tuple1(mk(0L, 7L * 2654435761L)._2)).toDF("qe")
    def ivfServe(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      AnnIndex.ivfTopKAssigned(model, df, "emb", q, "qe",
          k = 5, nProbe = 2, tieBreak = Seq("id"))
        .select(col("id")).collect().map(_.getLong(0)).toSeq
    val served = ivfServe(spark.read.parquet(ivfDir).drop("ingest_batch"))
    assert(served == ivfServe(spark.read.parquet(ivfTwin)),
      "IVF serving diverged between the streamed and refresh-path stores")
    assert(served.nonEmpty, "IVF serve went vacuous")
    // a canonical (ledger-less) IVF store is refused, like every face
    val e = intercept[IllegalArgumentException] {
      AnnIndex.ivfStoreIngestBatch(spark, model, ivfTwin, 1L, batch, "emb")
    }
    assert(e.getMessage.contains("ingest_batch"), e.getMessage)
    // the point face's documented 1-row contract is LOUD, not silent: a
    // multi-row query frame must refuse instead of blending every
    // query's probes and candidates into one global top-k
    val eq = intercept[IllegalArgumentException] {
      AnnIndex.ivfTopKAssigned(model, spark.read.parquet(ivfTwin), "emb",
        corpus.limit(2).select(col("emb").as("qe")), "qe",
        k = 5, nProbe = 2)
    }
    assert(eq.getMessage.contains("ONE query row"), eq.getMessage)
    // PQ: the flat-layout twin — ledger is the only partition level
    val cb = Quantize.pqFit(corpus, "emb", dim = 4, m = 2,
      nCentroids = 4, maxIter = 2)
    val pqDir = s"$base/pq"
    Quantize.seedPqIngestStore(corpus, "emb", cb, pqDir)
    Quantize.pqStoreIngestBatch(spark, cb, pqDir, 0L, batch, "emb")
    val p0 = spark.read.parquet(pqDir).count()
    Quantize.pqStoreIngestBatch(spark, cb, pqDir, 0L, batch, "emb")
    assert(spark.read.parquet(pqDir).count() == p0,
      "PQ replay doubled store rows")
    val pqTwin = s"$base/pq_twin"
    Quantize.pqEncode(corpus, "emb", cb).write.parquet(pqTwin)
    Quantize.pqRefresh(spark, cb, pqTwin, batch, "emb")
    val a = spark.read.parquet(pqDir).drop("ingest_batch")
    val b = spark.read.parquet(pqTwin)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "PQ store contents diverged from the refresh path")
    assert(b.count() == p0, "PQ twin row count diverged")
  }

  test("streaming store ingest end-to-end equals the batch-cadence refresh") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val (dim, planes, thr) = (4, 3, 0.9)
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_e2e").toString
    val mk = (id: Long, seed: Long, s: Double) =>
      Tuple2(id, Seq.tabulate(4)(j => (((seed >> (j * 7)) & 127) - 63.0) * s))
    val corpus = (1L to 8L).map(i => mk(i, i * 7919L, 1.0)).toDF("id", "emb")
    val storeDir = s"$base/store"
    val pairsDir = s"$base/pairs"
    Dedup.seedEmbedIngestStore(corpus, storeDir, "id", "emb", dim, planes)
    val batches = Seq(
      Seq(mk(100L, 3L * 7919L, 2.0), mk(101L, 777777L, 1.0)),
      Seq(mk(200L, 3L * 7919L, 3.0), mk(201L, 5L * 7919L, 2.0)))
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = EventsStream.embedStoreIngest(mem.toDF().toDF("id", "emb"),
        storeDir, pairsDir, "id", "emb", dim, planes, thr)
      .option("checkpointLocation", s"$base/ck")
      .start()
    try {
      // one addData + processAllAvailable per planned batch = one
      // micro-batch each, so the ledger records two distinct batch ids
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val ledger = spark.read.parquet(storeDir)
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ledger == Seq(-1L, 0L, 1L), s"ledger: $ledger")
    // twin: the batch-cadence path over the same batches in ledger order
    val twinDir = s"$base/twin"
    Dedup.embeddingBucketIndex(corpus, "id", "emb", dim, planes)
      .write.partitionBy("bucket").parquet(twinDir)
    val twinPairs = batches.zipWithIndex.map { case (b, i) =>
      val bdf = b.toDF("id", "emb")
      val inc = Dedup.embeddingIncrementalPairs(bdf,
          spark.read.parquet(twinDir), "id", "emb", dim, planes, thr)
        .localCheckpoint()
      val got = inc.select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Dedup.embeddingIndexRefresh(spark, twinDir, bdf, "id", "emb",
        dim, planes)
      i.toLong -> got
    }.toMap
    assert(twinPairs.values.forall(_.nonEmpty),
      "twin mined nothing — fixture went vacuous")
    val gotPairs = spark.read.parquet(pairsDir)
      .select(col("ingest_batch").cast("long"), col("a_id"), col("b_id"))
      .collect().groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    assert(gotPairs == twinPairs,
      s"streamed mines diverged from the batch cadence: $gotPairs vs $twinPairs")
    // the stores hold identical index rows (ledger aside)
    def rows(dir: String, drop: Seq[String]) = spark.read.parquet(dir)
      .drop(drop: _*)
      .select(col("id"), col("bucket").cast("long"), col("emb_sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(rows(storeDir, Seq("ingest_batch")) == rows(twinDir, Nil),
      "streamed store diverged from the refresh-path store")
  }

  test("streaming serve faces (ANN/IVF): exactly-once result slices, parity with batch join") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.{AnnIndex, Dedup}
    val base = java.nio.file.Files
      .createTempDirectory("graft_serve_stream").toString
    val (dim, planes) = (4, 3)
    val mk = (id: Long, seed: Long) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 5)) & 63) - 31.0)))
    val corpus = (1L to 40L).map(i => mk(i, i * 2654435761L)).toDF("id", "emb")
    val storeDir = s"$base/store"
    Dedup.embeddingBucketIndex(corpus, "id", "emb", dim, planes)
      .write.partitionBy("bucket").parquet(storeDir)
    val store = spark.read.parquet(storeDir)
    val batchDefs = (1 to 2).map { b =>
      (100L * b to 100L * b + 4L).map(i => mk(i, i * 40503L)).toDF("qid", "qe")
    }
    val allQueries = batchDefs.reduce(_ unionByName _)
    val inDir = s"$base/in"
    batchDefs.foreach(_.coalesce(1).write.mode("append").parquet(inDir))
    val outDir = s"$base/out"
    val q = EventsStream.annServeStream(
        spark.readStream.schema(batchDefs.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "qid", "qe", store, dim, planes, k = 3, outDir)
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def resRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select(col("query_id"), col("neighbor_id"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val outAll = spark.read.parquet(outDir)
    assert(outAll.select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet == Set(0L, 1L),
      "serve sink ledger incomplete")
    val before = resRows(outAll)
    assert(before.nonEmpty, "streamed serve went vacuous")
    // per-query top-k is independent per query, so the union of the
    // exactly-once slices must equal the one-shot batch join
    assert(before == resRows(AnnIndex.annJoinIndexed(
        allQueries, "qid", "qe", store, dim, planes, 3)),
      "streamed serve slices diverged from the one-shot batch join")
    // slice -> source batch by query_id set (listing order not assumed)
    def batchFor(b: Long): org.apache.spark.sql.DataFrame = {
      val ids = spark.read.parquet(s"$outDir/ingest_batch=$b")
        .select(col("query_id")).distinct().collect()
        .map(_.getLong(0)).toSet
      val hits = batchDefs.filter(d =>
        d.select(col("qid")).collect().map(_.getLong(0)).toSet == ids)
      assert(hits.size == 1, s"slice $b matches ${hits.size} batches")
      hits.head
    }
    // crash-replay of the LAST batch: byte-identical results, no change
    val res1 = AnnIndex.annJoinIndexed(batchFor(1L), "qid", "qe",
      store, dim, planes, 3)
    EventsStream.serveSinkBatch(spark, outDir, 1L, res1, "test")
    assert(resRows(spark.read.parquet(outDir)) == before,
      "replaying the last serve batch changed the sink")
    // a renumbered foreign batch landing ON the high-water mark is a
    // ledger collision, refused before a row moves
    val e1 = intercept[IllegalArgumentException] {
      EventsStream.serveSinkBatch(spark, outDir, 1L,
        res1.withColumn("neighbor_id", col("neighbor_id") + 1000L), "test")
    }
    assert(e1.getMessage.contains("ledger collision"), e1.getMessage)
    // a batch id below the high-water mark is a ledger regression
    val e2 = intercept[IllegalArgumentException] {
      EventsStream.serveSinkBatch(spark, outDir, 0L, res1, "test")
    }
    assert(e2.getMessage.contains("ledger regression"), e2.getMessage)
    // an empty batch still lands a schema-bearing zero-row slice
    EventsStream.serveSinkBatch(spark, outDir, 2L, res1.limit(0), "test")
    assert(spark.read.parquet(s"$outDir/ingest_batch=2").count() == 0,
      "empty serve slice not readable")
    assert(resRows(spark.read.parquet(outDir)) == before,
      "empty slice changed the result rows")
    // IVF face: routed probes from the persisted list store, same ledger
    val model = AnnIndex.ivfFit(corpus, "emb", nLists = 4)
    val ivfDir = s"$base/ivf"
    AnnIndex.ivfStore(model, corpus, "emb")
      .write.partitionBy("list_id").parquet(ivfDir)
    val ivfStore = spark.read.parquet(ivfDir)
    val outIvf = s"$base/out_ivf"
    val q2 = EventsStream.ivfServeStream(
        spark.readStream.schema(batchDefs.head.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "qid", "qe", model, ivfStore, "id", "emb",
        k = 3, nProbe = 4, outDir = outIvf)
      .option("checkpointLocation", s"$base/ck_ivf")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val ivfGot = resRows(spark.read.parquet(outIvf))
    assert(ivfGot.nonEmpty, "IVF streamed serve went vacuous")
    assert(ivfGot == resRows(AnnIndex.ivfJoinIndexed(
        allQueries, "qid", "qe", model, ivfStore, "id", "emb",
        k = 3, nProbe = 4)),
      "IVF streamed serve diverged from the one-shot batch join")
    // the marker-aware high-water mark (ADVICE r12): delete slices 1 and
    // 2 — their commit markers survive — and the mark must still hold at
    // 2. A slices-only mark would renormalize down to 0 and let a
    // renumbered foreign batch land on COMMITTED id 1 with no content
    // check at all (the fingerprint compare used to fire only at
    // batchId == maxLedger); folding markers into the mark refuses every
    // id below the surviving top marker.
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/ingest_batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/ingest_batch=2"), true)
    val eMark = intercept[IllegalArgumentException] {
      EventsStream.serveSinkBatch(spark, outDir, 1L,
        res1.withColumn("neighbor_id", col("neighbor_id") + 5000L), "test")
    }
    assert(eMark.getMessage.contains("ledger regression"), eMark.getMessage)
    // while a TRUE replay of the top deleted slice's own id heals it by
    // whole-slice overwrite (the Overwrite crash window: marker present,
    // slice missing — nothing to fingerprint against)
    EventsStream.serveSinkBatch(spark, outDir, 2L, res1.limit(0), "test")
    assert(spark.read.parquet(s"$outDir/ingest_batch=2").count() == 0,
      "healed slice not readable")
    graft.sources.Maintenance.deleteLocalTree(spark, base)
  }

  test("ledgerAudit refuses to enumerate an absurd gap census") {
    // the OOM hole (ADVICE r12): a grafted foreign directory with a huge
    // id — exactly the anomaly the audit exists to surface — used to
    // materialize (0..max) driver-side. The interval walk computes the
    // count arithmetically first and refuses loudly instead of building
    // a billion-row frame (the directory listing is the useful evidence
    // at that point).
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft_audit_refuse").toString
    val out = s"$base/sink"
    val res = Seq((1L, 11L, 0.5, 1)).toDF(
      "query_id", "neighbor_id", "similarity", "rank")
    EventsStream.serveSinkBatch(spark, out, 0L, res, "t")
    res.write.parquet(s"$out/ingest_batch=9999999999")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Maintenance.ledgerAudit(spark, out).collect()
    }
    assert(e.getMessage.contains("refusing to enumerate"), e.getMessage)
    graft.sources.Maintenance.deleteLocalTree(spark, base)
  }

  test("batch refresh refuses ledgered stores; legacy point faces carry the loud query contract") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Dedup}
    val base = java.nio.file.Files
      .createTempDirectory("graft_refresh_guard").toString
    val mk = (id: Long, seed: Long) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 5)) & 63) - 31.0)))
    val corpus = (1L to 20L).map(i => mk(i, i * 2654435761L)).toDF("id", "emb")
    val batch = (100L to 102L).map(i => mk(i, i * 40503L)).toDF("id", "emb")
    // a STREAMING (ledgered) store fed through a batch refresh would get
    // bucket=N/ dirs written next to ingest_batch=M/bucket=N/ and corrupt
    // partition discovery — refused loudly BEFORE a row lands, for both
    // the mining and the serving families
    val embDir = s"$base/emb"
    Dedup.seedEmbedIngestStore(corpus, embDir, "id", "emb", 4, 3)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.embeddingIndexRefresh(spark, embDir, batch, "id", "emb", 4, 3)
    }
    assert(e1.getMessage.contains("ingest_batch replay ledger"), e1.getMessage)
    val model = AnnIndex.ivfFit(corpus, "emb", nLists = 2)
    val ivfDir = s"$base/ivf"
    AnnIndex.seedIvfIngestStore(model, corpus, "emb", ivfDir)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.ivfRefresh(spark, model, ivfDir, batch, "emb")
    }
    assert(e2.getMessage.contains("ingest_batch replay ledger"), e2.getMessage)
    // the LEGACY point faces now share the loud 1-row contract: a
    // multi-row frame refused (a global orderBy+limit would blend every
    // query's candidates), a NULL embedding refused (it hashes to no
    // bucket — silent empty), instead of the documented-only contract
    val e3 = intercept[IllegalArgumentException] {
      AnnIndex.annTopK(corpus, "emb", 4, 3,
        corpus.limit(2).select(col("emb").as("qe")), "qe", k = 3)
    }
    assert(e3.getMessage.contains("ONE query row"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException] {
      AnnIndex.annTopK(corpus, "emb", 4, 3,
        Seq(Tuple1(null.asInstanceOf[Array[Double]])).toDF("qe"), "qe", k = 3)
    }
    assert(e4.getMessage.contains("NULL"), e4.getMessage)
    // the natural call against a persisted store — query column named
    // like the store's own embedding column — must serve, not throw
    // AMBIGUOUS_REFERENCE
    val q = corpus.filter(col("id") === 1L).select(col("emb"))
    val legacyHits = AnnIndex.annTopK(corpus, "emb", 4, 3, q, "emb",
        k = 2, tieBreak = Seq("id"))
      .select(col("id")).collect().map(_.getLong(0))
    assert(legacyHits.nonEmpty, "same-name query col served nothing")
    val ivfHits = AnnIndex.ivfTopK(model, corpus, "emb", q, "emb",
        k = 2, nProbe = 2, tieBreak = Seq("id"))
      .select(col("id")).collect().map(_.getLong(0))
    assert(ivfHits.nonEmpty, "same-name IVF query col served nothing")
    // a SHORT (truncated) embedding is a dirty row: null bucket, job
    // survives — not an ArrayIndexOutOfBounds abort
    val dirty = corpus.unionByName(
      Seq((999L, Array(1.0, 2.0))).toDF("id", "emb"))
    val buckets = AnnIndex.withBucket(dirty, "emb", 4, 3)
      .filter(col("id") === 999L).select(col("bucket")).collect()
    assert(buckets.length == 1 && buckets(0).isNullAt(0),
      "short embedding did not map to a null bucket")
    // sig packing range is guarded: dim past the field width would let
    // the legacy and wide keyspaces collide
    val e5 = intercept[IllegalArgumentException] {
      AnnIndex.wideStoreSig(100000, 3)
    }
    assert(e5.getMessage.contains("packing range"), e5.getMessage)
    graft.sources.Maintenance.deleteLocalTree(spark, base)
  }

  test("quantized faces: dim contracts loud, residual face refuses coded frames, tuning guards its query") {
    import spark.implicits._
    import graft.operators.{AnnIndex, Quantize}
    val mk = (id: Long, seed: Long) =>
      (id, Array.tabulate(4)(j => (((seed >> (j * 5)) & 63) - 31.0)))
    val corpus = (1L to 30L).map(i => mk(i, i * 2654435761L)).toDF("id", "emb")
    val cb = Quantize.pqFit(corpus, "emb", dim = 4, m = 2,
      nCentroids = 4, maxIter = 2)
    // a mismatched corpus/codebook pairing must refuse loudly, not
    // silently encode a prefix (recall collapse) or die with a bare
    // AIOOBE on a short row
    val wide = (1L to 5L)
      .map(i => (i, Array.tabulate(8)(_.toDouble))).toDF("id", "emb")
    val e1 = intercept[Exception] {
      Quantize.pqEncode(wide, "emb", cb).collect()
    }
    assert(e1.getMessage.contains("does not match the codebooks"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      Quantize.pqTopK(corpus, "emb", cb,
        wide.limit(1).select(col("emb").as("qe")), k = 3).collect()
    }
    assert(e2.getMessage.contains("does not match the codebooks"),
      e2.getMessage)
    // the RESIDUAL face must refuse a PQ-coded frame: raw codes would
    // pass the sig check and double-count the centroid component
    val model = AnnIndex.ivfFit(corpus, "emb", nLists = 2)
    val coded = Quantize.pqEncode(corpus, "emb", cb)
    val q1 = corpus.limit(1).select(col("emb").as("qe"))
    val e3 = intercept[IllegalArgumentException] {
      Quantize.ivfPqTopK(model, coded, "emb", cb, q1, k = 3, nProbe = 2)
    }
    assert(e3.getMessage.contains("RAW embeddings"), e3.getMessage)
    // the IVFPQ sweep carries the shared loud 1-row contract
    val e4 = intercept[IllegalArgumentException] {
      Quantize.ivfPqTuning(model, corpus, "emb", "id", corpus,
        corpus.limit(2).select(col("emb").as("qe")),
        k = 3, dim = 4, ms = Seq(2), overFetches = Seq(1))
    }
    assert(e4.getMessage.contains("ONE query row"), e4.getMessage)
    // unroutable rows (null / null-element embeddings) drop at IVF
    // assignment instead of NPE-ing the job in the model udf
    val dirty = corpus.unionByName(Seq(
        (100L, null.asInstanceOf[Array[Double]])).toDF("id", "emb"))
      .unionByName(Seq((101L, Array[java.lang.Double](1.0, null, 2.0, 3.0)))
        .toDF("id", "emb").select(col("id"), col("emb").cast("array<double>")))
    val assigned = AnnIndex.ivfAssign(model, dirty, "emb")
    assert(assigned.count() == 30 &&
        assigned.filter(col("id") >= 100L).isEmpty,
      "dirty embeddings were not dropped at IVF assignment")
  }

  test("multimodal decoders refuse overflow-crafted headers loudly") {
    import graft.operators.Multimodal
    // BMP with a declared width near 2^31/3: 3*w wrapped NEGATIVE in Int,
    // the truncation require passed (RHS negative), the pixel loop never
    // ran, and decode returned a silent content_sum=0 MediaMeta
    def le(v: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
    val bmp = new Array[Byte](64)
    bmp(0) = 'B'; bmp(1) = 'M'
    System.arraycopy(le(54, 4), 0, bmp, 10, 4)        // dataOff
    System.arraycopy(le(715827883L, 4), 0, bmp, 18, 4) // width
    System.arraycopy(le(1, 4), 0, bmp, 22, 4)          // height
    System.arraycopy(le(24, 2), 0, bmp, 28, 2)         // bpp
    val e1 = intercept[IllegalArgumentException](Multimodal.decodeMeta(bmp))
    assert(e1.getMessage.contains("truncated pixel payload"), e1.getMessage)
    val e1b = intercept[IllegalArgumentException](
      Multimodal.weightedPixelSum(bmp))
    assert(e1b.getMessage.contains("truncated pixel payload"), e1b.getMessage)
    val e1c = intercept[IllegalArgumentException](
      Multimodal.resizeBmp(bmp, 4, 4))
    assert(e1c.getMessage.contains("truncated pixel payload"), e1c.getMessage)
    // zero-width BMP must refuse at resize, not fabricate an image from
    // header bytes
    val z = Multimodal.encodeBmp(4, 4, 1L)
    System.arraycopy(le(0, 4), 0, z, 18, 4)
    val e2 = intercept[IllegalArgumentException](Multimodal.resizeBmp(z, 2, 2))
    assert(e2.getMessage.contains("bad BMP dims"), e2.getMessage)
    // PPM with 3*w*h past Int: the payload check wrapped and the decode
    // returned silent zeros
    val ppm = ("P6\n32768 32768\n255\n").getBytes("US-ASCII") ++
      new Array[Byte](64)
    val e3 = intercept[IllegalArgumentException](Multimodal.decodeMeta(ppm))
    assert(e3.getMessage.contains("truncated pixel payload"), e3.getMessage)
    // Y4M with H near 2^31/4: frameBytes wrapped to exactly -64 and the
    // frame walk advanced ZERO bytes per iteration — an executor task
    // hanging forever, which no null-on-error wrapper catches
    val y4m = ("YUV4MPEG2 W4 H715827872 F25:1 C420\n" +
      "FRAME" + ("x" * 58) + "\n").getBytes("US-ASCII") ++ new Array[Byte](32)
    val e4 = intercept[IllegalArgumentException](Multimodal.videoMeta(y4m))
    assert(e4.getMessage.contains("out of range"), e4.getMessage)
    // WAV whose fmt chunk declares size 4: the format fields would be
    // read from the NEXT chunk's bytes (garbage sample rate) instead of
    // the clean reject
    val wav = Multimodal.encodeWav(1, 8000, 1L)
    System.arraycopy(le(4, 4), 0, wav, 16, 4) // fmt chunk size -> 4
    val e5 = intercept[IllegalArgumentException](Multimodal.decodeMeta(wav))
    assert(e5.getMessage.contains("fmt chunk"), e5.getMessage)
  }

  test("fingerprint SAFE udfs: config errors fail loudly, only data errors map to null") {
    import spark.implicits._
    import graft.operators.Multimodal
    val rows = Seq((1L, Multimodal.encodeY4m(8, 8, 2, 1L)))
      .toDF("id", "content")
    // a corrupt blob nulls (data error)...
    val dirty = Seq((2L, Array[Byte](1, 2, 3))).toDF("id", "content")
    val viaSafe = dirty.select(
      Multimodal.videoFingerprintSafeUdf(col("content"), lit(2)).as("fp"))
    assert(viaSafe.head().isNullAt(0), "corrupt blob did not map to null")
    // ...but a misconfigured stride must fail the QUERY, not silently
    // null 100% of rows (indistinguishable from total corruption)
    val e = intercept[Exception] {
      rows.select(Multimodal.videoFingerprintSafeUdf(col("content"), lit(0)))
        .collect()
    }
    assert(e.getMessage != null &&
        (e.getMessage.contains("configuration error") ||
         Option(e.getCause).exists(_.getMessage.contains("configuration error"))),
      s"stride=0 did not fail loudly: ${e.getMessage}")
  }

  test("ledgerAudit: per-slice census with gap and missing-marker findings") {
    import spark.implicits._
    import graft.sources.Maintenance
    val base = java.nio.file.Files
      .createTempDirectory("graft_ledger_audit").toString
    val out = s"$base/sink"
    def res(n: Int) = (1 to n)
      .map(i => (i.toLong, i.toLong + 10, 0.5, i)).toDF(
        "query_id", "neighbor_id", "similarity", "rank")
    EventsStream.serveSinkBatch(spark, out, 0L, res(3), "t")
    EventsStream.serveSinkBatch(spark, out, 1L, res(2), "t")
    EventsStream.serveSinkBatch(spark, out, 2L, res(1).limit(0), "t")
    def audit(): Seq[(Long, Long, Long, String)] =
      Maintenance.ledgerAudit(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
    val healthy = audit()
    assert(healthy.map(t => (t._1, t._2, t._4)) ==
        Seq((0L, 3L, "ok"), (1L, 2L, "ok"), (2L, 0L, "ok")),
      s"healthy sink misreported: $healthy")
    assert(healthy.forall(_._3 >= 1L),
      "every slice (incl. the empty one) should carry >= 1 file")
    // deleting the HIGHEST committed slice must still page: its marker
    // survives, so the high-water mark (max of slices AND markers) keeps
    // id 2 in range instead of silently renormalizing the ledger down
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/ingest_batch=2"), true)
    val topGone = audit()
    assert(topGone.map(t => (t._1, t._4)) ==
        Seq((0L, "ok"), (1L, "ok"), (2L, "gap")),
      s"highest-slice deletion not reported as a gap: $topGone")
    // re-land slice 2 (a true replay: same empty content at its id)
    EventsStream.serveSinkBatch(spark, out, 2L, res(1).limit(0), "t")
    // a deleted committed slice mid-ledger is a GAP — the silent-loss
    // finding — and a missing marker on a surviving slice is UNMARKED
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/ingest_batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_ledger_commit_1"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/_ledger_commit_2"), false)
    val found = audit()
    assert(found.map(t => (t._1, t._2, t._4)) ==
        Seq((0L, 3L, "ok"), (1L, 0L, "gap"), (2L, 0L, "unmarked")),
      s"audit missed the planted findings: $found")
    // a markerless layout (the mining writers' pairs directories) audits
    // clean under expectMarkers = false — gap detection still applies
    val pairsDir = s"$base/pairs"
    res(2).write.parquet(s"$pairsDir/ingest_batch=0")
    res(1).write.parquet(s"$pairsDir/ingest_batch=1")
    val pairsAudit = Maintenance.ledgerAudit(spark, pairsDir,
        expectMarkers = false)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(pairsAudit == Seq((0L, "ok"), (1L, "ok")),
      s"markerless pairs layout misreported: $pairsAudit")
    // a store seeded at -1 audits ok without a seed marker, and a
    // non-ledgered (graduated/plain) directory is refused loudly
    val storeDir = s"$base/store"
    res(2).withColumn("ingest_batch", lit(-1L))
      .write.partitionBy("ingest_batch").parquet(storeDir)
    val seeded = Maintenance.ledgerAudit(spark, storeDir)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(seeded == Seq((-1L, "ok")), s"seed-only store misread: $seeded")
    val plainDir = s"$base/plain"
    res(2).write.parquet(plainDir)
    val e = intercept[IllegalArgumentException](
      Maintenance.ledgerAudit(spark, plainDir))
    assert(e.getMessage.contains("not a ledgered"), e.getMessage)
    Maintenance.deleteLocalTree(spark, base)
  }

  test("tokenizer path kernels: viterbi beats greedy, ties prefer length, dead ends route around, stuck walks stop") {
    // r14: q_wordpiece / q_unigram_tokenizer / q_unigram_train segment in
    // these compiled kernels; the DuckDB oracles keep the relational
    // forms (recursive-CTE walk / unrolled Bellman), so the oracle gate
    // is the end-to-end parity. These cases pin the kernel-internal
    // semantics the relational forms encode, each hand-computed.
    def uni(w: String, v: (String, Long)*): Seq[String] = {
      val sorted = v.sortBy(_._1)
      TextSig.unigramPathPieces(w, sorted.map(_._1).toArray,
        sorted.map(_._2).toArray, 4).toSeq
    }
    // global max-likelihood differs from greedy longest-match:
    // ab+c = -9, a+bc = -7 -> viterbi takes a+bc, wordpiece takes ab+c
    assert(uni("abc", "a" -> -5L, "ab" -> -1L, "c" -> -8L, "bc" -> -2L) ==
      Seq("a", "bc"))
    assert(TextSig.wordpiecePieces("abc",
      Array("a", "ab", "bc", "c"), 4).toSeq == Seq("ab", "c"))
    // score tie (aa = -4, a+a = -4): argmax tie-break is length DESC
    assert(uni("aa", "a" -> -2L, "aa" -> -4L) == Seq("aa"))
    // a cheap piece leading into an unreachable suffix loses to an
    // expensive piece that completes: no 'x' in vocab, so a|xb is dead
    // and ax|b is the only path, regardless of lp(a) > lp(ax)
    assert(uni("axb", "a" -> -1L, "ax" -> -50L, "b" -> -1L) ==
      Seq("ax", "b"))
    // no path at all: position 0 has no chosen step, walk emits nothing
    // (the relational reach seed inner-joins chosen and drops the word)
    assert(uni("ay", "a" -> -1L) == Seq.empty)
    // wordpiece stuck mid-walk: emits the prefix steps, then stops
    assert(TextSig.wordpiecePieces("ayb", Array("a", "b"), 4).toSeq ==
      Seq("a"))
    // maxPiece bounds the match: "abcd" in vocab but maxPiece = 2
    assert(TextSig.wordpiecePieces("abcd",
      Array("ab", "abcd", "cd"), 2).toSeq == Seq("ab", "cd"))
    // corpus-shaped invariant: with every char in vocab the pieces
    // concatenate back to the word, for both kernels
    val words = Seq("window", "group", "hash", "the", "fast", "a")
    val chars = words.flatMap(_.toCharArray.map(_.toString)).distinct.sorted
    val lps = chars.map(c => -10L - c.hashCode % 7)
    for (w <- words) {
      assert(TextSig.wordpiecePieces(w, chars.toArray, 4).mkString == w)
      assert(TextSig.unigramPathPieces(w, chars.toArray, lps.toArray, 4)
        .mkString == w)
    }
  }
}
