package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextSig
import graft.plans.HaversineKm

/** Property tests for the pure kernels (no Spark session needed).
  * Seeded sampling (no scalatest-scalacheck bridge in the offline cache). */
class PropertiesSpec extends AnyFunSuite {

  val rnd = new scala.util.Random(42)
  val vocab = Array("the", "fast", "key", "order", "sort", "table", "scan",
    "merge", "part", "window", "small", "hash", "join", "spark", "group")
  def sampleText(): String =
    Array.fill(1 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  def sampleLat(): Double = rnd.nextDouble() * 178 - 89
  def sampleLon(): Double = rnd.nextDouble() * 358 - 179
  def forAllSamples(n: Int)(body: => Unit): Unit = (1 to n).foreach(_ => body)

  test("haversine: symmetric, non-negative, zero at identity, bounded by half circumference") {
    forAllSamples(200) {
      val (la1, lo1, la2, lo2) = (sampleLat(), sampleLon(), sampleLat(), sampleLon())
      val d12 = HaversineKm.compute(la1, lo1, la2, lo2)
      val d21 = HaversineKm.compute(la2, lo2, la1, lo1)
      assert(math.abs(d12 - d21) < 1e-9)
      assert(d12 >= 0.0 && d12 <= math.Pi * 6371.0 + 1e-6)
      assert(HaversineKm.compute(la1, lo1, la1, lo1) == 0.0)
    }
  }

  test("token hashes: in range [0, P), deterministic") {
    forAllSamples(100) {
      val t = sampleText()
      TextSig.tokens(t).foreach { tok =>
        val h = TextSig.tokenHash(tok)
        assert(h >= 0 && h < TextSig.P)
        assert(h == TextSig.tokenHash(tok))
      }
    }
  }

  test("minhash: appending text never increases any signature value") {
    // appending tokens preserves every existing 3-gram shingle and adds new
    // ones, so the shingle set grows and each per-hash minimum can only
    // drop — the monotonicity LSH banding relies on. Holds only once the
    // base text has >= 3 tokens (shorter docs have a partial shingle that
    // vanishes when real 3-grams appear).
    forAllSamples(150) {
      val (a, b) = (sampleText() + " extra pad tokens", sampleText())
      val sa = TextSig.minhashSig(a, 3, 16)
      val sab = TextSig.minhashSig(a + " " + b, 3, 16)
      sa.zip(sab).foreach { case (x, y) => assert(y <= x) }
    }
  }

  test("simhash: deterministic, 60-bit, identical text -> hamming 0") {
    forAllSamples(100) {
      val t = sampleText()
      val s = TextSig.simhash60(t, 3)
      assert(s >= 0 && s < (1L << 60))
      assert(java.lang.Long.bitCount(s ^ TextSig.simhash60(t, 3)) == 0)
    }
  }

  test("bounding box strictly over-covers the haversine radius") {
    // any point within radiusKm of the center must fall inside the box —
    // under-coverage silently drops in-radius rows at the scan. Sample
    // points ON the radius circle at all bearings, where clipping happens.
    forAllSamples(600) {
      // half the samples roam the full globe, half concentrate near the
      // poles where the lon window degenerates (|center|+dLat >= 89 -> the
      // predicate must drop to lat-only; ADVICE r01 caught that the old
      // clamped-cosine window silently under-covered there)
      val cLat =
        if (rnd.nextBoolean()) rnd.nextDouble() * 180 - 90
        else (rnd.nextDouble() * 6 + 84) * (if (rnd.nextBoolean()) 1 else -1)
      val cLon = rnd.nextDouble() * 340 - 170
      val r = 1.0 + rnd.nextDouble() * 499.0 // 1..500 km
      val (dLat, dLonOpt) = graft.functions.geo.bboxDeltas(cLat, r)
      val bearing = rnd.nextDouble() * 2 * math.Pi
      // destination point via spherical law (R as in haversine kernel)
      val ang = r / 6371.0
      val la1 = math.toRadians(cLat)
      val la2 = math.asin(math.sin(la1) * math.cos(ang) +
        math.cos(la1) * math.sin(ang) * math.cos(bearing))
      val lo2 = math.toRadians(cLon) + math.atan2(
        math.sin(bearing) * math.sin(ang) * math.cos(la1),
        math.cos(ang) - math.sin(la1) * math.sin(la2))
      val (pLat, pLon) = (math.toDegrees(la2), math.toDegrees(lo2))
      val d = HaversineKm.compute(cLat, cLon, pLat, pLon)
      if (d <= r) { // guard numeric noise on the circle
        assert(pLat >= cLat - dLat - 1e-9 && pLat <= cLat + dLat + 1e-9,
          s"lat clipped: center=($cLat,$cLon) r=$r point=($pLat,$pLon)")
        dLonOpt match {
          case None =>
            // lon prune disabled — must only happen when the band truly
            // reaches within 1 deg of a pole
            assert(math.abs(cLat) + dLat >= 89.0,
              s"lon window dropped away from the poles: center=$cLat r=$r")
          case Some(dLon) =>
            assert(pLon >= cLon - dLon - 1e-9 && pLon <= cLon + dLon + 1e-9,
              s"lon clipped: center=($cLat,$cLon) r=$r point=($pLat,$pLon) dLon=$dLon")
        }
      }
    }
  }

  test("int8 quantizer: codes in range, per-element error <= scale/2, deterministic") {
    import graft.operators.Quantize
    forAllSamples(200) {
      val v = Array.fill(1 + rnd.nextInt(64))(rnd.nextDouble() * 2 - 1)
      val (codes, scale) = Quantize.encode(v)
      assert(codes.length == v.length)
      assert(codes.forall(c => c >= -127 && c <= 127))
      // reconstruction error of round-to-nearest is half a quantization step
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-12,
          s"err ${math.abs(x - c * scale)} > ${scale / 2}")
      }
      val (again, s2) = Quantize.encode(v)
      assert(again.toSeq == codes.toSeq && s2 == scale)
    }
    // zero vector: all-zero codes, zero scale
    val (zc, zs) = Quantize.encode(Array(0.0, 0.0))
    assert(zc.forall(_ == 0) && zs == 0.0)
  }

  test("vector kernels: cosine bounded and argument-symmetric, zero norm -> 0") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.plans.VectorKernels
    forAllSamples(200) {
      val n = 1 + rnd.nextInt(64)
      val a = new GenericArrayData(Array.fill(n)(rnd.nextDouble() * 2 - 1))
      val b = new GenericArrayData(Array.fill(n)(rnd.nextDouble() * 2 - 1))
      val c = VectorKernels.cosine(a, b)
      assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12)
      // per-term products commute and fold in the same order — bit equality
      assert(c == VectorKernels.cosine(b, a))
      assert(VectorKernels.dot(a, b) == VectorKernels.dot(b, a))
    }
    val z = new GenericArrayData(Array.fill(8)(0.0))
    val v = new GenericArrayData(Array.fill(8)(1.0))
    assert(VectorKernels.cosine(z, v) == 0.0) // embeddings.py:130-131 contract
  }

  test("shingle hashes: distinct, and |shingles| <= max(|tokens|-2, 1)") {
    forAllSamples(100) {
      val t = sampleText()
      val hs = TextSig.shingleHashes(t, 3)
      assert(hs.toSet.size == hs.length)
      assert(hs.length <= math.max(TextSig.tokens(t).length - 2, 1))
    }
  }

  test("TopK aggregator: any merge order of any partitioning equals full sort") {
    import graft.operators.TopK
    import TopK.{Scored, TopKAgg}
    // the want is a STABLE sort cut at k: full ties keep input order
    def check[E](agg: TopKAgg[E], k: Int, data: Vector[E])(
        rank: E => (Double, Long)): Unit = {
      val want = data.sortBy(rank).take(k)
      // single-buffer reduce path
      assert(agg.finish(data.foldLeft(agg.zero)(agg.reduce)) == want)
      // arbitrary partitioning + pairwise merge path (what AQE / map-side
      // combine actually execute)
      val parts = if (data.isEmpty) Vector(data)
        else data.grouped(1 + rnd.nextInt(data.length)).toVector
      val merged = parts.map(_.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) == want)
    }
    forAllSamples(100) {
      val k = 1 + rnd.nextInt(6)
      // duplicate scores force the (score DESC, id ASC) tiebreak; duplicate
      // ids don't occur in real input but must not break the invariant
      val data = Vector.fill(rnd.nextInt(60))(
        Scored(rnd.nextInt(20).toLong, rnd.nextInt(9).toDouble))
      check(TopKAgg(k), k, data)(s => (-s.score, s.id))
      // the payload-carrying form (the ANN pages): the payload rides along
      // and never ranks, so duplicate (id, score) entries with different
      // payloads must come out in input order
      check(TopKAgg.withPayload[String](k), k,
        data.zipWithIndex.map { case (s, i) => (s.id, s.score, s"p$i") })(
        e => (-e._2, e._1))
    }
  }

  test("dHash64: container/scale-invariant and deterministic over random dims+seeds") {
    import graft.operators.Multimodal
    // the q_image_dedup contract as a property, not a fixture: for ANY
    // dims and seed, the BMP / PPM / real-deflate PNG / k-times upscale
    // of one mixed raster share one hash, and the hash is 64-bit total
    forAllSamples(60) {
      val w = 2 + rnd.nextInt(24); val h = 2 + rnd.nextInt(18)
      val seed = rnd.nextInt(100000).toLong
      val bmp = Multimodal.encodeBmpMix(w, h, seed)
      val base = Multimodal.dHash64(bmp)
      assert(Multimodal.dHash64(bmp) == base)
      assert(Multimodal.dHash64(Multimodal.encodePpmMix(w, h, seed)) == base)
      assert(Multimodal.dHash64(Multimodal.encodePngMix(w, h, seed)) == base)
      val k = 2 + rnd.nextInt(3)
      assert(Multimodal.dHash64(
        Multimodal.resizeBmp(bmp, k * w, k * h)) == base)
    }
  }

  test("audioFingerprint: gain/tail-invariant over random seeds and gains") {
    import graft.operators.Multimodal
    forAllSamples(40) {
      val n = 34 * 256 + 128 * rnd.nextInt(4)
      val seed = rnd.nextInt(100000).toLong
      val base = Multimodal.encodeWavMix(n, 8000, seed)
      val fp = Multimodal.audioFingerprint(base, 256)
      assert(fp >= 0L && fp < (1L << 33))
      // any non-clipping gain preserves every energy comparison
      val g = 2 + rnd.nextInt(15) // |sample| <= 2000, 16*2000 < 32767
      assert(Multimodal.audioFingerprint(Multimodal.wavGain(base, g), 256) == fp)
      // longer takes sharing the prefix fingerprint identically
      assert(Multimodal.audioFingerprint(
        Multimodal.encodeWavMix(n + 256 * (1 + rnd.nextInt(8)), 8000, seed),
        256) == fp)
    }
  }

  test("videoFingerprint: bounded-edit flips at most bit 63, deterministic, stride-sensitive sampling") {
    import graft.operators.Multimodal
    // the q_video_neardup contract as a property: for ANY dims/frame
    // count the id formula can produce, overwriting the one luma pixel
    // that only the (r=7, j=8) grid position reads in ONE sampled frame
    // moves one temporal sum, so base and twin fingerprints differ in AT
    // MOST bit 63 — and in nothing else
    forAllSamples(60) {
      // draw below the +80000 edit threshold: a base in the edited range
      // would make b0 == b1 byte-identical and the assertions vacuous
      val base = rnd.nextInt(80000).toLong
      val b0 = Multimodal.nearVideoForDoc(base)
      val b1 = Multimodal.nearVideoForDoc(base + 80000L)
      val fp0 = Multimodal.videoFingerprint(b0, 2)
      val fp1 = Multimodal.videoFingerprint(b1, 2)
      assert(Multimodal.videoFingerprint(b0, 2) == fp0) // deterministic
      val diff = fp0 ^ fp1
      assert((diff & ~(1L << 63)) == 0L,
        f"edit leaked beyond bit 63: base=$fp0%x twin=$fp1%x")
      // a stride that skips the edited frame (frame 2) cannot see it:
      // stride 3 samples frames 0, 3, ... — twin == base exactly
      assert(Multimodal.videoFingerprint(b1, 3) ==
        Multimodal.videoFingerprint(b0, 3))
    }
  }

  test("videoFingerprint: container-invariant across raw Y4M and LZW GIF") {
    import graft.operators.Multimodal
    // the q_video_dedup contract as a property: for ANY dims/frames the
    // id formula can produce, the raw Y4M and the compressed-GIF render
    // of the same frames carry ONE fingerprint — dHash bits are order
    // comparisons, invariant under the gray-palette channel-sum's 3x
    // scaling of the luma values, and the GIF pipeline is the real
    // ImageIO LZW codec both ways
    forAllSamples(40) {
      val seed = rnd.nextInt(20000).toLong
      val w = 10 + 2 * (seed % 4).toInt; val h = 8 + 2 * (seed % 3).toInt
      val nf = 3 + (seed % 4).toInt
      val y4m = Multimodal.encodeY4mMix(w, h, nf, seed)
      val gif = Multimodal.encodeGifMix(w, h, nf, seed, 3 * w * h / 2)
      assert(gif(0) == 'G' && y4m(0) == 'Y') // genuinely different containers
      val fp = Multimodal.videoFingerprint(y4m, 2)
      assert(Multimodal.videoFingerprint(gif, 2) == fp,
        s"container variance at seed=$seed ${w}x$h nf=$nf")
      // a different clip does not collide through either container
      val other = Multimodal.encodeY4mMix(w, h, nf, seed + 50000L)
      assert(Multimodal.videoFingerprint(other, 2) != fp)
    }
  }

  test("hamming pigeonhole: <= chunks-1 flipped bits always share a chunk") {
    // the no-false-negative guarantee hammingPairs' block join rests on,
    // checked over random 64-bit fingerprints incl. the sign bit: flip up
    // to (chunks-1) random bits and verify at least one 16-bit chunk is
    // untouched — i.e. the chunk block key would still collide
    forAllSamples(300) {
      val fp = rnd.nextLong()
      val nFlip = rnd.nextInt(4) // 0..3 with chunks = 4
      val flipped = (1 to nFlip).foldLeft(fp)((v, _) => v ^ (1L << rnd.nextInt(64)))
      val shared = (0 until 4).exists { j =>
        ((fp >>> (j * 16)) & 0xffffL) == ((flipped >>> (j * 16)) & 0xffffL)
      }
      assert(shared, f"no shared chunk for fp=$fp%x flipped=$flipped%x")
    }
  }
}
