package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming pipelines for the event/message stream.
  *
  * The reference's chat loop (backend/main.py:512-610) is a per-message
  * WebSocket pipeline with keyed mutable conversation state (last known
  * lat/lon, history); its analytics re-evaluate time-window aggregates at
  * query time (backend/health_api.py:431-434, :519-528). The streaming
  * equivalents here:
  *
  *  - [[dailyCounts]]: tumbling 1-day windows with a 1-hour watermark over
  *    event time. The reference is late-data-oblivious (it reads at
  *    processing time), so the watermark policy is ours — documented
  *    deviation, chosen short because the synthetic stream is dense.
  *  - [[sessionize]]: 30-min-gap sessions via flatMapGroupsWithState keyed
  *    by user — the keyed-state shape of the chat loop (T1/T2). Emits a
  *    session row when the gap timeout fires, exactly like `end
  *    conversation` triggers the batch report (main.py:312-336).
  *  - [[parseLocations]]: the X6 regex location extraction as a streaming
  *    projection (main.py:490-509).
  *
  * Scale notes: state is hash-partitioned by key (user/conversation), so a
  * 1000-executor cluster holds state shards independently; the watermark
  * bounds state growth; windowed aggregates pre-aggregate per partition
  * before the shuffle.
  */
object EventsStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(start: Timestamp, last: Timestamp, nEvents: Long)

  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long)

  /** T2 via Spark's NATIVE session_window aggregation — the declarative
    * twin of [[sessionize]]: same gap-close semantics, but session state
    * (window merging, watermark eviction) is Catalyst's built-in operator
    * instead of hand-rolled flatMapGroupsWithState, so it gets codegen,
    * state-store compaction and AQE for free. Prefer this form unless the
    * per-session logic outgrows "merge windows within gap" (the custom
    * [[sessionize]] exists for exactly that: reference parity on the
    * emit-on-timeout shape). In append mode a session row is emitted only
    * once the watermark passes its close — the batch twin the oracle
    * checks is q_session_window. */
  def sessionWindowCounts(events: DataFrame, gapMinutes: Int,
                          watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** T3: tumbling daily counts per event type with event-time watermark. */
  def dailyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("window.start").as("day"), col("event_type"), col("n"), col("avg_value"))

  /** Pure per-group update: fold a batch of events into the open-session
    * state, emitting sessions closed by an event-time gap > gapMs.
    * Extracted from the stream so the gap logic is unit-testable without a
    * streaming harness. */
  private[graft] def updateGroup(userId: Long, events: Seq[Event],
                                 prior: Option[SessionState], gapMs: Long)
      : (Seq[Session], Option[SessionState]) = {
    val evs = events.sortBy(_.ts.getTime)
    val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
    var cur = prior
    evs.foreach { e =>
      cur match {
        case Some(s) if e.ts.getTime - s.last.getTime > gapMs =>
          closed += Session(userId, s.start, s.last, s.nEvents)
          cur = Some(SessionState(e.ts, e.ts, 1))
        case Some(s) if e.ts.getTime < s.start.getTime - gapMs =>
          // a cross-batch late event MORE than the gap before the open
          // session's start can never belong to it — under the batch
          // ordering its session closed long ago. Emit it as its own
          // closed singleton instead of folding it in, which would
          // count an event outside [session_start, session_end]. (Two
          // such stragglers arriving in DIFFERENT batches each close
          // alone where the batch twin would merge them — the
          // documented price of bounded state with no watermark.)
          closed += Session(userId, e.ts, e.ts, 1)
        case Some(s) if e.ts.before(s.start) =>
          // within the gap BEFORE the start: the batch ordering would
          // have merged it — extend start BACKWARDS so the emitted
          // bounds still cover every counted event
          cur = Some(SessionState(e.ts, s.last, s.nEvents + 1))
        case Some(s) =>
          // max, not e.ts: a cross-batch late event (no watermark bounds
          // this op) must not move `last` BACKWARDS — that would let a
          // following event measure its gap from the stale earlier time
          // and emit a session with end < start
          val last = if (e.ts.after(s.last)) e.ts else s.last
          cur = Some(SessionState(s.start, last, s.nEvents + 1))
        case None =>
          cur = Some(SessionState(e.ts, e.ts, 1))
      }
    }
    (closed.toSeq, cur)
  }

  /** T1/T2: gap-based sessionization with keyed state. A session closes
    * when a later event for the same user arrives more than `gapMinutes`
    * past the previous one; with `useTimeout` a processing-time timeout
    * additionally flushes idle sessions (the stream's stand-in for "end
    * conversation"). Note: registered timeouts make the no-trigger
    * micro-batch loop re-fire continuously — production queries should pair
    * `useTimeout = true` with an explicit processing-time trigger. */
  def sessionize(events: Dataset[Event], gapMinutes: Int,
                 useTimeout: Boolean = false): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    val timeoutConf =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](OutputMode.Append, timeoutConf) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && useTimeout && state.hasTimedOut) {
            // gap elapsed: close and emit the session
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.last, s.nEvents))
          } else {
            val (closed, cur) = updateGroup(userId, batch.toSeq, state.getOption, gapMs)
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming ingest dedup (training-data-pipeline extension): drop exact
    * near-in-time duplicates by content fingerprint, with the watermark
    * bounding the dedup state — the streaming half of [[graft.operators
    * .Dedup.exact]]. `dropDuplicatesWithinWatermark` keeps one row per
    * fingerprint seen inside the watermark horizon and AGES THE STATE OUT
    * (plain dropDuplicates on a stream grows state forever — at 100 TB/day
    * of ingest that is an OOM with extra steps). The fingerprint is the
    * rolling token hash ([[graft.functions.text.fingerprint]]), so
    * whitespace-insensitive exact dupes collapse; [[lshNearDupStream]]
    * is the MinHash-band NEAR-dup variant with the same state shape. */
  def dedupStream(events: DataFrame, textCol: String,
                  watermark: String = "1 hour", tsCol: String = "ts"): DataFrame =
    events
      .withColumn("__fp", expr(
        graft.functions.text.fingerprint(graft.functions.SparkDialect, textCol)))
      // null text fingerprints to null, and the state store treats null
      // as ONE key — all null-text rows collapse to one survivor. That
      // is the same verdict the batch twin's GROUP BY fp reaches
      // (q_stream_dedup's oracle: SQL grouping puts every null in one
      // group), and stream == batch twin is this face's pinned
      // contract — unlike mediaDedupStream, where a null means a FAILED
      // decode and the row drops instead
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** [[dedupStream]] keyed by PERCEPTUAL fingerprint over a binary media
    * column — streaming ingest dedup for the multimodal tier: the same
    * picture arriving as a PNG re-encode, a different container, or an
    * integer-factor upscale carries the same
    * [[graft.operators.Multimodal.dHash64]] (all genuinely decoded), so
    * the state store suppresses it in flight where a byte hash would
    * admit every re-encode as new. Same watermark-bounded state contract
    * as the text dedup: state is keyed by a LONG, never the blob. */
  def mediaDedupStream(media: DataFrame, contentCol: String,
                       watermark: String = "1 hour",
                       tsCol: String = "ts"): DataFrame =
    media
      // SAFE decode + null drop, the one-dirty-row discipline of the
      // near-dup wrappers: the strict UDF would fail the task on a null
      // or corrupt blob and terminate the query — and a null fp left in
      // place would make dropDuplicates keep exactly ONE undecodable
      // row (null is a distinct key), silently shipping garbage
      .withColumn("__fp",
        graft.operators.Multimodal.dHash64SafeUdf(col(contentCol)))
      .filter(col("__fp").isNotNull)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** One streaming near-duplicate hit: `id` arrived while `matched_id`
    * (an earlier arrival within the watermark horizon) sat within
    * `hamming` bits of it. */
  case class HammingMatch(id: Long, matched_id: Long, hamming: Int)

  private[streaming] case class BucketEntry(id: Long, fp: Long, tsMs: Long)
  private[streaming] case class SatBucketState[E](entries: List[E],
                                                  saturated: Boolean, lastTsMs: Long)

  /** The star tier's dial for [[stepSatBucket]]: `idOf` orders the greedy
    * rep selection (min-id first, matching the batch salvage tier's
    * min-id hubs), `prepOfE` rebuilds a stored entry's compare-side prep
    * so entries can be matched against each other at saturation, and
    * `maxReps` bounds the diverse rep set — the in-flight face of the
    * batch tier's `maxReps` distinct-signature bound. */
  private[streaming] case class StarDial[P, E](idOf: E => Long,
                                               prepOfE: E => P,
                                               maxReps: Int)

  /** The one rep-diversity bound every streaming face uses — documented
    * as a contract in SCALE.md/COVERAGE.md, so it lives in exactly one
    * place (the batch tier's `maxReps` stays a per-call parameter; the
    * streaming faces deliberately don't expose the dial — a saturated
    * bucket holding this many mutually-non-matching reps is not a
    * boilerplate flood and belongs to the offline salvage pass). */
  private[streaming] val StarMaxReps = 4

  /** The saturating-bucket state transition shared by every streaming
    * near-dup variant ([[nearDupStream]]'s hamming buckets,
    * [[lshNearDupStream]]'s band buckets — one state machine, so the
    * watermark-reset / prune / saturate / timeout bookkeeping cannot
    * drift between them): prune entries past the watermark, un-saturate
    * once the watermark passes the bucket's last contribution, compare
    * each arrival to the surviving bucket-mates via `matches`, add it,
    * and SATURATE past `maxBucket`; empty un-saturated buckets remove
    * their state, live ones register an event-time timeout strictly past
    * the watermark (a timeout AT the watermark would never be registered
    * and the bucket would leak if its key never fired again).
    *
    * What saturation MEANS is the `star` dial — the streaming face of
    * the batch cap-vs-salvage choice:
    *  - `None` (the cap): entries drop and the bucket emits nothing
    *    until the watermark passes it — the boilerplate flood costs
    *    nothing, and its pairs are recovered offline by the batch
    *    salvage tier ([[graft.operators.Dedup.hammingSalvageEdges]] /
    *    `minhashSalvageVerifiedPairs`).
    *  - `Some(dial)` (the in-flight STAR tier): the bucket keeps a
    *    DIVERSE set of up to `maxReps` representatives — built at
    *    saturation by a min-id-first greedy pass keeping each entry
    *    that matches no rep already kept, the streaming face of the
    *    batch salvage tier's per-identical-signature reps — and each
    *    later arrival is compared against the reps ONLY and NOT stored
    *    unless it matches NONE of them (then it is promoted as a new
    *    rep, capacity permitting, with no emission): O(maxReps) compare
    *    cost and ≤ maxReps-entry state per saturated bucket, while
    *    every flood member still links to its flood's rep. Diversity is
    *    what keeps the bucket from going BLIND: a sub-threshold variant
    *    that lands in the bucket (shared band/chunk, no verified match)
    *    occupies its own rep slot instead of silencing the flood — the
    *    flood's own signature keeps (or regains, after rep expiry) a
    *    rep of its own, because a flood member matching no current rep
    *    is itself promoted. Reps aged past the watermark are pruned;
    *    the next arrivals re-seed the rep set the same way. Caveat
    *    (the batch tier's `__n_reps <= maxReps` bail, in-flight): once
    *    maxReps mutually-non-matching reps are held, an arrival
    *    matching none of them goes unflagged while saturated — such a
    *    bucket is not a boilerplate flood, and its pairs belong to the
    *    offline pass. */
  private def stepSatBucket[T, P, E, M](
      batch: Iterator[T], state: GroupState[SatBucketState[E]],
      tsOf: T => Long, prepOf: T => P, entryOf: T => E, entryTs: E => Long,
      idOf: E => Long, sameEntry: (E, E) => Boolean,
      matches: (P, E) => Option[M], maxBucket: Int,
      star: Option[StarDial[P, E]] = None): Iterator[M] =
    if (batch.isEmpty && state.hasTimedOut) {
      state.remove(); Iterator.empty
    } else {
      val wm = state.getCurrentWatermarkMs()
      val st0 = state.getOption.getOrElse(SatBucketState[E](Nil, false, 0L))
      val st = if (st0.saturated && wm > st0.lastTsMs)
        SatBucketState[E](Nil, false, 0L) else st0
      var entries = st.entries.filter(entryTs(_) >= wm)
      var saturated = st.saturated
      var lastTs = st.lastTsMs
      val out = scala.collection.mutable.ArrayBuffer.empty[M]
      batch.foreach { t =>
        lastTs = math.max(lastTs, tsOf(t))
        if (!saturated) {
          // prepOf runs ONCE per arrival (e.g. the shingle-set build),
          // not once per bucket-mate comparison
          val p = prepOf(t)
          entries.foreach { e => matches(p, e).foreach(out += _) }
          // same-id redelivery guard, the star branch's discipline
          // applied to the pre-saturation path too: an at-least-once
          // source retrying one hot row must not fill the bucket with
          // its own copies and saturate it on duplicates alone (every
          // face's `matches` maps a self-compare to None, so the copies
          // would otherwise count silently toward maxBucket). The guard
          // keys on (id, content, ts), not id alone: a same-id arrival
          // carrying UPDATED content or a fresher timestamp — which
          // at-least-once sources also deliver — REPLACES the stored
          // entry in place, so future arrivals match the updated content
          // and the fresher tsMs drives eviction (a stale stored ts
          // would prune the row early). One stored version per id keeps
          // emissions dup-free (the batch twin indexes both rows, but a
          // second stored copy here would emit every future match twice).
          val en = entryOf(t)
          val iSame = entries.indexWhere(e => idOf(e) == idOf(en))
          if (iSame < 0) entries = en :: entries
          else {
            val old = entries(iSame)
            if (entryTs(en) > entryTs(old) ||
                (entryTs(en) == entryTs(old) && !sameEntry(old, en)))
              entries = entries.updated(iSame, en)
          }
          if (entries.size > maxBucket) {
            saturated = true
            entries = star.fold(List.empty[E]) { d =>
              // min-id-first greedy diverse set: keep each entry that
              // matches no rep already kept (pairs among the entries
              // already emitted on arrival — no emission here). Same-id
              // entries count as matching: every face's `matches` maps a
              // self-compare to None, so without the idOf check a
              // redelivered row's copies would look mutually diverse and
              // hoard rep slots
              var reps = List.empty[E]
              entries.sortBy(d.idOf).foreach { e =>
                if (reps.size < d.maxReps) {
                  val pe = d.prepOfE(e)
                  if (!reps.exists(r => d.idOf(r) == d.idOf(e) ||
                      matches(pe, r).isDefined))
                    reps = e :: reps
                }
              }
              reps.reverse
            }
          }
        } else star.foreach { d =>
          val p = prepOf(t)
          var matched = false
          entries.foreach { r =>
            matches(p, r).foreach { m => out += m; matched = true }
          }
          // a flood member matching no rep re-seeds its flood's rep slot
          // (promotion emits nothing — there was nothing to verify
          // against); a matching NEW-id arrival is NOT stored, and a
          // PURE redelivery of a row that already holds a slot (same id,
          // same content, no fresher ts) is a no-op — an at-least-once
          // source retrying one outlier must not exhaust maxReps and
          // blind the flood. A same-id arrival carrying updated content
          // or a fresher ts refreshes its slot IN PLACE (regardless of
          // capacity OR of whether it verified against another rep):
          // the rep represents that row, and a stale stored content/ts
          // would blind future matches and expire the slot early.
          val en = entryOf(t)
          val iSame = entries.indexWhere(r => d.idOf(r) == d.idOf(en))
          if (iSame >= 0) {
            // the same-id refresh must NOT be gated on `matched`: an
            // updated row that happens to verify against some OTHER rep
            // still represents its own slot, and skipping the refresh
            // would keep the stale content (future arrivals can't match
            // the update) and the stale ts (early eviction) — the exact
            // divergence the (id, content, ts) guard exists to prevent
            val old = entries(iSame)
            if (entryTs(en) > entryTs(old) ||
                (entryTs(en) == entryTs(old) && !sameEntry(old, en)))
              entries = entries.updated(iSame, en)
          } else if (!matched && entries.size < d.maxReps)
            entries = entries :+ en
        }
      }
      if (entries.isEmpty && !saturated) state.remove()
      else {
        state.update(SatBucketState(entries, saturated, lastTs))
        state.setTimeoutTimestamp(math.max(lastTs, wm + 1L))
      }
      out.iterator
    }

  /** Streaming NEAR-dup detection over a fingerprint column — the
    * in-flight face of [[graft.operators.Dedup.hammingPairs]], closing
    * the gap where [[mediaDedupStream]] only suppresses EXACT fingerprint
    * repeats: each row explodes into its `chunks` pigeonhole chunks
    * (hamming ≤ chunks−1 guarantees a shared chunk, same theorem as the
    * batch join), state is keyed by (chunk_idx, chunk_val) — the
    * streaming analog of the band/chunk shuffle key, hash-partitioned
    * across executors — and each bucket keeps the (id, fp) pairs seen
    * inside the watermark horizon, emitting a [[HammingMatch]] when a new
    * arrival lands within `maxHamming` bits of a bucket-mate. A pair
    * sharing several chunks emits from each — consumers dedup on
    * (id, matched_id), exactly like the batch path's `.distinct()`.
    *
    * The `maxBucket` cap carries over: a bucket exceeding it SATURATES —
    * its entries drop and it emits nothing until the watermark passes its
    * last contribution — bounding both state size and per-arrival compare
    * cost under the monochrome/silence mega-buckets that motivate the
    * batch cap. State is aged two ways: entries older than the watermark
    * are pruned on access, and an event-time timeout reaps idle buckets
    * wholesale. Within a micro-batch, "earlier" is iterator order — the
    * same tie the exact-dedup state store breaks arbitrarily.
    *
    * `salvageRep = true` turns saturation from the silent cap into the
    * in-flight STAR tier (see [[stepSatBucket]]): the saturated bucket
    * keeps a diverse min-id-first rep set (≤ 4) and every later flood
    * member emits its verified match against the reps — O(1) per
    * arrival, bounded state, connectivity kept through the flood even
    * when a non-matching outlier shares the bucket (it occupies its own
    * rep slot instead of blinding the flood's).
    *
    * CHECKPOINT CONTRACT (r12, the [[embedNearDupStream]] discipline
    * applied to every near-dup face): the state key leads with the
    * chunk-geometry token (`Dedup.chunkSig(bits, chunks)`), because two
    * geometries emit overlapping (chunk_idx, chunk_val) keys — a config
    * change across a checkpoint restart would otherwise half-merge the
    * keyspaces silently. Restarting a pre-r12 checkpoint fails loudly
    * at Spark's state key-schema check (start a fresh checkpoint
    * directory); restarting under a changed (bits, chunks) routes new
    * arrivals to a disjoint keyspace while old-geometry state drains
    * via the watermark timeout — a documented fresh-start, never a
    * silent half-merge. */
  def nearDupStream(rows: DataFrame, idCol: String, fpCol: String,
                    bits: Int, chunks: Int, maxHamming: Int,
                    maxBucket: Int = Int.MaxValue,
                    watermark: String = "1 hour",
                    tsCol: String = "ts",
                    salvageRep: Boolean = false): Dataset[HammingMatch] = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    require(bits % chunks == 0, s"bits=$bits not divisible by chunks=$chunks")
    val session = rows.sparkSession
    import session.implicits._
    val w = bits / chunks
    // NULL fingerprints drop at ingest (the embedNearDupStream ADVICE-r9
    // discipline applied to the shared hamming face): a null fp — e.g. a
    // wrapper's decode UDF mapping a dirty blob to null — would reach the
    // non-nullable Long tuple encoder below and NPE the whole streaming
    // query; the batch faces drop null fingerprints the same way.
    val chunked = rows
      .filter(col(fpCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("ts"), col(idCol).as("id"), col(fpCol).as("fp"))
      .select(col("ts"), col("id"), col("fp"), explode(expr(
        // same unsigned-shift + mask chunking as Dedup.hammingChunkIndex,
        // incl. the w=64 wrap-safe mask (chunks=1 would otherwise collapse
        // every fingerprint into one bucket)
        s"transform(sequence(0, ${chunks - 1}), j -> " +
          s"struct(j AS chunk_idx, " +
          s"shiftrightunsigned(fp, j*$w) & ${graft.operators.Dedup.chunkMask(w)}L AS chunk_val))"))
        .as("c"))
      .select(col("ts"), col("id"), col("fp"),
        col("c.chunk_idx").as("chunk_idx"), col("c.chunk_val").as("chunk_val"))
      .as[(Timestamp, Long, Long, Int, Long)]
    // driver-side constant geometry token in the key — see the
    // CHECKPOINT CONTRACT above
    val geoSig = graft.operators.Dedup.chunkSig(bits, chunks)
    chunked
      .groupByKey(r => (geoSig, r._4, r._5))
      .flatMapGroupsWithState[SatBucketState[BucketEntry], HammingMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, Int, Long), batch: Iterator[(Timestamp, Long, Long, Int, Long)],
         state: GroupState[SatBucketState[BucketEntry]]) =>
          stepSatBucket[(Timestamp, Long, Long, Int, Long), (Long, Long),
              BucketEntry, HammingMatch](
            batch, state,
            tsOf = _._1.getTime,
            prepOf = t => (t._2, t._3),
            entryOf = t => BucketEntry(t._2, t._3, t._1.getTime),
            entryTs = _.tsMs,
            idOf = _.id,
            sameEntry = (a, b) => a.fp == b.fp,
            matches = { case ((id, fp), e) =>
              val hd = java.lang.Long.bitCount(e.fp ^ fp)
              if (e.id != id && hd <= maxHamming) Some(HammingMatch(id, e.id, hd))
              else None
            },
            maxBucket = maxBucket,
            star = if (salvageRep)
              Some(StarDial[(Long, Long), BucketEntry](
                idOf = _.id, prepOfE = e => (e.id, e.fp), maxReps = StarMaxReps))
            else None)
      }
  }

  /** One streaming text near-dup hit: `id` arrived while `matched_id`
    * (an earlier arrival within the watermark horizon) shared an LSH
    * band with it and verified at `jaccard` ≥ the threshold. */
  case class JaccardMatch(id: Long, matched_id: Long, jaccard: Double)

  private[streaming] case class SigEntry(id: Long, hs: Array[Long], tsMs: Long)

  /** Streaming TEXT near-dup detection — the MinHash-band variant
    * [[dedupStream]]'s docstring promises, and [[nearDupStream]]'s
    * sibling for set similarity: each document's k-value MinHash
    * signature (computed by the compiled [[graft.functions.TextSig]]
    * kernels, same as the batch path) cuts into `bands` bands, state
    * keys on (band_idx, band_key) — the streaming analog of the LSH band
    * shuffle, hash-partitioned across executors — and a new arrival
    * sharing a band with a bucket-mate is EXACT-Jaccard verified against
    * it (the two-stage candidates-then-verify pattern of
    * [[graft.operators.Dedup.minhashLshVerifiedPairs]], per arrival),
    * emitting a [[JaccardMatch]] at ≥ `threshold`. A pair sharing
    * several bands emits from each — consumers dedup on
    * (id, matched_id), like the batch `.distinct()`.
    *
    * Same bounded-state contract as [[nearDupStream]]: entries age out
    * by watermark, idle buckets are reaped by event-time timeout, and a
    * bucket over `maxBucket` SATURATES — the boilerplate mega-bucket
    * (one license header arriving thousands of times an hour) stops
    * costing |bucket| shingle-set compares per arrival, exactly the
    * skew the batch cap drops. Bucket state carries shingle-hash sets
    * (needed for the verify), so the cap also bounds state BYTES, not
    * just entry counts. `salvageRep = true` is the in-flight star tier
    * ([[nearDupStream]]'s dial): the saturated band bucket keeps a
    * diverse min-id-first rep set and each flood member exact-Jaccard
    * verifies against those reps only — here the verification can
    * REJECT a star edge (signatures collide, sets differ), and a
    * rejected-by-every-rep arrival is promoted as its own rep
    * (capacity permitting) rather than silencing the bucket — the same
    * no-exactness-theorem caveat as the batch
    * [[graft.operators.Dedup.minhashSalvageVerifiedPairs]]. Band
    * redundancy additionally shields this face from rep poisoning
    * beyond what the diverse rep set already guarantees: an
    * identical-text flood occupies ALL `bands` band buckets and each
    * elects its reps independently, while a sub-threshold variant
    * shares a band only by signature collision (probability ~j^r per
    * band) — so even a poisoned band leaves the flood's other bands
    * emitting, unlike the hamming face where a planted outlier can
    * co-occupy every shared chunk bucket (the ModulesSpec poisoning
    * fixture) and the embedding face's single sign-LSH bucket (the
    * Verify smoke's planted outlier).
    *
    * CHECKPOINT CONTRACT (r12): the state key leads with the band-
    * geometry token (`Dedup.bandSig(k, bands, shingleN)`) — band-key
    * strings from different (k, bands) geometries can collide, so a
    * config change across a checkpoint restart would otherwise
    * half-merge the keyspaces silently. Same consequences as
    * [[nearDupStream]]: pre-r12 checkpoints fail loudly at the
    * key-schema check; a geometry change is a documented fresh-start
    * (old state drains via watermark), never a silent half-merge. */
  def lshNearDupStream(rows: DataFrame, idCol: String, textCol: String,
                       k: Int, bands: Int, shingleN: Int, threshold: Double,
                       maxBucket: Int = Int.MaxValue,
                       watermark: String = "1 hour",
                       tsCol: String = "ts",
                       salvageRep: Boolean = false): Dataset[JaccardMatch] = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val session = rows.sparkSession
    import session.implicits._
    import graft.functions.TextSig
    val r = k / bands
    // null documents drop at ingest, the same one-dirty-row discipline
    // as the hamming and embedding faces
    val banded = rows
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("ts"), col(idCol).as("id"),
        TextSig.shingleHashesUdf(col(textCol), lit(shingleN)).as("hs"),
        TextSig.minhashSigUdf(col(textCol), lit(shingleN), lit(k)).as("sig"))
      .select(col("ts"), col("id"), col("hs"),
        explode(expr(
          graft.operators.Dedup.bandStructsExpr(bands, r))).as("b"))
      .select(col("ts"), col("id"), col("hs"),
        col("b.band_idx").as("band_idx"), col("b.band_key").as("band_key"))
      .as[(Timestamp, Long, Array[Long], Int, String)]
    // driver-side constant geometry token in the key — see the
    // CHECKPOINT CONTRACT above
    val geoSig = graft.operators.Dedup.bandSig(k, bands, shingleN)
    banded
      .groupByKey(x => (geoSig, x._4, x._5))
      .flatMapGroupsWithState[SatBucketState[SigEntry], JaccardMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, Int, String), batch: Iterator[(Timestamp, Long, Array[Long], Int, String)],
         state: GroupState[SatBucketState[SigEntry]]) =>
          stepSatBucket[(Timestamp, Long, Array[Long], Int, String),
              (Long, Set[Long]), SigEntry, JaccardMatch](
            batch, state,
            tsOf = _._1.getTime,
            prepOf = t => (t._2, t._3.toSet),
            entryOf = t => SigEntry(t._2, t._3, t._1.getTime),
            entryTs = _.tsMs,
            idOf = _.id,
            sameEntry = (a, b) => a.hs.sameElements(b.hs),
            matches = { case ((id, mySet), e) =>
              if (e.id == id) None
              else {
                // no per-compare Set build for the bucket-mate: hs is
                // already distinct (shingleHashes applies arrayDistinct),
                // so counting membership against the arrival's staged set
                // yields the same intersection at zero allocation — a
                // live bucket re-runs this for every (arrival, mate) pair
                // for its whole watermark lifetime
                val inter = e.hs.count(mySet)
                val union = mySet.size + e.hs.length - inter
                val j = if (union == 0) 0.0 else inter.toDouble / union
                if (j >= threshold) Some(JaccardMatch(id, e.id, j)) else None
              }
            },
            maxBucket = maxBucket,
            star = if (salvageRep)
              Some(StarDial[(Long, Set[Long]), SigEntry](
                idOf = _.id, prepOfE = e => (e.id, e.hs.toSet), maxReps = StarMaxReps))
            else None)
      }
  }

  /** One streaming embedding near-dup hit: `id` arrived while
    * `matched_id` (an earlier arrival within the watermark horizon)
    * shared its sign-LSH bucket and verified at `cosine` ≥ the
    * threshold (rounded to 4 decimals, the batch
    * [[graft.operators.Dedup.embeddingPairs]] contract). */
  case class CosineMatch(id: Long, matched_id: Long, cosine: Double)

  private[streaming] case class VecEntry(id: Long, emb: Array[Double],
                                         nrm: Double, tsMs: Long)

  /** Streaming EMBEDDING near-dup detection — the vector-modality face
    * of the matrix (text LSH bands, image/video hamming chunks, now
    * embeddings): each arrival is keyed by its
    * [[graft.operators.AnnIndex.bucketExpr]] sign-LSH bucket (the same
    * hyperplane hash the batch ANN index builds on, so a persisted
    * bucket layout and the stream agree on blocking) and exact-cosine
    * verified against its bucket-mates with per-row staged L2 norms —
    * one dot product per compare, [[graft.operators.Dedup.embeddingPairs]]'
    * candidates-then-verify per arrival. Emits a [[CosineMatch]] at
    * ≥ `threshold`; cosine is rounded to 4 decimals exactly like the
    * batch face, so stream/batch pair sets compare bit-identically.
    *
    * Same bounded-state contract as [[nearDupStream]] ([[stepSatBucket]]):
    * watermark prune, event-time timeout, and `maxBucket` SATURATION —
    * a near-duplicate flood (the same viral image's embedding arriving
    * thousands of times) lands in one bucket and would otherwise cost
    * |bucket| dot products per arrival AND |bucket|·dim state doubles;
    * the cap bounds both. `salvageRep = true` is the star tier: the
    * saturated bucket keeps a diverse min-id-first rep set and each
    * flood member verifies against those reps only — verification can
    * REJECT an edge (sign buckets collide for vectors under the
    * threshold), and a rejected-by-every-rep arrival claims its own
    * rep slot instead of blinding the bucket, the LSH face's
    * no-exactness-theorem caveat. */
  /** The WIDE prime-modulus plane family
    * ([[graft.operators.AnnIndex.wideBucketExpr]]) is the DEFAULT
    * stream key (r11 — the documented new-store guidance, now the path
    * of least resistance): it matches the blocking of a persisted
    * wide-family store ([[graft.operators.Dedup.embeddingBucketIndex]]),
    * so stream and store agree without re-blocking, and planes > 7
    * actually buy selectivity — the legacy family's 128-bucket ceiling
    * (q_ann_plane_family) applies in flight too, where at stream scale
    * it guarantees hot buckets that saturate and lean on the star tier
    * for work finer blocking avoids. `wide = false` selects the legacy
    * family and exists for the driver-gated parity legs whose batch
    * comparators pin that geometry; a NEW caller passing it should be
    * able to say why.
    *
    * CHECKPOINT CONTRACT (r12): the state key is
    * `(familyGeometrySig, bucket)`, not the bare bucket — the two
    * families emit overlapping small bucket ids (the legacy census tops
    * out at 128), so when r11 flipped the default to `wide = true` a
    * stream restarted from a pre-flip checkpoint would have hashed new
    * arrivals with the wide family while prior state sat under legacy
    * bucket keys: cross-restart matches silently missed, the
    * silent-recall-loss class this repo refuses loudly elsewhere.
    * With the sig in the key, restarting an OLD (bare-Long-keyed)
    * checkpoint under this version fails LOUDLY at Spark's state-store
    * key-schema check (start a fresh checkpoint directory); restarting
    * under a different family or (dim, planes) routes new arrivals to a
    * disjoint keyspace — old-geometry state drains via the watermark
    * timeout and can never silently match or blind a new-geometry
    * arrival. A geometry change still forfeits matches against
    * pre-change in-flight state (those embeddings were blocked under a
    * hash that no longer exists — re-blocking state is impossible
    * in-flight by construction); what the key buys is that the loss is
    * a documented fresh-start, never a silent half-merged keyspace. */
  def embedNearDupStream(rows: DataFrame, idCol: String, embCol: String,
                         dim: Int, planes: Int, threshold: Double,
                         maxBucket: Int = Int.MaxValue,
                         watermark: String = "1 hour",
                         tsCol: String = "ts",
                         salvageRep: Boolean = false,
                         wide: Boolean = true): Dataset[CosineMatch] = {
    val session = rows.sparkSession
    import session.implicits._
    import graft.functions.vectors
    val bucketOf =
      if (wide) graft.operators.AnnIndex.wideBucketExpr(embCol, dim, planes)
      else graft.operators.AnnIndex.bucketExpr(embCol, dim, planes)
    // the state-key geometry token (see CHECKPOINT CONTRACT above): a
    // driver-side constant, so it costs nothing per row beyond the
    // wider key tuple
    val famSig =
      if (wide) graft.operators.AnnIndex.wideStoreSig(dim, planes)
      else graft.operators.AnnIndex.legacyStreamSig(dim, planes)
    // NULL embeddings drop at ingest, matching the batch face's null
    // discipline (null block keys pair harmlessly, the threshold drops
    // null cosines): here a null would reach the NON-NULLABLE Long/Double
    // tuple encoder below (bucketExpr and l2Norm both yield null) and NPE
    // the whole streaming query — one dirty row must not kill the stream.
    // The element-level check matters too: [1.0, null, 2.0] passes
    // isNotNull but its null slot reaches the primitive double[]
    // deserializer — the same query-killing class, one exists() per row
    // at ingest, not in the bucket hot path.
    val keyed = rows
      .filter(col(embCol).isNotNull &&
        !exists(col(embCol), x => x.isNull))
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("ts"), col(idCol).as("id"),
        col(embCol).cast("array<double>").as("emb"),
        bucketOf.as("bucket"),
        vectors.l2Norm(col(embCol)).as("nrm"))
      .as[(Timestamp, Long, Array[Double], Long, Double)]
    def round4(c: Double): Double =
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    keyed
      .groupByKey(t => (famSig, t._4))
      .flatMapGroupsWithState[SatBucketState[VecEntry], CosineMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Long, Long), batch: Iterator[(Timestamp, Long, Array[Double], Long, Double)],
         state: GroupState[SatBucketState[VecEntry]]) =>
          stepSatBucket[(Timestamp, Long, Array[Double], Long, Double),
              (Long, Array[Double], Double), VecEntry, CosineMatch](
            batch, state,
            tsOf = _._1.getTime,
            prepOf = t => (t._2, t._3, t._5),
            entryOf = t => VecEntry(t._2, t._3, t._5, t._1.getTime),
            entryTs = _.tsMs,
            idOf = _.id,
            sameEntry = (a, b) => a.emb.sameElements(b.emb),
            matches = { case ((id, emb, nrm), e) =>
              if (e.id == id) None
              else {
                // the batch face's zero-norm guard: cosine 0.0, which a
                // positive threshold drops — no survivor can differ;
                // the SAME compiled kernel as the batch face, so the
                // gated stream/batch round4-cosine parity cannot drift
                val c = if (nrm == 0.0 || e.nrm == 0.0) 0.0
                        else vectors.dotKernel(emb, e.emb) / (nrm * e.nrm)
                if (c >= threshold) Some(CosineMatch(id, e.id, round4(c)))
                else None
              }
            },
            maxBucket = maxBucket,
            star = if (salvageRep)
              Some(StarDial[(Long, Array[Double], Double), VecEntry](
                idOf = _.id, prepOfE = e => (e.id, e.emb, e.nrm), maxReps = StarMaxReps))
            else None)
      }
  }

  /** [[nearDupStream]] over a binary media column through the real
    * [[graft.operators.Multimodal.dHash64]] decode — the near-dup-aware
    * upgrade of [[mediaDedupStream]]: a single-pixel edit or a slightly
    * cropped re-post lands within `maxHamming` bits and is flagged
    * in-flight, where the exact-fingerprint state admits it as new.
    * maxBucket=64 matches the batch call sites. */
  def mediaNearDupStream(media: DataFrame, idCol: String, contentCol: String,
                         maxHamming: Int = 3,
                         watermark: String = "1 hour",
                         tsCol: String = "ts",
                         salvageRep: Boolean = false): Dataset[HammingMatch] =
    nearDupStream(
      // dirty blobs (null OR corrupt/undecodable) must not kill the
      // stream: the SAFE decode maps them to a null fp, which the shared
      // ingest filter drops — batch pipelines keep the strict UDF so an
      // offline decode failure stays loud
      media.withColumn("__fp",
        graft.operators.Multimodal.dHash64SafeUdf(col(contentCol))),
      idCol, "__fp", bits = 64, chunks = 4, maxHamming = maxHamming,
      maxBucket = 64, watermark = watermark, tsCol = tsCol,
      salvageRep = salvageRep)

  /** [[mediaNearDupStream]]'s AUDIO sibling — the clip-ingest face of
    * q_audio_neardup at its batch geometry (36-bit frame-energy
    * fingerprint, 3 pigeonhole chunks, hamming ≤ 2, maxBucket=64): each
    * arriving blob walks the real container parse
    * ([[graft.operators.Multimodal.audioFingerprint]] — PCM frame
    * energies folded into 36 bits over `frameLen`-sample frames), so a
    * re-encoded or slightly-edited clip lands within `maxHamming` bits
    * and is flagged in flight; silence fingerprints to 0 and saturates
    * the zero bucket instead of sinking it. */
  def audioNearDupStream(media: DataFrame, idCol: String, contentCol: String,
                         maxHamming: Int = 2, frameLen: Int = 256,
                         watermark: String = "1 hour",
                         tsCol: String = "ts",
                         salvageRep: Boolean = false): Dataset[HammingMatch] =
    nearDupStream(
      // dirty blobs (null OR corrupt) map to a null fp via the SAFE
      // decode and drop at the shared ingest filter (see mediaNearDupStream)
      media.withColumn("__fp",
        graft.operators.Multimodal.audioFingerprintSafeUdf(col(contentCol),
          lit(frameLen))),
      idCol, "__fp", bits = 36, chunks = 3, maxHamming = maxHamming,
      maxBucket = 64, watermark = watermark, tsCol = tsCol,
      salvageRep = salvageRep)

  /** [[mediaNearDupStream]]'s VIDEO sibling — the ingest-tier face of
    * q_video_neardup, completing the streaming near-dup modality matrix
    * (text LSH, image dHash, now clips): each arriving blob walks the
    * real codec path ([[graft.operators.Multimodal.videoFingerprint]] —
    * stride-sampled Y4M/GIF frames folded into the 64-bit temporal-mean
    * dHash), so a re-posted clip with one edited frame lands within
    * `maxHamming` bits and is flagged in flight. Same chunk-keyed
    * saturating-bucket state machine and geometry as the image tier
    * (64 bits / 4 chunks, maxBucket=64 matching the batch call sites);
    * black/letterboxed clips all fingerprint to 0 and saturate the zero
    * bucket instead of sinking it. */
  def videoNearDupStream(media: DataFrame, idCol: String, contentCol: String,
                         maxHamming: Int = 3, stride: Int = 2,
                         watermark: String = "1 hour",
                         tsCol: String = "ts",
                         salvageRep: Boolean = false): Dataset[HammingMatch] =
    nearDupStream(
      // dirty blobs (null OR corrupt) map to a null fp via the SAFE
      // decode and drop at the shared ingest filter (see mediaNearDupStream)
      media.withColumn("__fp",
        graft.operators.Multimodal.videoFingerprintSafeUdf(col(contentCol),
          lit(stride))),
      idCol, "__fp", bits = 64, chunks = 4, maxHamming = maxHamming,
      maxBucket = 64, watermark = watermark, tsCol = tsCol,
      salvageRep = salvageRep)

  /** [[dedupStream]] keyed by CANONICAL URL instead of content
    * fingerprint — the streaming face of q_url_dedup: a crawl frontier
    * deduping fetches as they arrive, where the same page under
    * different tracking params / case / port spellings must collapse to
    * one fetch. Same watermark-bounded state contract; the canonical
    * form is computed by the one-pass [[graft.functions.TextNorm]]
    * kernel at scan time, so state is keyed by a short canonical string,
    * never the raw URL variants. */
  def urlDedupStream(events: DataFrame, urlCol: String,
                     watermark: String = "1 hour",
                     tsCol: String = "ts"): DataFrame =
    events
      .withColumn("__canon",
        graft.functions.TextNorm.canonicalizeUrlCol(col(urlCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__canon")
      .drop("__canon")

  /** Stream-stream inner join within an event-time window: each right-side
    * event joins the left-side events of the same key that happened at
    * most `windowMinutes` before it (the impression→click attribution
    * shape). BOTH sides carry watermarks and the join condition carries
    * the time RANGE — that pair is what lets Spark age out buffered rows;
    * a stream-stream join without them grows both state stores forever,
    * the streaming analog of the unpartitioned window. Output columns:
    * left prefixed `l_`, right prefixed `r_`. */
  def joinWithinWindow(left: DataFrame, right: DataFrame,
                       key: String, leftTs: String, rightTs: String,
                       windowMinutes: Int,
                       watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
      .toDF(left.columns.toIndexedSeq.map("l_" + _): _*)
    val r = right.withWatermark(rightTs, watermark)
      .toDF(right.columns.toIndexedSeq.map("r_" + _): _*)
    l.join(r,
      col("l_" + key) === col("r_" + key) &&
        col("r_" + rightTs) >= col("l_" + leftTs) &&
        col("r_" + rightTs) <=
          col("l_" + leftTs) + expr(s"INTERVAL $windowMinutes MINUTES"))
  }

  /** T1/X6: streaming location extraction from message text. Non-matching
    * messages yield NULL coords (regexp_extract returns '' there, and under
    * ANSI mode — Spark 4's default — a bare cast would throw). */
  def parseLocations(messages: DataFrame, textCol: String): DataFrame = {
    val pat = "(?i)Latitude\\s+([-+]?\\d+\\.?\\d*),\\s*Longitude\\s+([-+]?\\d+\\.?\\d*)"
    def grp(i: Int) =
      nullif(regexp_extract(col(textCol), pat, i), lit("")).cast("double")
    messages.withColumn("lat", grp(1)).withColumn("lon", grp(2))
  }

  case class ParsedMsg(event_id: Long, user_id: Long, ts: Timestamp,
                       lat: Option[Double], lon: Option[Double])
  case class Located(event_id: Long, user_id: Long, ts: Timestamp,
                     eff_lat: Option[Double], eff_lon: Option[Double])

  /** Pure per-group fold for [[withLastKnownLocation]]: each message gets
    * the last known (lat, lon) for its user — its own if it carries one,
    * else the carried state (the reference mutates conversation lat/lon
    * exactly this way, backend/main.py:549-552). */
  private[graft] def locGroup(msgs: Seq[ParsedMsg],
                              prior: Option[(Double, Double)])
      : (Seq[Located], Option[(Double, Double)]) = {
    var cur = prior
    val out = msgs.sortBy(m => (m.ts.getTime, m.event_id)).map { m =>
      (m.lat, m.lon) match {
        case (Some(la), Some(lo)) => cur = Some((la, lo))
        case _ =>
      }
      Located(m.event_id, m.user_id, m.ts, cur.map(_._1), cur.map(_._2))
    }
    (out, cur)
  }

  /** T1 keyed enrichment: every message annotated with the user's last
    * known location (their own coordinates if the message carries any, the
    * carried state otherwise). The stateful half of the chat pipeline; the
    * oracle-checked batch twin is q_last_location (a `last(_, ignoreNulls)`
    * window — same semantics, declarative plan). State is one (lat, lon)
    * pair per user: bounded, hash-partitioned, executor-local. */
  def withLastKnownLocation(msgs: Dataset[ParsedMsg]): Dataset[Located] = {
    import msgs.sparkSession.implicits._
    msgs.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Double), Located](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[ParsedMsg], state: GroupState[(Double, Double)]) =>
          val (out, cur) = locGroup(batch.toSeq, state.getOption)
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Entry point 2 END-TO-END (the WebSocket chat loop, main.py:512-610,
    * minus the two external RPCs): per message — regex-parse coordinates
    * (X6), carry last-known location as keyed state (main.py:549-552),
    * attach the deterministic stand-in embedding (G7; the reference's
    * Vertex call is the documented offline deviation). Input needs
    * (event_id, user_id, ts, <textCol>); output adds eff_lat/eff_lon and
    * a 16-dim embedding per message, streaming or batch. Composes the
    * three tested pieces in their reference order so the WHOLE loop runs
    * as one continuous query — persistence is [[sinkPartitioned]].
    */
  case class ChatMsg(event_id: Long, user_id: Long, ts: Timestamp,
                     text: String, lat: Option[Double], lon: Option[Double])
  case class ChatOut(event_id: Long, user_id: Long, ts: Timestamp,
                     text: String, eff_lat: Option[Double], eff_lon: Option[Double])

  def chatPipeline(messages: DataFrame, textCol: String,
                   embedDim: Int = 16): DataFrame = {
    import messages.sparkSession.implicits._
    val parsed = parseLocations(messages, textCol)
      .select(col("event_id"), col("user_id"), col("ts"),
        col(textCol).as("text"), col("lat"), col("lon"))
      .as[ChatMsg]
    // the text rides THROUGH the state function (a re-join after a
    // stateful operator would be a second stateful op with its own
    // watermark constraints); the location fold itself is the one shared
    // locGroup, so batch twin, streaming state and this pipeline cannot
    // drift apart
    val located = parsed.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Double, Double), ChatOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[ChatMsg], state: GroupState[(Double, Double)]) =>
          val msgs = batch.toSeq
          val (out, cur) = locGroup(
            msgs.map(m => ParsedMsg(m.event_id, m.user_id, m.ts, m.lat, m.lon)),
            state.getOption)
          cur.foreach(state.update)
          val textById = msgs.map(m => m.event_id -> m.text).toMap
          out.map(o => ChatOut(o.event_id, o.user_id, o.ts,
            textById(o.event_id), o.eff_lat, o.eff_lon)).iterator
      }
    located.toDF().withColumn("embedding",
      graft.functions.TextSig.embedUdf(col("text"), lit(embedDim)))
  }

  /** T3 trending leaderboard: per tumbling window, the k users with the
    * highest single event value — the mergeable bounded-buffer aggregate
    * ([[graft.operators.TopK]]) running INSIDE a streaming aggregation.
    * The streaming state per window is the k-bounded buffer itself, not
    * the window's rows: late batches fold into it exactly like map-side
    * partials do in the batch plan (the property PropertiesSpec pins).
    * A window-rank formulation would need the full window buffered —
    * unbounded per-window state the watermark can't save.
    */
  def topUsersPerWindow(events: DataFrame, k: Int,
                        windowLen: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen))
      .agg(graft.operators.TopK.topK(k)(col("user_id"), col("value")).as("tk"))
      .select(col("window.start").as("win_start"), posexplode(col("tk")))
      .select(col("win_start"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("user_id"), col("col.score").as("value"))

  /** Streaming ingest into the lake's partitioned layout: append each
    * micro-batch into a day=... Hive-partitioned parquet directory — the
    * bridge from the chat-loop stream (T1) to every batch operator here,
    * which then reads the same directory with directory-level pruning
    * ([[graft.sources.Maintenance.writePartitioned]]'s layout). The native
    * file sink keeps exactly-once via its commit log (a foreachBatch
    * append would be at-least-once); the day column is derived, so late
    * data lands in its OWN day's partition, never corrupting closed ones.
    * Streams write many small files per trigger by design —
    * [[graft.sources.Maintenance.compactTo]] is the companion job.
    */
  def sinkPartitioned(events: DataFrame, dir: String,
                      checkpointDir: String): StreamingQuery =
    events
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("day")
      .outputMode(OutputMode.Append)
      .start()

  /** Streaming writer for the PERSISTED embedding store: each micro-batch
    * is token-gated, mined against the pre-batch store
    * ([[graft.operators.Dedup.embeddingIncrementalPairs]] — new×corpus
    * and new×new, flat per-batch cost), and landed as a replay-idempotent
    * dynamic partition overwrite keyed by the micro-batch id
    * ([[graft.operators.Dedup.embedStoreIngestBatch]] has the full
    * ledger contract). This is the missing cadence between the in-flight
    * near-dup faces (state-bounded, [[embedNearDupStream]]) and the
    * batch-cadence refresh
    * ([[graft.operators.Dedup.embeddingIndexRefresh]]): the store a real
    * 100 TB ingest maintains is fed BY the stream, continuously, and
    * crash-replay must not double rows — [[sinkPartitioned]]'s caveat
    * that "a foreachBatch append would be at-least-once" is exactly the
    * hole the ledger closes, turning foreachBatch back into
    * exactly-once the same way the native file sink's commit log does.
    *
    * The returned writer still needs `.option("checkpointLocation", …)`
    * (the checkpoint is where replayed batch ids come from — without it
    * a restart renumbers batches from 0 and the exactly-once claim is
    * void) and a trigger; the store must be seeded with
    * [[graft.operators.Dedup.seedEmbedIngestStore]] first (a canonical
    * bucket-only store is refused loudly — no ledger, no replay
    * safety). Graduate increments into the canonical layout on the
    * audit cadence with
    * [[graft.sources.Maintenance.compactPartitionedTo]]
    * (`dropCols = Seq("ingest_batch")`), against a stopped stream. */
  def embedStoreIngest(rows: DataFrame, storeDir: String, pairsDir: String,
                       idCol: String, embCol: String,
                       dim: Int, planes: Int, threshold: Double,
                       maxBucket: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Dedup.embedStoreIngestBatch(batch.sparkSession,
          storeDir, pairsDir, batchId, batch.toDF(), idCol, embCol,
          dim, planes, threshold, maxBucket)
    }

  /** [[embedStoreIngest]] on the HAMMING face: a fingerprint stream
    * (image/audio/video perceptual hashes) feeding a persisted
    * [[graft.operators.Dedup.hammingChunkIndex]] store through the same
    * replay ledger — seed with
    * [[graft.operators.Dedup.seedHammingIngestStore]]. */
  def hammingStoreIngest(rows: DataFrame, storeDir: String, pairsDir: String,
                         idCol: String, hashCol: String,
                         bits: Int, chunks: Int, maxHamming: Int,
                         maxBucket: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Dedup.hammingStoreIngestBatch(batch.sparkSession,
          storeDir, pairsDir, batchId, batch.toDF(), idCol, hashCol,
          bits, chunks, maxHamming, maxBucket)
    }

  /** [[embedStoreIngest]] on the MINHASH face: a document stream feeding
    * a persisted [[graft.operators.Dedup.minhashBandIndex]] store through
    * the same replay ledger (candidate pairs out, like the batch
    * cadence) — seed with
    * [[graft.operators.Dedup.seedMinhashIngestStore]]. */
  def minhashStoreIngest(rows: DataFrame, storeDir: String, pairsDir: String,
                         idCol: String, textCol: String,
                         k: Int, bands: Int, shingleN: Int,
                         maxBucket: Int = Int.MaxValue)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Dedup.minhashStoreIngestBatch(batch.sparkSession,
          storeDir, pairsDir, batchId, batch.toDF(), idCol, textCol,
          k, bands, shingleN, maxBucket)
    }

  /** [[embedStoreIngest]] for the APPEND-ONLY serving stores: a vector
    * stream feeding a persisted IVF list layout exactly-once through the
    * replay ledger ([[graft.operators.AnnIndex.ivfStoreIngestBatch]] —
    * no mine; the store IS the serving product). The routing `model`
    * closes over the foreachBatch function, which runs on the driver —
    * nothing is serialized to executors beyond the assignment kernel it
    * already ships. Seed with
    * [[graft.operators.AnnIndex.seedIvfIngestStore]]. */
  def ivfStoreIngest(rows: DataFrame,
                     model: graft.operators.IvfModel,
                     storeDir: String, embCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.AnnIndex.ivfStoreIngestBatch(batch.sparkSession,
          model, storeDir, batchId, batch.toDF(), embCol)
    }

  /** [[ivfStoreIngest]]'s flat-layout twin for the PQ code table
    * ([[graft.operators.Quantize.pqStoreIngestBatch]]); seed with
    * [[graft.operators.Quantize.seedPqIngestStore]]. */
  def pqStoreIngest(rows: DataFrame,
                    codebooks: Array[Array[Array[Double]]],
                    storeDir: String, embCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Quantize.pqStoreIngestBatch(batch.sparkSession,
          codebooks, storeDir, batchId, batch.toDF(), embCol)
    }

  /** Exactly-once ENRICHMENT sink — the store writers' replay ledger
    * ([[Ledger]]) applied to the OUTPUT side of a streaming SERVE face.
    * A foreachBatch that appends per-batch serve results (each arriving
    * document's nearest corpus neighbors, its near-dup verdict, …) is
    * at-least-once: the engine replays the last uncommitted micro-batch
    * after a crash, and a replayed append silently doubles that batch's
    * result rows. Here each batch's results land as a whole-slice
    * overwrite at the explicit `outDir/ingest_batch=<id>` path, written
    * once, straight from the serve plan — results are a pure function
    * of (batch, static store), so a replay rewrites the slice
    * byte-identically — under the ledger's guards: a MONOTONIC
    * high-water mark of slices and commit markers (directory listing
    * only), and, when this batch's marker AND slice both exist, the
    * content-fingerprint compare that tells a true replay from a
    * renumbered foreign batch landing exactly ON the mark (paid only on
    * that rare path, where the results are evaluated a second time).
    * Marker present with the slice MISSING is the Overwrite crash
    * window (Overwrite deletes the old slice before the rewrite lands):
    * nothing to compare against, so the overwrite heals it — which is
    * why the mark refuses every id BELOW a surviving marker. An empty
    * result still lands one schema-bearing zero-row file, so `outDir`
    * is readable from the first micro-batch.
    * `spark.read.parquet(outDir)` sees the slices as one
    * `ingest_batch`-partitioned frame. */
  private[graft] def serveSinkBatch(spark: org.apache.spark.sql.SparkSession,
                                    outDir: String, batchId: Long,
                                    results: DataFrame, what: String): Unit = {
    val ledger = Ledger(spark, outDir, what, "Point the restarted stream " +
      "at a fresh outDir (or restore the original checkpoint)")
    ledger.requireMonotonic(batchId)
    ledger.requireReplay(batchId, results,
      spark.read.parquet(ledger.slice(batchId)))
    results.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(ledger.slice(batchId))
    ledger.commit(batchId)
  }

  /** Streaming SERVE face over the persisted wide-family ANN store: each
    * micro-batch of documents is answered by
    * [[graft.operators.AnnIndex.annJoinIndexed]] (the corpus never
    * re-buckets; the batch's queries broadcast; `probeBits` buys the
    * tuning sweep's measured recall) and the per-query top-k lands
    * exactly-once through [[serveSinkBatch]]. This closes the streaming
    * matrix's serve side: the near-dup faces carry state IN the stream,
    * the store writers feed the persisted index FROM the stream, and
    * this face answers the stream FROM the persisted index — the
    * "enrich every arriving document with its corpus neighbors" pattern
    * a 100 TB ingest pipeline runs continuously. The `store` frame is
    * static by contract (graduate/compact it against a stopped stream —
    * the store writers' own cadence rule). Nothing is checkpointed per
    * micro-batch: [[serveSinkBatch]] writes the results straight from
    * the serve plan, and the batch's only extra consumer is the O(1)
    * unique-query-id guard aggregate over the small query side. Needs
    * `.option("checkpointLocation", …)` and a trigger, like the store
    * writers. */
  def annServeStream(rows: DataFrame, qIdCol: String, qEmbCol: String,
                     store: DataFrame, dim: Int, planes: Int, k: Int,
                     outDir: String, probeBits: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        serveSinkBatch(batch.sparkSession, outDir, batchId,
          graft.operators.AnnIndex.annJoinIndexed(
            batch.toDF(), qIdCol, qEmbCol,
            store, dim, planes, k, probeBits),
          "annServeStream")
    }

  /** [[annServeStream]] over the persisted IVF list store
    * ([[graft.operators.AnnIndex.ivfJoinIndexed]] — routed probes, the
    * store never re-assigned or broadcast): the quantized serving
    * family's streaming face, same exactly-once result ledger. */
  def ivfServeStream(rows: DataFrame, qIdCol: String, qEmbCol: String,
                     model: graft.operators.IvfModel,
                     store: DataFrame, idCol: String, embCol: String,
                     k: Int, nProbe: Int, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        serveSinkBatch(batch.sparkSession, outDir, batchId,
          graft.operators.AnnIndex.ivfJoinIndexed(
            batch.toDF(), qIdCol, qEmbCol,
            model, store, idCol, embCol, k, nProbe),
          "ivfServeStream")
    }
}
