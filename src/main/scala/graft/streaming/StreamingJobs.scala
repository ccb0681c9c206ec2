package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.CrossEngine.dsum

/** Structured Streaming jobs (SURVEY.md §2 H). Each mirrors a batch
  * oracle query in operators.Events, so correctness is checked by
  * running the same logic in batch mode against the DuckDB-verified
  * results.
  *
  * Scale/state design: the tumbling aggregate is bounded by the
  * watermark (late state GC'd); the sessionizer keeps one small
  * state record per active user and emits a session as soon as the
  * gap closes it — state size is O(active users), not O(events).
  *
  * Every other head that keeps its own per-key state (not a Spark
  * aggregate's, join's or dedup's) is a per-key fold run by
  * [[keyedFold]]: a key function and a step `(key, events,
  * Option[state]) => (Option[next state], rows)`, called once per key
  * per micro-batch with the state that key holds (`None` before its
  * first write).
  * The step is a plain function, so a spec can replay it over any
  * split of the input without Spark. On a batch Dataset the same
  * call hands the step each key's complete group once with no state,
  * which is the reference semantics the streamed runs are checked
  * against. `sessionize` keeps the raw `flatMapGroupsWithState`: it
  * is the one head with an event-time timeout.
  */
object StreamingJobs {

  /** Runs `step` as a stateful head keyed by `key` (no timeout):
    * `step` gets one key's events of one micro-batch and the state
    * that key holds, and returns the state to hold next (`None` leaves
    * the held state as it is) and the rows to emit. */
  private def keyedFold[K: Encoder, E, S: Encoder, O: Encoder](events: Dataset[E],
      key: E => K, mode: OutputMode = OutputMode.Append)(
      step: (K, Iterator[E], Option[S]) => (Option[S], Iterator[O])): Dataset[O] =
    events.groupByKey(key).flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout) {
      (k: K, it: Iterator[E], state: GroupState[S]) =>
        val (next, out) = step(k, it, state.getOption)
        next.foreach(state.update)
        out
    }

  /** Hourly tumbling windows per event_type — streaming twin of
    * Events.qTumblingWindow. Works on any DataFrame with
    * (ts: timestamp, event_type: string, value: double), batch or
    * streaming. */
  def tumblingHourly(events: DataFrame): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", "2 hours") else events
    src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Streaming exact dedup: drop repeated (user_id, event_type)
    * pairs, with state GC'd past the watermark — the streaming twin
    * of operators.Dedup.dedupExact. On a batch frame it degrades to
    * plain dropDuplicates. */
  def dedupStream(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    if (events.isStreaming) {
      events.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("user_id", "event_type")
    } else {
      events.dropDuplicates("user_id", "event_type")
    }

  /** Streaming twin of `q_active_users_approx`
    * ([[graft.operators.Events.qActiveUsersApprox]]) — per-day HLL
    * DAU + trailing-7-day WAU from ONE stateful sliding-window
    * aggregation, the shape that query's scaladoc promises: sketches
    * are mergeable monoids, so the streaming engine's incremental
    * partial-merge per micro-batch IS the map-side merge the batch
    * plan does per scan.
    *
    * Each event lands in its 7 covering windows (the projected
    * sliding `window()` explode); the window's WAU sketch aggregates
    * every user_id, the DAU sketch only those in the window's LAST
    * day (the `when` guard — null inputs are skipped by sketch
    * aggs), so one (window → 2 sketches) state row serves both
    * numbers and the output day grid filters to observed days
    * (`dau_approx > 0` — an empty day-sketch estimates exactly 0),
    * matching the batch query's observed-day grid row for row.
    * Verified exactly equal to the batch form on a static frame
    * (HLL state is order-insensitive: it depends on the SET of
    * hashed uniques, so streamed arrival order cannot move the
    * estimate).
    *
    * State/scale: state is (active windows) × 2 sketches × 2^lgK
    * bytes — days-scale, never user-scale — GC'd past the watermark;
    * the per-event cost is 7 sketch updates (the sliding fan-out).
    * The chained form (1-day tumbling sketches re-unioned by a
    * second 7-day window agg, 1 update + 7 cheap day-sketch unions)
    * saves that ×7 at the price of append-mode-only multi-stateful
    * execution; this single-op form stays runnable in any output
    * mode and its ×7 is on a 4 KiB-bounded structure, not a shuffle.
    * Works on batch frames unchanged (that is how the spec and the
    * batch query cross-check it). */
  def activeUsersApproxStream(events: DataFrame, lgK: Int = 12): DataFrame = {
    val UsPerDay = 86400000000L
    val src =
      if (events.isStreaming) events.withWatermark("ts", "1 day") else events
    src
      .select(col("ts"), col("user_id"),
        window(col("ts"), "7 days", "1 day").as("w"))
      .groupBy(col("w"))
      .agg(
        hll_sketch_estimate(hll_sketch_agg(
          when(col("ts") >= col("w.end") - expr("INTERVAL 1 DAY"),
            col("user_id")), lgK)).as("dau_approx"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lgK))
          .as("wau_approx"))
      .select(
        (unix_micros(col("w.end")) / UsPerDay - 1).cast("long").as("day"),
        col("dau_approx"), col("wau_approx"))
      .filter(col("dau_approx") > 0)
  }

  /** Stream-stream interval join: each purchase joined to the views
    * by the same user in the preceding hour. Watermarks bound both
    * sides' state: a view older than (watermark − 1 h) can never
    * match a future purchase and is dropped. Works identically on
    * batch frames (no watermark needed). One shared definition with
    * the batch side (the oracle-paired `q_interval_join` aggregates
    * it): see [[graft.operators.Events.purchaseViewJoin]] — on a
    * streaming frame it attaches the two-sided watermarks for state
    * GC. */
  def purchaseViewJoin(events: DataFrame): DataFrame =
    graft.operators.Events.purchaseViewJoin(events)

  case class BandHit(doc_id: Long, band: Int, h0: Long, h1: Long)
  case class DupOut(doc_id: Long, dup_of: Long, band: Int)
  case class BucketState(minDoc: Long)

  /** Streaming near-dup dedup — the streaming twin of
    * `dedup_minhash`, possible because the minhash signature is a
    * pure per-row expression (operators.Dedup.minhashSignatures):
    * signatures and band keys are stateless projections, and the only
    * stateful step is one tiny record per band bucket (its canonical
    * = min doc_id seen). Each arriving doc that lands in a non-empty
    * bucket is emitted as (doc, canonical, band) — exactly the
    * "match new content against the retained representative" shape an
    * ingest-time dedup needs, without ever re-scanning the corpus.
    *
    * State is intentionally un-TTL'd: remembering the corpus IS the
    * product for ingest dedup; it is one long per non-empty bucket
    * (≈4/doc), sharded across executors by the bucket key, and lives
    * in the state store (RocksDB in production). Bounding it when the
    * product allows, in preference order: (1) time-bounded horizon —
    * `EventTimeTimeout` + a watermark GC idle buckets the same way
    * the sessionizer's state is GC'd; (2) COMPACTION for unbounded
    * horizons — the bucket state is exactly one
    * `Dedup.minhashIndexFrame` row, so a long-lived deployment
    * periodically snapshots the store into the manifest-committed
    * batch index (`Dedup.writeMinhashIndex` / `updateMinhashIndex`)
    * and restarts the stream fresh against it via
    * [[minhashDedupStreamAgainstIndex]]: the stream then carries only
    * the SINCE-snapshot buckets while the corpus history lives in
    * compacted parquet, a bounded-state split proven equivalent by
    * StreamingSpec's snapshot-restart test and the incremental-dedup
    * spec's write/update/probe path.
    *
    * On a batch frame the same code sees each bucket as one complete
    * group (processed in doc_id order), giving the identical
    * candidate set — StreamingSpec proves batch == streamed ==
    * signature-derived expectation. */
  def minhashDedupStream(docs: DataFrame): Dataset[DupOut] = {
    import docs.sparkSession.implicits._
    // shared bucket-key projection (Dedup.minhashBandRows) — the
    // stream and the incremental batch index probe the SAME buckets
    val bands = graft.operators.Dedup.minhashBandRows(docs).as[BandHit]
    keyedFold(bands, (b: BandHit) => (b.band, b.h0, b.h1)) {
      (key, it, st: Option[BucketState]) => admitDocs(key._1, it.map(_.doc_id), st)
    }
  }

  /** One bucket's stateful step, shared by both minhash heads: each
    * doc of the batch that is not the bucket's canonical (the min
    * doc_id admitted so far) is emitted against it. Docs are taken in
    * doc_id order within the batch: deterministic on any arrival
    * interleaving, and on a batch frame = the global bucket order. */
  private[graft] def admitDocs(band: Int, docs: Iterator[Long],
      st: Option[BucketState]): (Option[BucketState], Iterator[DupOut]) = {
    val out = ArrayBuffer.empty[DupOut]
    var canon = st.map(_.minDoc).getOrElse(Long.MaxValue)
    docs.toArray.sorted.foreach { d =>
      if (canon == Long.MaxValue) canon = d
      else if (d != canon) {
        out += DupOut(d, canon, band)
        canon = math.min(canon, d)
      }
    }
    (Some(BucketState(canon)), out.iterator)
  }

  case class BandHitIdx(doc_id: Long, band: Int, h0: Long, h1: Long,
    canon: Option[Long])

  /** [[minhashDedupStream]] restarted AGAINST a compacted index — the
    * stream half of the scaladoc's compaction path, now code: the
    * history's bucket canonicals live in the manifest-committed
    * parquet index (`Dedup.writeMinhashIndex`/`updateMinhashIndex`),
    * joined in as a STREAM-STATIC equi-join on the bucket key (static
    * side re-resolved per micro-batch, so a concurrent
    * `updateMinhashIndex` publish is picked up at the next batch).
    * Buckets present in the index never touch the state store — their
    * canonical is fixed (under the monotone-ingest model every
    * history doc_id < every new doc_id, so the min can't move), the
    * arriving doc compares against it statelessly. Only buckets the
    * snapshot has never seen fall through to the stateful machine,
    * which is the bounded-state split: state ∝ SINCE-snapshot new
    * signatures, history ∝ compacted parquet. Equivalence with the
    * uninterrupted stream (same emissions for post-snapshot docs,
    * state rows = new buckets only) is pinned by StreamingSpec. */
  def minhashDedupStreamAgainstIndex(docs: DataFrame,
      index: DataFrame): Dataset[DupOut] = {
    import docs.sparkSession.implicits._
    val bands = graft.operators.Dedup.minhashBandRows(docs)
      .join(index.withColumnRenamed("canon", "idx_canon"),
        Seq("band", "h0", "h1"), "left_outer")
      .select(col("doc_id"), col("band"), col("h0"), col("h1"),
        col("idx_canon").as("canon"))
      .as[BandHitIdx]
    keyedFold(bands, (b: BandHitIdx) => (b.band, b.h0, b.h1)) {
      (key, it, st: Option[BucketState]) =>
        val hits = it.toArray
        hits.headOption.flatMap(_.canon) match {
          case Some(histCanon) =>
            // history bucket: canonical is the snapshot's — stateless
            // (state is never created, the bounded-state guarantee)
            (None, hits.map(_.doc_id).filter(_ != histCanon).sorted.iterator
              .map(d => DupOut(d, histCanon, key._1)))
          case None => admitDocs(key._1, hits.iterator.map(_.doc_id), st)
        }
    }
  }

  // ------------------------------------------------------------- video near-dup
  case class FrameBandHit(doc_id: Long, frame_no: Int, phash: Long,
    band: Int, bv: Long)
  case class FrameDupOut(doc_id: Long, frame_no: Int, dup_of: Long,
    band: Int, hamming: Int)
  case class FrameBucketState(minDoc: Long, minFrame: Int, phash: Long,
    seen: Long)

  /** Streaming video near-dup — the ingest twin of
    * `Multimodal.videoDupStats`, possible because the per-frame
    * signature is a stateless narrow map (`demuxFrameHashes`) and the
    * band keys (`Multimodal.frameBandPostings`, 10 two-band subset keys
    * per frame) are pure projections. The stateful step is
    * the minhashDedupStream bucket pattern with one addition: the
    * bucket retains the canonical frame's FULL 64-bit hash, so an
    * arriving frame VERIFIES with a popcount before it is emitted —
    * band equality alone is a candidate, not a match. `bucketCap` is
    * the ingest-time form of the batch side's hot-band df cap: a
    * bucket that has admitted more frames stops matching (black
    * frames / title cards would otherwise route a corpus's worth of
    * traffic through one state key). State: ONE fixed-size record per
    * non-empty bucket, sharded by the bucket key; it grows with
    * distinct frame signatures, so at ingest scale the store is
    * bounded by [[videoDupStreamAgainstIndex]]'s snapshot + restart.
    * Emits each frame that near-matches the retained canonical of
    * ANOTHER doc, per band key (consumers distinct on (doc_id,
    * frame_no), like the batch side). On a batch frame the same code
    * sees each bucket as one complete group in (doc_id, frame_no)
    * order — StreamingSpec proves streamed == batch == the planted
    * re-encode expectation. The keys are 5-band agree-2 subsets, not
    * 4×16-bit bands, because a 16-bit bucket's one canonical is
    * displaced once the key space saturates: measured streamed recall
    * 0.375 vs ≈1.0 on the saturating corpus (SCALING.md r18). */
  def videoDupStream(hashes: Dataset[graft.operators.Multimodal.FrameHash],
      maxHamming: Int = 3, bucketCap: Long = 4096L): Dataset[FrameDupOut] = {
    import hashes.sparkSession.implicits._
    graft.operators.Multimodal.requireVideoHamming(maxHamming)
    // the SAME posting projection as the batch kernels — a stateless
    // narrow map, so the stream and batch sides bucket identically
    val bands = graft.operators.Multimodal
      .frameBandPostings(hashes.toDF("doc_id", "frame_no", "phash"))
      .as[FrameBandHit]
    keyedFold(bands, (b: FrameBandHit) => (b.band, b.bv)) {
      (key, it, st: Option[FrameBucketState]) =>
        admitFrames(maxHamming, bucketCap)(key._1, it, st)
    }
  }

  /** One bucket's stateful step, shared by both video heads. Hits are
    * taken in (doc_id, frame_no) order WITHIN one micro-batch: the
    * emitted set is deterministic for any interleaving inside a batch;
    * on a batch frame (one batch = everything) that is global order.
    * ACROSS batches the canonical is the min doc admitted SO FAR: if a
    * lower doc_id first arrives in a LATER batch, earlier batches' rows
    * were matched against the then-canonical and are not retracted
    * (append mode) — the (doc_id, dup_of) attribution can differ from
    * the single-batch run, while "which frames are flagged at all"
    * still requires a ≤maxHamming canonical match. StreamingSpec pins
    * both: the single-batch == batch equality and the two-batch
    * late-canonical contract. */
  private[graft] def admitFrames(maxHamming: Int, bucketCap: Long)(band: Int,
      hits: Iterator[FrameBandHit], held: Option[FrameBucketState])
      : (Option[FrameBucketState], Iterator[FrameDupOut]) = {
    val out = ArrayBuffer.empty[FrameDupOut]
    var st = held.getOrElse(FrameBucketState(Long.MaxValue, 0, 0L, 0L))
    hits.toArray.sortBy(h => (h.doc_id, h.frame_no)).foreach { h =>
      if (st.seen < bucketCap) {
        if (st.minDoc == Long.MaxValue)
          st = st.copy(minDoc = h.doc_id, minFrame = h.frame_no,
            phash = h.phash)
        else if (h.doc_id != st.minDoc) {
          val ham = java.lang.Long.bitCount(h.phash ^ st.phash)
          if (ham <= maxHamming)
            out += FrameDupOut(h.doc_id, h.frame_no, st.minDoc, band, ham)
          // canonical stays the minimum (doc, frame) admitted
          if (h.doc_id < st.minDoc)
            st = st.copy(minDoc = h.doc_id, minFrame = h.frame_no,
              phash = h.phash)
        }
      }
      st = st.copy(seen = st.seen + 1)
    }
    (Some(st), out.iterator)
  }

  case class FrameBandHitIdx(doc_id: Long, frame_no: Int, phash: Long,
    band: Int, bv: Long, canon_doc: Option[Long], canon_phash: Option[Long])

  /** [[videoDupStream]] restarted AGAINST a compacted frame index —
    * the compaction path the head's state model needs at ingest
    * scale (r18 measurement: state grows with distinct frame
    * signatures, 5.0 M rows / 1.67 GB on the saturating sf10 corpus),
    * now code instead of a scaladoc promise. The history's bucket
    * canonicals (min (doc_id, frame_no) + full 64-bit hash — exactly
    * one [[graft.operators.Multimodal.frameIndexFrame]] row, i.e. the
    * state record) live in manifest-committed parquet
    * (`Multimodal.writeFrameIndex`/`updateFrameIndex`); the stream
    * joins them in as a STREAM-STATIC equi-join on (band, bv), static
    * side re-resolved per micro-batch. A bucket present in the index
    * never touches the state store: its canonical is fixed under the
    * monotone-ingest model, the arriving frame popcount-verifies
    * against the snapshot's canonical hash statelessly. Only
    * never-snapshotted buckets fall through to the stateful machine —
    * state ∝ SINCE-snapshot new signatures, so a periodic
    * `updateFrameIndex` + restart bounds the store to the
    * between-snapshot window. `bucketCap` applies only to the
    * stateful (new-bucket) side: a history bucket costs one fixed
    * popcount per arrival with no state growth, which is the work the
    * cap existed to bound. Equivalence with the uninterrupted stream
    * (same emissions for post-snapshot frames, state rows = new
    * buckets only) is pinned by StreamingSpec. */
  def videoDupStreamAgainstIndex(hashes: Dataset[graft.operators.Multimodal.FrameHash],
      index: DataFrame, maxHamming: Int = 3,
      bucketCap: Long = 4096L): Dataset[FrameDupOut] = {
    import hashes.sparkSession.implicits._
    graft.operators.Multimodal.requireVideoHamming(maxHamming)
    val bands = graft.operators.Multimodal
      .frameBandPostings(hashes.toDF("doc_id", "frame_no", "phash"))
      .join(index.select(col("band"), col("bv"), col("canon_doc"),
        col("canon_phash")), Seq("band", "bv"), "left_outer")
      .as[FrameBandHitIdx]
    keyedFold(bands, (b: FrameBandHitIdx) => (b.band, b.bv)) {
      (key, it, st: Option[FrameBucketState]) =>
        val hits = it.toArray.sortBy(h => (h.doc_id, h.frame_no))
        hits.headOption.flatMap(h => h.canon_doc.zip(h.canon_phash)) match {
          case Some((histDoc, histHash)) =>
            // history bucket: verify against the snapshot canonical,
            // stateless (state is never created — the bounded split)
            (None, hits.iterator.filter(_.doc_id != histDoc).flatMap { h =>
              val ham = java.lang.Long.bitCount(h.phash ^ histHash)
              if (ham <= maxHamming)
                Iterator.single(FrameDupOut(h.doc_id, h.frame_no, histDoc, key._1, ham))
              else Iterator.empty
            })
          case None =>
            admitFrames(maxHamming, bucketCap)(key._1, hits.iterator.map(h =>
              FrameBandHit(h.doc_id, h.frame_no, h.phash, h.band, h.bv)), st)
        }
    }
  }


  // ------------------------------------------------------------- CDC changelog
  case class CdcEv(user_id: Long, event_id: Long, event_type: String,
    value: Double, us: Long)
  case class CdcState(event_id: Long, event_type: String, value: Double,
    us: Long)
  case class CdcOut(user_id: Long, change: String,
    old_event_id: Option[Long], new_event_id: Long,
    old_type: Option[String], new_type: String,
    old_value: Option[Double], new_value: Double)

  /** Streaming CDC changelog — the ingest-time twin of
    * `Events.qTableDiff`/`asOfDiff`: per-key "profile" state (the
    * latest event's id/type/value) kept by [[keyedFold]];
    * each micro-batch emits ONE net change row per key that advanced
    * ('added' on first sight, 'changed' after — intermediate events
    * inside a batch collapse, the CDC compaction every changelog
    * consumer expects). Out-of-order stragglers older than the held
    * state advance nothing and emit nothing (state keeps the
    * (us, event_id) max, same total order as the batch max_by).
    *
    * EQUIVALENCE CONTRACT (StreamingSpec): feed events < T1 as batch
    * 1 and [T1, T2) as batch 2 — batch 2's emissions ARE
    * `asOfDiff(events, T1, T2)`, because batch 1 left each key's
    * state at exactly the as-of-T1 profile. State is O(keys) with no
    * timeout (a profile table's natural size); at an unbounded key
    * space compose a GroupStateTimeout TTL like the sessionizer's. */
  def cdcStream(events: Dataset[CdcEv]): Dataset[CdcOut] = {
    import events.sparkSession.implicits._
    keyedFold(events, (e: CdcEv) => e.user_id)(cdcStep)
  }

  /** [[cdcStream]]'s step: writes state only when the profile moved. */
  private[graft] def cdcStep(uid: Long, it: Iterator[CdcEv], old: Option[CdcState])
      : (Option[CdcState], Iterator[CdcOut]) = {
    var latest = old.orNull
    it.foreach { e =>
      if (latest == null || e.us > latest.us ||
          (e.us == latest.us && e.event_id > latest.event_id))
        latest = CdcState(e.event_id, e.event_type, e.value, e.us)
    }
    if (latest == null || old.contains(latest)) (None, Iterator.empty)
    else (Some(latest), Iterator.single(CdcOut(uid,
      if (old.isEmpty) "added" else "changed",
      old.map(_.event_id), latest.event_id,
      old.map(_.event_type), latest.event_type,
      old.map(_.value), latest.value)))
  }

  // ------------------------------------------------------------- as-of enrich
  case class AsOfEv(user_id: Long, event_id: Long, event_type: String, us: Long)
  case class AsOfOut(user_id: Long, purchase_event_id: Long,
    purchase_us: Long, last_view_us: Option[Long])

  /** Streaming as-of enrichment — the ingest twin of the as-of join
    * family (`q_asof_join` / the native AsOf exec): per-key state is
    * the running max view time; each arriving purchase emits
    * immediately, enriched with the latest view at-or-before it
    * (kdb aj / pandas merge_asof backward semantics, including the
    * equal-time tie: within a batch events fold in (us, views-first)
    * order, so a view at exactly the purchase's time is visible to
    * it — the batch window's `event_type desc` tie rule).
    *
    * On a batch Dataset the same call sees each key's full history in
    * one group and equals `Advanced.qAsofJoin` row-for-row
    * (StreamingSpec proves both this and the time-split streamed ==
    * batch equivalence). Streaming trade-off, stated: a view arriving
    * LATE (after a purchase it should have enriched was already
    * emitted) cannot retro-correct an append-mode emission — the
    * batch as-of is the reconciliation pass, this is the low-latency
    * path. State = one long per key, no timeout (compose the
    * sessionizer's TTL for unbounded key spaces). */
  def asofEnrichStream(events: Dataset[AsOfEv]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    keyedFold(events, (e: AsOfEv) => e.user_id)(asofStep)
  }

  /** [[asofEnrichStream]]'s step: holds no state until a view. */
  private[graft] def asofStep(uid: Long, it: Iterator[AsOfEv], st: Option[Long])
      : (Option[Long], Iterator[AsOfOut]) = {
    // views sort before purchases at equal us (tie rule above)
    val evs = it.toArray.sortBy(e => (e.us, if (e.event_type == "view") 0 else 1))
    var lastView = st.getOrElse(Long.MinValue)
    val out = ArrayBuffer.empty[AsOfOut]
    evs.foreach { e =>
      if (e.event_type == "view") {
        if (e.us > lastView) lastView = e.us
      } else if (e.event_type == "purchase") {
        out += AsOfOut(uid, e.event_id, e.us,
          if (lastView == Long.MinValue) None else Some(lastView))
      }
    }
    (Some(lastView).filter(_ != Long.MinValue), out.iterator)
  }

  // ------------------------------------------------------------------ ewma
  case class EwmaEv(user_id: Long, event_id: Long, us: Long, v: Double)
  case class EwmaState(s: Double, us: Long, eventId: Long, n: Long)
  case class EwmaOut(user_id: Long, n: Long, ewma: Double)

  /** Streaming EWMA — the ingest twin of `Events.qEwma`, and the case
    * where streaming state is STRICTLY SMALLER than the batch
    * operator's: the recurrence sᵢ = (sᵢ₋₁ + vᵢ)/2 needs ONE double
    * per key, while the batch form must collect a 32-event window to
    * pin its fold order. The two meet through the horizon bound: the
    * stream folds a key's ENTIRE history, the batch only the last 32
    * events, and the dropped prefix enters the full fold with total
    * weight 2⁻³¹ — so |stream − batch| ≤ max|v| · 2⁻³¹ (≈ 5e-7 at
    * this corpus's value range), the documented tolerance contract
    * StreamingSpec asserts (the one streamed/batch pair where
    * agreement is an INEQUALITY by design, not bit-equality — the
    * sessionizer note explains why each pair states its own
    * contract).
    *
    * Within a micro-batch, events fold in (us, event_id) order;
    * across batches they fold in arrival order (an event arriving
    * after a later-timestamped one folds late — append-mode cost,
    * same trade as `asofEnrichStream`; the batch q_ewma is the
    * reconciliation pass). Each batch emits the key's updated
    * (n, ewma); a consumer keeps the latest row per key. State is
    * O(keys) with no timeout — compose the sessionizer's TTL for
    * unbounded key spaces. */
  def ewmaStream(events: Dataset[EwmaEv]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    keyedFold(events, (e: EwmaEv) => e.user_id)(ewmaStep)
  }

  private[graft] def ewmaStep(uid: Long, it: Iterator[EwmaEv], held: Option[EwmaState])
      : (Option[EwmaState], Iterator[EwmaOut]) = {
    var st = held.getOrElse(EwmaState(Double.NaN, Long.MinValue, Long.MinValue, 0L))
    it.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
      st = EwmaState(if (st.n == 0L) e.v else (st.s + e.v) / 2.0, e.us, e.event_id, st.n + 1L)
    }
    (Some(st), Iterator.single(EwmaOut(uid, st.n, st.s)))
  }

  // ------------------------------------------------------------------ cusum
  case class CusumEv(user_id: Long, event_id: Long, us: Long, v: Long)
  case class CusumState(s: Long, minS: Long, cmax: Long, atEvent: Long,
      n: Long)
  case class CusumOut(user_id: Long, n: Long, cusum_max: Double,
      at_event: Long, drift: Boolean)

  /** Streaming CUSUM drift monitor — the ingest twin of
    * `Events.qCusum` in its MONITORING form: the offline query
    * references each user's full-history mean (which needs the
    * future), the production stream monitors against a CALIBRATED
    * in-control level μ'₀ — exactly `cusumOf(ev, Some(mu0Micro))`,
    * and because every quantity is integer arithmetic (prefix sum,
    * running min, max, first-argmax tie-break; v already scaled to
    * micro-units), streamed == batch BIT-EXACTLY on a time-split
    * feed, the strongest contract in the streaming suite next to the
    * HLL job. State is FIVE longs per key (the unrolled recurrence's
    * running sum, running min, max, its first event, count) — no
    * window, no history; the same append-mode arrival-order caveat
    * as `ewmaStream` applies, with the batch form as reconciliation.
    * Emits the key's updated row each batch; a consumer keeps the
    * latest. */
  def cusumStream(events: Dataset[CusumEv], mu0Micro: Long): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    keyedFold(events, (e: CusumEv) => e.user_id)(cusumStep(mu0Micro))
  }

  private[graft] def cusumStep(mu0Micro: Long)(uid: Long, it: Iterator[CusumEv],
      held: Option[CusumState]): (Option[CusumState], Iterator[CusumOut]) = {
    val kappa = graft.operators.Events.CusumSlackMicro
    var st = held.getOrElse(CusumState(0L, 0L, Long.MinValue, Long.MinValue, 0L))
    it.toArray.sortBy(e => (e.us, e.event_id)).foreach { e =>
      val s = st.s + (e.v - kappa - mu0Micro)
      val minS = math.min(st.minS, s) // min includes S₀ = 0
      val c = s - math.min(0L, minS)
      // batch tie rule: the MIN event_id among rows attaining
      // the max (min(when(c === cmax, event_id)) in cusumOf)
      val (cmax, at) =
        if (c > st.cmax) (c, e.event_id)
        else if (c == st.cmax) (st.cmax, math.min(st.atEvent, e.event_id))
        else (st.cmax, st.atEvent)
      st = CusumState(s, minS, cmax, at, st.n + 1L)
    }
    val units = math.floor(st.cmax.toDouble / 1e6 * 1e4 + 0.5) / 1e4
    (Some(st), Iterator.single(
      CusumOut(uid, st.n, units, st.atEvent, units > graft.operators.Events.CusumH)))
  }

  case class Ev(user_id: Long, us: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      duration_us: Long, session_start_us: Long)
  case class SessState(sessionSeq: Long, start: Long, last: Long, n: Long)

  /** Gap-based sessionizer — streaming twin of Events.qSessionize.
    *
    * On a streaming Dataset, state carries the open session per user
    * across micro-batches. Closed sessions are emitted either when a
    * later event closes the gap OR — via `EventTimeTimeout` — when
    * the watermark passes the session's gap deadline, so an idle
    * user's final session is emitted without any follow-up event and
    * its state is removed (state stays O(active users) and is GC'd,
    * not merely bounded). On a batch Dataset the same code sees each
    * user's full history in one group and emits every session,
    * matching qSessionize exactly.
    *
    * KEYING CONTRACT: `session_id` is the per-user session INDEX
    * within one state lifetime — after a timeout GCs a user's state,
    * a returning user's index restarts at 1 (remembering it forever
    * would make state O(users ever seen), defeating the GC). The
    * globally stable session key is `(user_id, session_start_us)` —
    * event times within a user are unique per session start — so
    * downstream consumers must key on that, not on session_id.
    */
  def sessionize(events: Dataset[Ev], gapUs: Long = 1800000000L,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    // EventTimeTimeout needs a watermark: derive an event-time column
    // from the micros (extra columns are invisible to the Ev encoder)
    val src: Dataset[Ev] =
      if (streaming)
        events.withColumn("event_time",
          org.apache.spark.sql.functions.expr("timestamp_micros(us)"))
          .withWatermark("event_time", watermarkDelay)
          .as[Ev]
      else events
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          if (streaming && state.hasTimedOut) {
            // watermark passed (last + gap): the open session is final
            val st = state.get
            state.remove()
            Iterator.single(
              SessionOut(uid, st.sessionSeq, st.n, st.last - st.start, st.start))
          } else {
            val evs = it.map(_.us).toArray.sorted
            var st = state.getOption.getOrElse(SessState(0L, -1L, -1L, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            evs.foreach { us =>
              if (st.n == 0L) {
                st = SessState(st.sessionSeq + 1, us, us, 1L)
              } else if (us - st.last > gapUs) {
                out += SessionOut(uid, st.sessionSeq, st.n, st.last - st.start, st.start)
                st = SessState(st.sessionSeq + 1, us, us, 1L)
              } else {
                st = st.copy(last = us, n = st.n + 1)
              }
            }
            if (streaming) {
              state.update(st)
              // fire once the watermark passes the gap deadline; if the
              // deadline is already behind the watermark, next batch
              val deadlineMs = (st.last + gapUs) / 1000L + 1L
              state.setTimeoutTimestamp(
                math.max(deadlineMs, state.getCurrentWatermarkMs() + 1L))
            } else if (st.n > 0) {
              // batch: the group is complete — flush the final session
              out += SessionOut(uid, st.sessionSeq, st.n, st.last - st.start, st.start)
            }
            out.iterator
          }
      }
  }

  /** Ingest-time benchmark decontamination — the STREAM-STATIC
    * broadcast join shape (no state, no watermark: the static side is
    * a plain batch frame Spark re-broadcasts per micro-batch).
    * Arriving docs explode into per-row 5-gram projections and probe
    * the eval set's distinct-ngram table; every collision emits
    * (doc_id, ngram, eval_doc) immediately — append-mode legal since
    * the operator is stateless. The batch-mode form of the same call
    * is the verification oracle (StreamingSpec). At 100 TB-ingest the
    * eval table is small by nature (benchmarks, not corpora), exactly
    * the broadcast-static side this plan wants.
    *
    * DELIBERATE divergence from the batch kernels' `Tables.dimHint`
    * (which size-gates the same join in `decontaminateAgainst`):
    * streaming plans run WITHOUT AQE, so a withheld hint cannot be
    * rescued by runtime re-planning — it becomes a per-micro-batch
    * shuffle of the STREAM side against a static frame. The static
    * side of a stream-static join must therefore be broadcast-sized
    * BY CONTRACT: callers with an oversized eval suite should thin it
    * upstream (distinct n-grams of the benchmark split, not a corpus)
    * rather than expect the planner to absorb it.
    *
    * `docs` needs (doc_id, text); `evalNgrams` needs (es, eval_doc). */
  def decontaminateStream(docs: DataFrame, evalNgrams: DataFrame): DataFrame =
    // one 5-gram definition repo-wide: the batch decontamination owns
    // it — a drifting copy here would silently desynchronize the
    // ingest-time filter from the batch keep/drop list
    graft.operators.Pipelines.fivegrams(docs)
      .join(broadcast(evalNgrams), col("s") === col("es"))
      .select(col("doc_id"), col("s").as("ngram"), col("eval_doc"))

  /** Ingest-time weighted mixture sampling — the batch
    * [[graft.operators.Pipelines.sampleWeighted]] rule applied at the
    * stream head (one shared definition, like the 5-grams above). The
    * keep/drop decision is a salted-hash projection of the row's own
    * id: NO state, NO watermark, append-legal, and membership is
    * identical to the batch pass — so a historical backfill and the
    * live stream select the same corpus, the property that makes
    * mid-stream re-weighting auditable. */
  def mixtureSampleStream(docs: DataFrame,
      bp: org.apache.spark.sql.Column, salt: String): DataFrame =
    graft.operators.Pipelines.sampleWeighted(docs, bp, salt)

  /** Ingest-time quality gating — the batch
    * [[graft.operators.TextAnalysis.qualityRules]] projection applied
    * at the stream head (ONE shared rule definition): every arriving
    * document is measured, gated, and tagged with its `fail_reason`
    * before anything downstream pays for it. Stateless per-row
    * expressions — no watermark, append-legal — so the stream admits
    * exactly the documents the batch gate would keep, and rejected
    * docs carry their named cause into the quarantine sink. */
  def qualityFilterStream(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.qualityRules(docs)

  /** Ingest-time scene-cut detection — the batch
    * [[graft.operators.Multimodal.sceneCutFrameCols]] projection
    * (ONE shared kernel) applied at the stream head: every arriving
    * media payload is stamped with its maximal frame transition
    * before it is stored, so a curation rule can quarantine
    * static/degenerate media on arrival. A document's frames never
    * leave its row (the native NibbleHistFrames pass + in-row HOF
    * folds), so this is a stateless per-row projection — no
    * watermark, append-legal — and streamed == batch BIT-EQUAL by
    * construction; StreamingSpec proves the plumbing. */
  def sceneCutStream(docs: DataFrame,
      payload: org.apache.spark.sql.Column): DataFrame =
    graft.operators.Multimodal.sceneCutFrameCols(docs, payload)

  /** Ingest-time winnowing fingerprints — the batch
    * [[graft.operators.Dedup.winnowFingerprintHashes]] projection
    * (ONE shared kernel) at the stream head: every arriving document
    * is stamped with its MOSS fingerprint hashes, the rows an
    * incremental near-dup index ingests (the `dedup_incremental`
    * band-index pattern at winnowing granularity — the pair JOIN
    * stays a batch/index concern; a stream only fingerprints).
    * Stateless per-row in-row folds — no watermark, append-legal —
    * so streamed == batch BIT-EQUAL by construction; StreamingSpec
    * proves the plumbing. */
  def winnowStream(docs: DataFrame): DataFrame =
    graft.operators.Dedup.winnowFingerprintHashes(docs)

  /** Ingest-time shard routing — the batch permutation's assignment
    * half ([[graft.operators.Pipelines.shardOf]], ONE shared hash
    * definition) applied at the stream head: every arriving document
    * is stamped with the training shard the batch shuffle would give
    * it, so live ingest and backfill write the same shard files.
    * Stateless per-row projection — no watermark, append-legal.
    * (In-shard POSITIONS are a batch concern: they are ranks over the
    * finished shard; a stream only routes.) */
  def shardAssignStream(docs: DataFrame,
      shards: Int = graft.operators.Pipelines.ShuffleShards): DataFrame =
    docs.withColumn("shard",
      graft.operators.Pipelines.shardOf(
        org.apache.spark.sql.functions.col("doc_id"), shards))

  /** One observed token: `shard` is its state key (hash-disjoint:
    * a token lives in exactly ONE shard), `seq` a deterministic
    * processing order within the shard (MG output is order-dependent;
    * a fixed fold order is what lets the spec prove streamed ==
    * batch bit-for-bit). */
  case class MgTok(shard: Int, seq: Long, tok: String)
  /** Current sketch snapshot row for a shard after `n_seen` tokens. */
  case class MgSnap(shard: Int, token: String, min_count: Long, n_seen: Long)
  case class MgState(counts: Map[String, Long], n: Long)

  /** One arriving document for the streaming source quota: `seq` is
    * the deterministic arrival order within its source (admission is
    * order-dependent by design — "first N win"). */
  case class CapDoc(source: String, seq: Long, doc_id: Long)
  /** An ADMITTED document and its 1-based admission rank. */
  case class CapKept(doc_id: Long, source: String, admit_rank: Long)

  /** Streaming per-source admission quota — the ingest-time twin of
    * the batch `q_domain_cap`: admit the first `cap` documents per
    * source in arrival order, drop the rest. State is ONE long per
    * source (the admitted count) — independent of document count —
    * and emissions are append-only (each doc decided exactly once on
    * arrival), so the job composes with any downstream append
    * pipeline. Batch picks by deterministic md5 order over the full
    * corpus; a stream cannot (it would have to hold every doc), so
    * arrival order IS the streaming quota's contract — documented,
    * not hidden. Un-TTL'd state like the sketches: one counter per
    * source summarizes the whole ingest history.
    *
    * On a batch Dataset the same fold runs per complete group —
    * StreamingSpec proves streamed == batch == the first-cap prefix
    * per source. */
  def capPerSourceStream(docs: Dataset[CapDoc], cap: Int): Dataset[CapKept] = {
    import docs.sparkSession.implicits._
    require(cap >= 0, s"bad cap $cap")
    keyedFold(docs, (d: CapDoc) => d.source)(capStep(cap))
  }

  /** [[capPerSourceStream]]'s step: writes the admitted count on every
    * batch, also when the source is already full. */
  private[graft] def capStep(cap: Int)(src: String, it: Iterator[CapDoc], st: Option[Long])
      : (Option[Long], Iterator[CapKept]) = {
    val n = st.getOrElse(0L)
    val room = math.max(0L, cap - n).toInt
    if (room == 0) { it.foreach(_ => ()); return (Some(n), Iterator.empty) }
    // only the `room` smallest seqs can be admitted, so keep a
    // size-bounded max-heap instead of materializing and sorting
    // the whole group: on the batch path a group is an ENTIRE
    // source's documents, and O(group) working memory would
    // contradict the operator's own bounded-state claim
    val pq = scala.collection.mutable.PriorityQueue.empty[CapDoc](Ordering.by(_.seq))
    it.foreach { d =>
      if (pq.size < room) pq.enqueue(d)
      else if (d.seq < pq.head.seq) { pq.dequeue(); pq.enqueue(d) }
    }
    val kept = pq.dequeueAll.reverse // ascending seq = arrival order
    (Some(n + kept.size),
      kept.iterator.zipWithIndex.map { case (d, i) => CapKept(d.doc_id, src, n + i + 1) })
  }

  /** One observed token for the streaming CMS (same hash-disjoint
    * sharding contract as [[MgTok]]; no `seq` — CMS counters are
    * exact sums, so the fold is ORDER-FREE, the property the batch
    * oracle check exploits). */
  case class CmsTok(shard: Int, tok: String)
  /** One probe-cell snapshot: the shard's depth-`i` counter at the
    * probe token's bucket after `n_seen` tokens. The GLOBAL estimate
    * is min over i of (Σ over shards of cell) — sum matrices FIRST,
    * then take the row min (shard-disjoint counts make the summed
    * matrix exactly the single-sketch matrix; a min-then-sum would
    * be wrong). */
  case class CmsCell(shard: Int, token: String, i: Int, cell: Long, n_seen: Long)
  case class CmsState(cells: Seq[Long], n: Long)

  /** Streaming Count-Min frequency estimates — the
    * `functions.CountMinMatrix` sketch as [[keyedFold]]
    * state, one depth×width counter matrix per hash-disjoint token
    * shard (same [[graft.functions.CmsCore]] bucket hash, so the
    * batch aggregate, the Column probes, the DuckDB oracle, and this
    * job cannot drift). Per micro-batch each shard emits its probe
    * cells (Update mode); state = shards × depth × width longs,
    * independent of vocabulary AND of stream length — the ingest-time
    * answer to "how often has token x occurred so far" without
    * per-key state. Un-TTL'd like the MG sketch: it summarizes the
    * whole ingest history.
    *
    * On a batch Dataset the same fold runs per complete group —
    * StreamingSpec proves streamed == batch == the Catalyst
    * aggregate's matrix, exactly (no tolerance: sums commute). */
  def cmsStream(toks: Dataset[CmsTok], depth: Int, width: Int,
      probes: Seq[String]): Dataset[CmsCell] = {
    import toks.sparkSession.implicits._
    import graft.functions.CmsCore
    // same plan-time contract as the batch CountMinMatrix aggregate:
    // an oversized depth must fail here with a readable message, not
    // as an IndexOutOfBounds inside an executor task mid-stream
    require(depth >= 1 && depth <= CmsCore.MaxDepth,
      s"cms depth must be in [1, ${CmsCore.MaxDepth}], got $depth")
    require(width >= 2, s"cms width must be >= 2, got $width")
    keyedFold(toks, (t: CmsTok) => t.shard, OutputMode.Update)(cmsStep(depth, width, probes))
  }

  /** [[cmsStream]]'s step; the probe buckets are hashed once, here. */
  private[graft] def cmsStep(depth: Int, width: Int, probes: Seq[String])
      : (Int, Iterator[CmsTok], Option[CmsState]) => (Option[CmsState], Iterator[CmsCell]) = {
    import graft.functions.CmsCore
    val probeBuckets: Seq[(String, Seq[Int])] = probes.map { p =>
      p -> (0 until depth).map(i => CmsCore.bucket(i, CmsCore.baseMod(p), width))
    }
    (shard, it, st) => {
      val cells = st.map(_.cells.toArray).getOrElse(new Array[Long](depth * width))
      var n = st.map(_.n).getOrElse(0L)
      it.foreach { t =>
        val h = CmsCore.baseMod(t.tok)
        var i = 0
        while (i < depth) {
          cells(i * width + CmsCore.bucket(i, h, width)) += 1L
          i += 1
        }
        n += 1
      }
      (Some(CmsState(cells.toSeq, n)), probeBuckets.iterator.flatMap { case (p, bks) =>
        bks.zipWithIndex.map { case (b, i) => CmsCell(shard, p, i, cells(i * width + b), n) }
      })
    }
  }

  /** Streaming heavy hitters — the Misra-Gries sketch
    * (`functions.MisraGries`, same [[graft.functions.MgCore]] buffer
    * ops, so the batch aggregate and this job share ONE decrement
    * step and ONE guarantee) kept as [[keyedFold]] state:
    * ≤ k counters per shard, emitted as a full snapshot per
    * micro-batch (Update mode — downstream keeps the latest
    * n_seen per shard).
    *
    * State/scale shape: tokens are hash-sharded upstream, so each
    * shard's state is one ≤ k-entry map — total state = shards × k
    * counters, independent of the corpus vocabulary (the entire point
    * of MG over a counting dedup: "which tokens dominate this ingest
    * stream" with bounded memory). Because shards partition the token
    * space disjointly, a token's shard count IS its global count, and
    * the per-shard guarantee (every token with count > n_shard/(k+1)
    * survives; reported counts within n_shard/(k+1) of true) implies
    * the global heavy-hitter guarantee with the SMALLER n_shard
    * error. State is intentionally un-TTL'd like the minhash dedup
    * bucket state: the sketch summarizes the whole ingest history.
    *
    * On a batch Dataset the same fold runs per complete group (the
    * final snapshot, one emission with n_seen = shard total) —
    * StreamingSpec proves streamed == batch == guarantee. `k` is
    * checked here, as the batch aggregate checks it, so a bad value
    * fails at plan time and not inside an executor task mid-stream. */
  def mgTopkStream(toks: Dataset[MgTok], k: Int): Dataset[MgSnap] = {
    import toks.sparkSession.implicits._
    require(k >= 1, s"mg_topk needs k >= 1, got $k")
    keyedFold(toks, (t: MgTok) => t.shard, OutputMode.Update)(mgStep(k))
  }

  private[graft] def mgStep(k: Int)(shard: Int, it: Iterator[MgTok], st: Option[MgState])
      : (Option[MgState], Iterator[MgSnap]) = {
    import graft.functions.MgCore
    val buf = scala.collection.mutable.HashMap.empty[String, Long]
    st.foreach(s => s.counts.foreach { case (t, c) => buf.update(t, c) })
    var n = st.map(_.n).getOrElse(0L)
    // seq-sorted fold: the group iterator's order is unspecified
    it.toArray.sortBy(_.seq).foreach { t => MgCore.add(buf, t.tok, k); n += 1 }
    (Some(MgState(buf.toMap, n)),
      MgCore.top(buf).iterator.map { case (t, c) => MgSnap(shard, t, c, n) })
  }

  /** One arriving document for the composed streaming curate head:
    * `seq` is its deterministic arrival order (the admission quota is
    * order-dependent by contract — see [[capPerSourceStream]]). */
  case class CurateIn(source: String, seq: Long, doc_id: Long, text: String)

  /** The composed ingest-time curation head — the streaming analogue
    * of `pipeline_curate_v3`'s gate chain, proving the stream twins
    * COMPOSE into one job rather than merely existing side by side:
    * quality gate ([[graft.operators.TextAnalysis.qualityKeep]], the
    * batch chain's exact per-row filter) → per-source
    * admission quota ([[capPerSourceStream]], the only stateful
    * stage: ONE long per source) → weighted mixture
    * ([[mixtureSampleStream]] at the batch `mixtureBp` rates, ONE
    * shared definition) → shard routing
    * ([[graft.operators.Pipelines.shardOf]]). Output: the admitted,
    * mixed, shard-stamped manifest rows a live ingest writes.
    *
    * Every stage except the quota is a stateless per-row projection,
    * so the composition is append-legal end to end and its state is
    * exactly the quota's: sources × one counter, independent of
    * document count. On a batch Dataset the same code runs the same
    * stages per complete group — StreamingSpec proves streamed ==
    * batch on the full composition. */
  def curateStream(docs: Dataset[CurateIn], cap: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // relational projection, not a typed .map (r19): the map
    // deserialized every gated row into a CurateIn OBJECT — full text
    // string materialized per doc — just to drop the text; the select
    // stays codegen and prunes text before the quota shuffle, so only
    // the state op's own deserializer touches objects (narrow CapDoc
    // rows). Same rows, same schema — streamed == batch spec-pinned.
    val gated = docs
      .filter(graft.operators.TextAnalysis.qualityKeep)
      .select(col("source"), col("seq"), col("doc_id")).as[CapDoc]
    val admitted = capPerSourceStream(gated, cap)
    mixtureSampleStream(admitted.toDF(),
        graft.operators.Pipelines.mixtureBp, "mix")
      .withColumn("shard",
        graft.operators.Pipelines.shardOf(col("doc_id")))
      .select(col("doc_id"), col("source"), col("admit_rank"), col("shard"))
  }
}
