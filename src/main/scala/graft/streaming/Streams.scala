package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Engine, Q}

/** Minimal typed event for custom-state operators. */
case class UserEvent(user_id: Long, value: Double)

/** Per-user running totals held in stream state. */
case class UserTotal(user_id: Long, n: Long, sum_value: Double)

/** Typed event for the streaming sessionizer. */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long)

/** Open-session state per user: 1-based session ordinal, bounds in
  * epoch-µs, event count. One fixed-size struct per key — state size is
  * O(active users), independent of events per session.
  */
case class SessionState(ordinal: Long, startUs: Long, lastUs: Long, n: Long)

/** A finalized session — the streaming twin of one q_sessionize row. */
case class ClosedSession(user_id: Long, session_id: Long, n_events: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    dur_us: Long)

/** Typed event for the streaming funnel. */
case class FunnelEvent(user_id: Long, event_type: String,
    ts: java.sql.Timestamp)

/** Per-user funnel progress — also the emitted row (the streaming twin of
  * one q_funnel row; the latest emission per user is the current truth).
  */
case class FunnelState(user_id: Long,
    t_view: Option[java.sql.Timestamp], t_click: Option[java.sql.Timestamp],
    t_purchase: Option[java.sql.Timestamp], stage: Int)

/** A fully-typed event row for [[Streams.streamingTransitions]]. */
case class TypedEvent(user_id: Long, event_type: String,
    ts: java.sql.Timestamp, event_id: Long)

/** Per-user last-event marker for [[Streams.streamingTransitions]] — one
  * fixed-size struct per ever-seen user.
  */
case class LastEvent(event_type: String, lastUs: Long, event_id: Long)

/** One emitted first-order transition (the streaming twin of one
  * q_event_transitions pair before aggregation).
  */
case class TransPair(user_id: Long, from_type: String, to_type: String)

/** Input row for [[Streams.streamingAnomaly]] (value pre-floored to
  * cents so the state machine runs the same integers as the batch twin).
  */
case class ValueEvent(user_id: Long, event_type: String,
    ts: java.sql.Timestamp, event_id: Long, cents: Long)

/** Running (count, Σcents) per (user, type) — the anomaly monitor's
  * whole state: one fixed-size struct per ever-seen key.
  */
case class RunningMoment(n: Long, sumCents: Long)

/** One emitted anomaly alert — matches a q_anomaly_alerts output row. */
case class AnomalyAlert(user_id: Long, event_type: String, event_id: Long,
    cents: Long, n_prior: Long, sum_prior_cents: Long)

/** Timestamp ↔ epoch-µs, exact for the µs-aligned timestamps both engines
  * use (Engine.scala nanos note). A SEPARATE object on purpose: calls
  * from the custom-state closures compile to a static MODULE$ reference
  * and capture nothing — private helpers on Streams itself would pull the
  * whole module (including the queries map of closures) into every
  * serialized task, and any future non-serializable field would break the
  * streaming operators at runtime.
  */
private[streaming] object MicroTs {
  def toUs(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}

/** Per-user state for [[Streams.streamingTwa]]: the last observed reading
  * plus the running integral moments — one fixed-size struct per user.
  */
case class TwaState(lastUs: Long, lastCents: Long, nSteps: Long,
    durUs: Long, wsum: Long)

/** Emitted snapshot — the streaming twin of one q_twa row. */
case class TwaRow(user_id: Long, n_steps: Long, dur_us: Long, wsum: Long,
    twa_cents_ppm: Long)

/** One open (not-yet-labeled) view inside [[Streams.streamingLabelHorizon]]'s
  * per-user window.
  */
case class ViewPending(event_id: Long, us: Long)

/** Per-user state for [[Streams.streamingFeatureLags]]: the last ≤3
  * observed cents, most recent first — O(frame) per user, exactly the
  * information q_feature_lags' 3-PRECEDING window frame carries.
  */
case class FeatState(last: Seq[Long])

/** Emitted feature row — the streaming twin of one q_feature_lags row. */
case class FeatRow(event_id: Long, user_id: Long, cents: Long,
    lag1_cents: Option[Long], lag2_cents: Option[Long],
    prev3_sum: Option[Long], prev3_n: Long)

/** Per-user state for [[Streams.streamingLabelHorizon]]: the open views
  * whose label is still undecided — bounded by view rate × horizon, the
  * stream-stream-join state shape.
  */
case class LabelState(views: Seq[ViewPending])

/** Emitted label — the streaming twin of one q_label_horizon row.
  * `tt_us` is None exactly when `label` is false.
  */
case class LabelRow(user_id: Long, event_id: Long, label: Boolean,
    tt_us: Option[Long])

/** Per-user state for [[Streams.streamingMatchPattern]]: the last two
  * readings plus the running pattern stats — O(1) per user (a
  * consecutive-row pattern needs exactly pattern_length−1 trailing rows
  * of state, never the series).
  */
case class PatternState(a: Long, b: Long, nSeen: Int, nV: Long,
    maxDrop: Long, maxRebound: Long)

/** Emitted snapshot — the streaming twin of one q_match_pattern row. */
case class MatchRow(user_id: Long, n_v: Long, max_drop_cents: Long,
    max_rebound_cents: Long)

/** One observed active day — input to [[Streams.streamingStreaks]]. */
case class DayActive(user_id: Long, day: Long)

/** Per-user state for [[Streams.streamingStreaks]]: sorted disjoint
  * non-adjacent [start, end] runs of consecutive active days. Size is
  * bounded by the user's streak count, not event volume — re-observed
  * days are absorbed without growth.
  */
case class DayRuns(runs: Seq[(Long, Long)])

/** Emitted snapshot — the streaming twin of one q_streaks row. */
case class StreakRow(user_id: Long, n_active_days: Long,
    longest_streak: Long, n_streaks: Long)

/** Interval-merge kernel for [[Streams.streamingStreaks]] — standalone
  * object for the same capture-free serialization reason as [[MicroTs]].
  * Insertion is ORDER-INDEPENDENT: the final run set depends only on the
  * day SET, so late/out-of-order arrivals (including a day that bridges
  * two existing streaks) converge to the exact batch answer.
  */
private[streaming] object DayRunOps {
  def insert(runs: List[(Long, Long)], day: Long): List[(Long, Long)] =
    if (runs.exists(r => r._1 <= day && day <= r._2)) runs
    else {
      // a new day touches at most two runs: one ending at day-1, one
      // starting at day+1 — merge them all into one
      val touch = runs.filter(r => r._2 == day - 1 || r._1 == day + 1)
      val merged = ((day, day) :: touch)
        .reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
      (merged :: runs.filterNot(touch.contains)).sortBy(_._1)
    }
}

/** Time-window operators over the `events` stream table.
  *
  * The reference has no streaming at all (SURVEY §1 last row — batch
  * drop/append loads only); these are the `EXT` operators. The exact same
  * `window`/`session_window` aggregations run in batch (oracle-checked
  * below) and in Structured Streaming (`streamingTumble` etc., exercised by
  * StreamingSpec with a MemoryStream) — identical API is the point of
  * Spark's unified model.
  *
  * Scale: windowed aggregation shuffles on (window, key) — bounded
  * cardinality; watermarks bound state for unbounded streams.
  */
object Streams {

  /** Exact sum for `value` (2dp data, |v| < 1e6): decimal(18,6) per-row
    * cast, order-independent sum, final double (scaled magnitude < 2^53).
    */
  private def sumValue = sum(col("value").cast(DecimalType(18, 6)))
    .cast(DecimalType(30, 6)).cast(DoubleType)

  /** Crash-safe publish of a freshly-written `tmp` directory as `target`.
    * A bare delete(target)+rename(tmp, target) is NOT atomic: a crash
    * between the two leaves NO target at all — for the MV path that
    * silently resets history (readMarker → -1, the replayed batch
    * rebuilds the MV from one batch). This protocol keeps a recoverable
    * copy at every instant:
    *   1. target → target.old   (old state survives as .old)
    *   2. tmp    → target       (publish; data + marker move together)
    *   3. delete target.old
    * [[recoverSwap]] runs at every entry before target is read: a crash
    * before (1) changed nothing; between (1) and (2) the surviving .old
    * is promoted back and the batch replays (idempotent via the marker /
    * newest-wins merge); after (2) the new state is live and .old is
    * swept. Rename booleans are CHECKED — Hadoop FileSystem.rename
    * reports failure by returning false, not by throwing, so an ignored
    * return makes a failed publish indistinguishable from success.
    */
  private[streaming] def publishSwap(hfs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + ".old")
    hfs.delete(old, true)
    if (hfs.exists(target) && !hfs.rename(target, old))
      throw new java.io.IOException(s"publishSwap: rename $target -> $old failed")
    if (!hfs.rename(tmp, target))
      throw new java.io.IOException(s"publishSwap: rename $tmp -> $target failed")
    hfs.delete(old, true)
    ()
  }

  /** Recovery half of [[publishSwap]]: if a crash left `target` missing
    * but `target.old` present, promote the old state back so the caller
    * reads intact history and the in-flight batch simply replays.
    */
  private[streaming] def recoverSwap(hfs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(target.toString + ".old")
    if (!hfs.exists(target) && hfs.exists(old) && !hfs.rename(old, target))
      throw new java.io.IOException(s"recoverSwap: rename $old -> $target failed")
    ()
  }
  private val oSumValue =
    "cast(cast(sum(cast(value as decimal(18,6))) as decimal(30,6)) as double)"

  // ---- batch twins (oracle-checked) ---------------------------------

  def tumble(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  def slide(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .orderBy(col("w_start"), col("event_type"))

  def session(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"),
        col("sum_value"))
      .orderBy(col("user_id"), col("s_start"))

  /** Stream-static enrichment join + windowed rollup: the standard
    * streaming-ETL shape (facts arrive as a stream, the dimension is a
    * slowly-changing batch table). The dimension side is `broadcast` — a
    * stream-static join must not shuffle the unbounded side, and Spark
    * re-reads the static side per micro-batch so dimension updates are
    * picked up. Identical plan batch and streaming (the batch form is the
    * oracle-gated twin below).
    */
  def enrichJoin(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
      .select(col("window.start").as("w_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  // ---- streaming forms (same plans over a streaming Dataset) --------

  /** Streaming [[enrichJoin]]: watermark bounds the window state; the
    * static dimension stays broadcast per micro-batch.
    */
  def streamingEnrichJoin(eventsStream: DataFrame, customer: DataFrame,
      watermark: String = "30 minutes"): DataFrame =
    enrichJoin(eventsStream.withWatermark("ts", watermark), customer)

  /** Tumbling count with late-data eviction: watermark bounds the state
    * store; OutputMode.Append emits only finalized windows.
    */
  def streamingTumble(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Streaming builtin session window (the native-operator sibling of the
    * custom-state [[streamingSessionize]]): the same `session_window`
    * aggregation as the batch [[session]] twin — identical plan modulo the
    * gate's presentation ORDER BY (streaming append mode forbids sorting;
    * the watermark closes a session once no in-watermark event can merge
    * into it). StreamingSpec pins closed-session equality with the batch
    * twin on the real events table.
    */
  def streamingSession(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sumValue.as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"),
        col("sum_value"))

  /** Stateful stream dedup: watermark + dropDuplicates on the event key —
    * state for keys older than the watermark is evicted (s_dedup_stream).
    */
  def streamingDedup(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** Streaming near-dup ingest filter: the stateless per-row MinHash
    * signature ([[graft.llm.Dedup.minhashSignaturesStateless]] — an
    * `array_min(transform(...))` projection, no aggregation) followed by
    * signature `dropDuplicates`, so the whole pipeline needs exactly ONE
    * stateful operator. Docs whose full 6-hash signature was already seen
    * are dropped — the cheap dedup tier a training-data ingest runs before
    * any pairwise verification. Pass a watermark column + delay to bound
    * state on unbounded streams: that path uses
    * `dropDuplicatesWithinWatermark`, whose state rows ARE evicted once
    * they age past the delay (plain `dropDuplicates` on non-event-time
    * keys would keep signature state forever even with a watermark set).
    */
  def streamingSigDedup(
      docsStream: DataFrame,
      watermark: Option[(String, String)] = None): DataFrame = {
    val keys = graft.llm.Dedup.minhashSeeds.indices.map(i => s"h$i")
    watermark match {
      case Some((c, d)) =>
        graft.llm.Dedup.withMinhashSignature(docsStream.withWatermark(c, d))
          .dropDuplicatesWithinWatermark(keys)
      case None =>
        graft.llm.Dedup.withMinhashSignature(docsStream).dropDuplicates(keys)
    }
  }

  /** Incremental near-dup probe at INGEST (s_dedup_incremental): annotate
    * each streaming doc with how many of its MinHash LSH bands hit the
    * EXISTING corpus's band index — the streaming twin of
    * q_dedup_incremental, and the last tier of the ingest dedup story
    * (`filter(!is_dup)` drops; compose [[streamingSigDedup]] in front
    * for the new-vs-new exact tier). The corpus side is
    * [[graft.llm.Dedup.bandIndex]] — the DISTINCT (band, key) structure
    * a production ingest persists daily; here it joins as a STATIC
    * DataFrame, read ONCE: the index is projected to one band-tagged key
    * `band_id ‖ ':' ‖ key`, and the doc's three band keys
    * (`"b:" ‖ h(2b) ‖ h(2b+1)`) each left-join that same projection. The
    * three joins read one index plan, so Spark builds one exchange of the
    * index (a broadcast, or a shuffle past the broadcast threshold) and
    * reuses it for the other two bands — a computed index is evaluated
    * once per batch, not once per band. The stream side is a per-row
    * signature projection: zero state stores, no watermark required,
    * unbounded-safe at any ingest rate (the s_stream_decontam
    * discipline). Docs with fewer than 3 tokens carry no signature and
    * are dropped from the annotated stream ([[streamingSigDedup]]'s
    * contract): a doc with no shingles cannot be a near-dup.
    *
    * Output: every input column plus `n_bands_hit` / `is_dup`, matching
    * the batch twin's readout bit-for-bit (StreamingSpec pins parity on
    * the real corpus split, and the plan's exchange reuse).
    */
  def streamingBandDedup(docsStream: DataFrame,
      corpusBandIndex: DataFrame): DataFrame = {
    val nBands = 3
    // an upstream tier (streamingSigDedup) may already carry h0..h5 —
    // reuse them rather than re-deriving (and colliding with) the
    // signature projection
    val sigCols = graft.llm.Dedup.minhashSeeds.indices.map(i => s"h$i")
    val sig =
      if (sigCols.forall(docsStream.columns.contains)) docsStream
      else graft.llm.Dedup.withMinhashSignature(docsStream)
    val index = corpusBandIndex.select(
      concat(col("band_id").cast(StringType), lit(":"), col("key")).as("__bk"),
      lit(1).as("__hit"))
    val keyed = sig.withColumns((0 until nBands).map(b =>
      s"__bk$b" -> concat(lit(s"$b:"), col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).toMap)
    val probed = (0 until nBands).foldLeft(keyed) { (df, b) =>
      df.join(index.withColumnsRenamed(Map("__bk" -> s"__bk$b", "__hit" -> s"__hit$b")),
        Seq(s"__bk$b"), "left")
    }
    val hits = (0 until nBands)
      .map(b => coalesce(col(s"__hit$b"), lit(0)))
      .reduce(_ + _).cast(LongType)
    probed.select(docsStream.columns.map(col).toSeq
      :+ hits.as("n_bands_hit") :+ (hits > 0).as("is_dup"): _*)
  }

  /** Exact-substring probe at INGEST (s_suffix_probe): emit every
    * ≥50-token window of an incoming doc that ALREADY EXISTS verbatim in
    * the corpus — the streaming face of the q_dedup_suffix family, and
    * the exact-copy tier of the ingest contamination story (band probe
    * catches near-dups; this catches literal spans: a mirrored wiki
    * paragraph, a leaked eval answer). The corpus side is the persisted
    * window-key index (distinct `k` of
    * [[graft.llm.Dedup.suffixWindows]] — the same artifact the batch
    * family scans), joined as a STATIC DataFrame: the whole plan is the
    * shared in-row window projection (stateless narrow explode) + ONE
    * stream-static left-semi equi-join — zero state stores, no
    * watermark, unbounded-safe (the s_dedup_incremental discipline;
    * Spark picks broadcast vs shuffle by index size). Output is the
    * HIT FEED (doc_id, pos, k) in append mode — window-granular so the
    * plan stays aggregation-free; the consumer rolls up per doc or
    * interval-merges with the batch kernels. Sub-window docs emit
    * nothing (no windows ⇒ no exact 50-token copy).
    */
  def streamingSuffixProbe(docsStream: DataFrame,
      windowIndex: DataFrame): DataFrame =
    graft.llm.Dedup.suffixWindows(docsStream)
      .join(windowIndex.select(col("k")).distinct(), Seq("k"), "left_semi")
      .select(col("doc_id"), col("pos"), col("k"))

  /** Exact-substring CUT feed at INGEST (s_suffix_cut, round 12 —
    * VERDICT-r11 #5): [[streamingSuffixProbe]] tells ingest WHERE an
    * arriving doc repeats the corpus; this emits the keep1 ACTION — which
    * window starts to cut, each annotated with the corpus canonical copy
    * it duplicates. The static side is the canonical-occurrence index
    * ([[graft.llm.Dedup.canonicalCopies]] over the corpus windows — the
    * SAME argmin q_dedup_suffix_keep1 applies, factored not re-stated),
    * built once at pipeline start and joined as a static DataFrame. Under
    * keep1 semantics every corpus-indexed window of a NEW doc is cut: the
    * canonical (min doc_id, min pos) occurrence already sits corpus-side
    * for any key the index knows, because streamed doc_ids succeed the
    * corpus ids — the invariant an append-only lake satisfies by
    * construction and StreamingSpec pins against the batch keep1 rem-set.
    * Plan: the shared in-row window projection + ONE stream-static inner
    * equi-join — zero state stores, no watermark, append-safe; output
    * (doc_id, pos, canon_doc, canon_pos), window-granular so the plan
    * stays aggregation-free (the consumer interval-merges per doc with
    * the batch kernels, exactly as the probe feed's consumer rolls up).
    */
  def streamingSuffixCut(docsStream: DataFrame,
      canonIndex: DataFrame): DataFrame =
    graft.llm.Dedup.suffixWindows(docsStream)
      .join(canonIndex, Seq("k"))
      .select(col("doc_id"), col("pos"),
        col("canon_doc"), col("canon_pos"))

  /** ANN ingest probe (s_sim_probe, round 13 — VERDICT-r12 #4): the
    * embedding-space twin of [[streamingBandDedup]] — each arriving
    * embedding is assigned to its IVF cells and scored against the
    * PERSISTED code/centroid index ([[graft.llm.AnnIndex]]'s artifacts)
    * as a stateless stream-static join, emitting the near-dup HIT FEED
    * (vec_id, match_id, cell, cos6) for every indexed vector in the
    * arrival's probed cells whose reconstructed cosine clears `minCos`.
    * Window-granular like the suffix probe: no per-arrival aggregation,
    * so the plan stays append-safe — the consumer takes per-arrival
    * top-k or thresholds.
    *
    * Plan shape: (1) the arrival ranks ALL cells IN-ROW against the
    * plan-literal centroid table and keeps its top
    * [[graft.llm.AnnIndex.ivfProbesFor]]
    * (array_sort of (−score, cell) structs — no window function, which
    * streaming append mode could not run anyway), then explodes to
    * (arrival, cell) probe rows; (2) the static side is the persisted
    * rows' packed codes DECODED to ĉ + r̂ once per micro-batch (nibble →
    * codebook-row flatten + centroid add, all against plan literals);
    * (3) ONE stream-static inner equi-join on `cell` + a codegen'd
    * ArrayDot cosine + threshold filter. Zero state stores, no
    * watermark, unbounded-safe at any ingest rate (the
    * s_dedup_incremental discipline). The scored cosine is against the
    * RECONSTRUCTION (the serving-memory trade PQ makes); StreamingSpec
    * measures it ≥ 0.9 for planted exact copies on this corpus and pins
    * batch-twin parity + checkpoint restart. At 100 TB the static side
    * is the ~8-bytes/vector code column; a production variant would
    * pre-decode the few hottest cells or decode in the join projection —
    * stated here, measured trade left to the deployment.
    */
  def streamingAnnProbe(embStream: DataFrame,
      model: graft.llm.AnnIndex.IvfPqModel, codesStatic: DataFrame,
      minCos: Double = 0.8): DataFrame = {
    val nP = graft.llm.AnnIndex.ivfProbesFor(model.nCells)
    val m = model.m
    val subDim = model.subDim
    val centsLit = typedLit(model.cents.map(_.toSeq).toSeq)
    val booksLit = typedLit(model.books.map(_.map(_.toSeq).toSeq).toSeq)
    // (1) in-row top probed cells for the arriving vector
    val v = graft.llm.Similarity.toDouble(col("embedding"))
    val scores = transform(centsLit, cv =>
      graft.llm.Similarity.dot(v, cv) /
        (graft.llm.Similarity.norm(v) * graft.llm.Similarity.norm(cv)))
    val ranked = array_sort(zip_with(scores,
      sequence(lit(0), lit(model.nCells - 1)),
      (s0, i) => struct((s0 * -1).as("ns"), i.as("cell"))))
    val probes = transform(slice(ranked, 1, nP), x => x.getField("cell"))
    val probed = embStream.select(col("vec_id"), v.as("qv"),
      explode(probes).as("cell"))
    // (2) static side: packed codes → ĉ + r̂ (nibble-indexed codebook rows
    // flattened to r̂, centroid row added element-wise)
    val nibbles = array((0 until m).map(s0 =>
      shiftrightunsigned(col("codes64"), 4 * s0).bitwiseAND(lit(15L))
        .cast(IntegerType)): _*)
    val rhat = flatten(transform(sequence(lit(0), lit(m - 1)), s =>
      element_at(element_at(booksLit, s + 1),
        element_at(nibbles, s + 1) + 1)))
    val decoded = codesStatic.select(col("vec_id").as("match_id"),
      col("cell"),
      zip_with(rhat, element_at(centsLit, col("cell") + 1),
        (r, c) => r + c).as("vhat"))
    // (3) stateless stream-static equi-join + codegen'd cosine + cut
    probed.join(decoded, Seq("cell"))
      .filter(col("vec_id") =!= col("match_id"))
      .withColumn("cos6", round(
        graft.llm.Similarity.dot(col("qv"), col("vhat")) /
          (graft.llm.Similarity.norm(col("qv")) *
            graft.llm.Similarity.norm(col("vhat"))), 6))
      .filter(col("cos6") >= minCos)
      .select(col("vec_id"), col("match_id"), col("cell"), col("cos6"))
  }

  /** Per-arrival top-k consumer kernel for the [[streamingAnnProbe]] hit
    * feed (round 14, VERDICT-r13 #7): the retrieval-consumer shape —
    * keep each arriving vector's k best matches by (cos6 desc, match_id).
    * Append-mode streaming cannot run a window function, so the consumer
    * applies this BATCH kernel inside `foreachBatch` — sound because the
    * probe is a STATELESS stream-static join: ALL of an arrival's hits
    * are emitted inside the arrival's own micro-batch, so per-batch
    * top-k ≡ global per-arrival top-k (no hit for a vec_id can appear in
    * a later batch). The rank filter rewrites to WindowGroupLimit
    * (map-side partial top-k, the q_sim_batch discipline); StreamingSpec
    * pins the composed foreachBatch pipeline equal to the batch twin.
    */
  def perArrivalTopK(hits: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos6").desc, col("match_id"))
    hits.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
  }

  /** Per-micro-batch INDEX-APPEND handler (s_ann_ingest's core,
    * round 14): append the arriving embeddings into the persisted
    * IVF-PQ index with the frozen published model — one
    * [[graft.llm.AnnIndex.appendToIndex]] per batch, one write of rows
    * that each carry their code and their float, so no crash can leave
    * a code row without its float. Retry safety: parquet `append` is
    * NOT idempotent, so each applied batch leaves a marker dir under
    * `path/ingest_log/batch=<id>` AFTER the append and a re-delivered
    * batchId is skipped — Structured Streaming's batch-granular replay
    * contract makes this effectively-once, with one honest crash
    * window: a batch that appended but died before its marker
    * double-appends on restart (marker-first would instead LOSE the
    * batch — strictly worse: a duplicate row only re-ranks a shortlist
    * entry, a missing one is a silent recall hole). True exactly-once
    * needs the data+marker commit to be transactional — on a lake table
    * format the append and the marker become one commit; this layout
    * keeps plain parquet and documents the trade.
    */
  def annIngestBatchHandler(path: String,
      streamId: String = "default")(batch: DataFrame,
      batchId: Long): Unit = {
    // markers are namespaced PER STREAM LINEAGE (round 15, ADVICE-r14):
    // batchIds restart at 0 for every checkpoint lineage, so a second
    // ingest stream into the same index — or a restart with a FRESH
    // checkpoint location — would otherwise collide with the first
    // lineage's markers and silently SKIP its early batches (a recall
    // hole, strictly worse than the documented double-append window).
    // The caller passes one stable id per (stream, checkpoint) lineage;
    // reusing a streamId with a fresh checkpoint is the one remaining
    // misuse and is documented on [[streamingAnnIngest]].
    appendOncePerBatch(path, streamId, batch, batchId)(
      graft.llm.AnnIndex.appendToIndex(_, path))
  }

  /** The batch-marker discipline both index ingests share: skip a batch
    * whose marker `path/ingest_log/stream=<id>/batch=<batchId>` exists,
    * `append` a non-empty batch, then write the marker.
    */
  private def appendOncePerBatch(path: String, streamId: String,
      batch: DataFrame, batchId: Long)(append: DataFrame => Unit): Unit = {
    val marker = new java.io.File(
      s"$path/ingest_log/stream=${sanitizeId(streamId)}/batch=$batchId")
    if (!marker.exists()) {
      if (!batch.isEmpty) append(batch)
      marker.mkdirs(): Unit
    }
  }

  /** Marker-path hygiene: stream ids are caller-supplied strings — keep
    * them filesystem-safe without losing distinctness (hash tail).
    */
  private def sanitizeId(id: String): String = {
    val safe = id.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c else '_')
    if (safe == id) safe
    else s"$safe-${id.hashCode.toHexString}"
  }

  /** Streaming index INGEST (s_ann_ingest): the WRITE-path twin of the
    * probe feed ([[streamingAnnProbe]] reads the index, this maintains
    * it) — new embeddings append into the persisted serving layout per
    * micro-batch via foreachBatch, and every subsequent serve
    * (servedTopK / servedBatchTopK / servedMipsTopK) sees them without
    * retraining (frozen-model IVF contract; [[graft.llm.AnnIndex]]'s
    * needsRetrain triggers bound the drift). Aggregation-free,
    * stateless, no watermark; StreamingSpec pins grow-then-serve, the
    * batch-marker idempotence, and appended-copy bit-identity with the
    * batch append path.
    */
  def streamingAnnIngest(embStream: DataFrame, path: String,
      streamId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    embStream.writeStream.outputMode("append")
      .foreachBatch(annIngestBatchHandler(path, streamId) _)

  /** Index-health monitor feed (s_index_monitor, round 15 — VERDICT-r14
    * #7, pairing with the executable [[graft.llm.AnnIndex.retrainIndex]]
    * so the retrain has a LIVE signal): per micro-batch, recompute the
    * serving index's occupancy stats and the retrain verdict
    * ([[graft.llm.AnnIndex.indexStats]]/needsRetrain against the
    * persisted trained-size sidecar) and append one verdict row to
    * `path/monitor_log` — the dashboard row an on-call pager consumes.
    * Composes beside [[streamingAnnIngest]] on the same arrival stream:
    * ingest appends, the monitor grades the post-append index, and the
    * moment drifted mass pushes live/trained past 4× or cell skew past
    * 8 the emitted verdict flips (StreamingSpec pins exactly that on
    * drifted append batches). The stats query is one groupBy over the
    * index rows' (cell) — corpus-code-linear per batch, so a
    * production deployment would run it on a sampled cadence
    * (`every` micro-batches, default 1 here where batches are tests'
    * seconds apart, not milliseconds).
    */
  def indexMonitorBatchHandler(path: String)(batch: DataFrame,
      batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val stats = graft.llm.AnnIndex.indexStats(spark, path)
    val trained = graft.llm.AnnIndex.trainedRows(spark, path)
    Seq((batchId, stats.liveRows, trained, stats.maxCellRows,
        math.round(stats.skew * 1000000L),
        graft.llm.AnnIndex.needsRetrain(stats, trained)))
      .toDF("batch_id", "live_rows", "trained_rows", "max_cell_rows",
        "skew_ppm", "needs_retrain")
      .coalesce(1).write.mode("append").parquet(s"$path/monitor_log")
  }

  def streamingIndexMonitor(embStream: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    embStream.writeStream.outputMode("append")
      .foreachBatch(indexMonitorBatchHandler(path) _)

  /** Per-micro-batch BAND-INDEX append handler (s_band_ingest's core,
    * round 15 — VERDICT-r14 #3): merge the arriving docs' distinct
    * (band, key) rows into the persisted MinHash band index
    * ([[graft.llm.Dedup.appendToBandIndex]]), under the same
    * per-stream-lineage batch-marker discipline as the ANN ingest
    * ([[annIngestBatchHandler]]; ADVICE-r14 namespacing). Double
    * protection here: a replayed batch is marker-skipped, and even if
    * the marker were lost the append's anti-join writes zero new rows —
    * the band index is the rare artifact whose append is naturally
    * idempotent.
    */
  def bandIngestBatchHandler(path: String,
      streamId: String = "default")(batch: DataFrame,
      batchId: Long): Unit =
    appendOncePerBatch(path, streamId, batch, batchId)(
      graft.llm.Dedup.appendToBandIndex(_, path))

  /** Streaming band-index INGEST (s_band_ingest): the WRITE-path twin of
    * [[streamingBandDedup]] — that op PROBES the persisted band index;
    * this MAINTAINS it, so a doc streamed in batch N is a band hit for
    * its near-dup arriving in batch N+1 without any index rebuild
    * (StreamingSpec pins exactly that grow-then-probe sequence, plus
    * replay no-op). Build the initial artifact with
    * [[graft.llm.Dedup.writeBandIndex]]; compose the probe on
    * `readBandIndex` re-read per batch for a self-maintaining ingest
    * tier. Aggregation-free, stateless, no watermark.
    */
  def streamingBandIngest(docsStream: DataFrame, path: String,
      streamId: String = "default")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.outputMode("append")
      .foreachBatch(bandIngestBatchHandler(path, streamId) _)

  /** Decontamination at INGEST (s_stream_decontam): drop any streaming
    * doc that shares a [[graft.llm.Search.decontamK]]-token gram with the
    * (small, fixed) eval set — the batch q_decontam semantics applied in
    * front of the firehose, so contaminated documents never reach the
    * lake at all. The eval grams are materialized once at pipeline BUILD
    * time and shipped as a plan literal, making the streaming plan a
    * single STATELESS narrow filter: zero state stores, no join, no
    * watermark, unbounded-safe at any ingest rate. (An eval set too big
    * to broadcast would instead use the exploded stream-static left-semi
    * flag + stateful distinct — strictly more machinery; eval sets are
    * benchmark-sized by construction, so the literal form is the right
    * default.) Short docs have an EMPTY gram array (never null), so they
    * pass the overlap test and are kept — a doc with no grams cannot be
    * contaminated.
    */
  def streamingDecontam(docsStream: DataFrame, evalGrams: Array[String]): DataFrame =
    docsStream.filter(!arrays_overlap(
      graft.functions.TextExpressions.shingles(col("text"), graft.llm.Search.decontamK),
      typedLit(evalGrams)))

  /** Encoding-health monitor at INGEST (s_charset): q_charset_audit's
    * per-source mojibake counters as a streaming aggregation — the live
    * dashboard a firehose ingest watches so a source that starts
    * shipping broken transcodes (U+FFFD runs, bare control chars) is
    * caught within a micro-batch instead of at the next batch audit.
    * Shares the batch operator's per-doc projection and rollup verbatim
    * ([[graft.llm.TextAnalysis.charsetPerDoc]]/[[graft.llm.TextAnalysis.charsetRollup]]),
    * so twin parity is structural, not re-implemented (StreamingSpec
    * pins it on the real corpus + a dirty injected batch, both state
    * providers, incl. checkpoint restart). State is the aggregation
    * buffer itself: one row of counters per SOURCE — domain-bounded,
    * watermark-free, unbounded-safe at any ingest rate.
    */
  def streamingCharsetAudit(docsStream: DataFrame): DataFrame =
    graft.llm.TextAnalysis.charsetRollup(
      graft.llm.TextAnalysis.charsetPerDoc(docsStream))

  /** Quality gate at INGEST (s_quality_gate): drop streaming docs whose
    * quality blend falls below the curation cut — the stateless filter
    * tier that fronts the lake beside decontam/charset/sig-dedup.
    * Shares the batch q_quality_score projection VERBATIM
    * ([[graft.llm.TextAnalysis.withQualityPpm]]), so twin parity is
    * structural; the plan is one codegen'd narrow map + filter — zero
    * state stores, no watermark, unbounded-safe at any ingest rate.
    * Kept rows carry `quality_ppm` for downstream mix/budget pricing.
    */
  def streamingQualityGate(docsStream: DataFrame,
      minPpm: Long = graft.llm.TextAnalysis.curateQualityPpm): DataFrame =
    graft.llm.TextAnalysis.withQualityPpm(docsStream)
      .filter(col("quality_ppm") >= minPpm)

  /** PAN gate at INGEST (s_pii_gate, round 12; 13-19-digit window round
    * 13): hold back any streaming doc whose text carries a Luhn-VALID
    * 13-19-digit card number — the checksum tier of the PII story
    * applied in front of the lake, beside q_pii_redact's batch scrub and
    * q_pii_pan's audit. Shares the length-parametric Luhn predicate AND
    * the maximal-digit-run candidate extraction VERBATIM
    * ([[graft.llm.TextAnalysis.luhnValid]]/panCandidates — round 14:
    * boundary-exact, so a 20-digit nonce can never false-block via a
    * greedy 19-window), so twin parity with the batch checksum is
    * structural. Kept rows carry the PAN-length digit-run count; blocked
    * rows never reach the sink — a doc whose digit runs fail the
    * checksum (order ids, timestamps) passes, exactly the misfire class
    * a bare digit-run gate would block. One stateless narrow projection
    * + filter: zero state stores, no watermark, unbounded-safe at any
    * ingest rate.
    */
  def streamingPiiGate(docsStream: DataFrame): DataFrame = {
    val cands = graft.llm.TextAnalysis.panCandidates(col("text"))
    docsStream
      .withColumn("n_pan_cand", size(cands))
      .withColumn("n_pan",
        size(filter(cands, s => graft.llm.TextAnalysis.luhnValid(s))))
      .filter(col("n_pan") === 0)
      .drop("n_pan")
  }

  /** Trained-model quality gate at INGEST (s_quality_model): the
    * streaming twin of q_quality_model — the SAME feature projection
    * ([[graft.llm.TextAnalysis.qualityModelFeatures]], shared verbatim)
    * scored by the in-row fold of the same weight literals
    * (qualityModelScoreCol; LlmSpec pins the fold equal to the batch
    * operator's broadcast-table dot product), then the same ≥-threshold
    * cut. ONE stateless codegen'd projection + filter: zero state
    * stores, no watermark, unbounded-safe at any ingest rate (the
    * s_quality_gate discipline).
    */
  def streamingQualityModel(docsStream: DataFrame,
      minPpm: Long = graft.llm.TextAnalysis.qualityModelMinPpm): DataFrame =
    graft.llm.TextAnalysis.qualityModelFeatures(docsStream)
      .withColumn("score_ppm", graft.llm.TextAnalysis.qualityModelScoreCol)
      .filter(col("score_ppm") >= minPpm)

  /** DSIR importance gate at INGEST (s_dsir_gate): score each streaming
    * doc's target-likeness under a TRAINED bucket→ratio table
    * ([[graft.llm.TextAnalysis.dsirRatioTable]], the batch q_dsir_weights
    * artifact — complete over all 1024 buckets, so a lookup can never
    * miss) and keep docs at least as target-like as the reference mix.
    * The table ships as a plan-literal map (1024 entries — the
    * s_bpe_encode merge-literal discipline), the n-gram → bucket mapping
    * is the SHARED [[graft.llm.TextAnalysis.dsirBucketCol]] expression,
    * and the whole plan is ONE STATELESS narrow projection + filter:
    * in-row gram array (same unigram+bigram multiset as the batch
    * explode), in-row map lookups, integer mean — zero state stores, no
    * watermark, unbounded-safe at any ingest rate. StreamingSpec pins
    * per-doc weight equality with the batch operator on the real corpus
    * across micro-batches. Bound: the in-row long fold needs
    * max ratio_ppm × doc feature count < 2^63 — i.e. the target not
    * astronomically rarer than the reference (the batch side sums in
    * decimal(38,0); a stream doc's feature count is doc-sized, so the
    * practical envelope is the same).
    */
  def streamingDsirGate(docsStream: DataFrame, ratio: Map[Long, Long],
      minPpm: Long = graft.llm.TextAnalysis.dsirMinPpm): DataFrame = {
    // a partial map would NULL the fold for any doc touching a missing
    // bucket and the filter would silently drop it — fail loudly at
    // build time instead (the artifact contract IS completeness)
    require(ratio.size == graft.llm.TextAnalysis.dsirBuckets,
      s"ratio map must cover all ${graft.llm.TextAnalysis.dsirBuckets} " +
        s"buckets (got ${ratio.size}) — build it with dsirRatioTable")
    val grams = concat(split(col("text"), " "),
      graft.functions.TextExpressions.shingles(col("text"), 2))
    val rlit = typedLit(ratio)
    docsStream
      .withColumn("n_feats", size(grams).cast(LongType))
      .withColumn("w_sum",
        aggregate(transform(grams,
            g => element_at(rlit, graft.llm.TextAnalysis.dsirBucketCol(g))),
          lit(0L), (acc, x) => acc + x))
      .withColumn("weight_ppm", expr("cast(w_sum div n_feats as bigint)"))
      .filter(col("weight_ppm") >= minPpm)
      .drop("w_sum")
  }

  /** BPE encoding at INGEST (s_bpe_encode): annotate each streaming doc
    * with its TRUE tokenizer token count under a TRAINED merge table —
    * the per-doc twin of q_bpe_encode's corpus rollup, and the number a
    * live ingest budgets/prices by instead of the whitespace proxy. The
    * merge table is a training-time artifact (q_bpe_merges /
    * [[graft.llm.TextAnalysis.bpeTrain]]) shipped as plan literals, so
    * the whole streaming plan is ONE STATELESS narrow projection: per
    * word, char-split then the identical leftmost-non-overlapping
    * sentinel-space replace() chain the trainer used, then count
    * symbols; per doc, sum over words via `aggregate` — zero state
    * stores, no watermark, unbounded-safe at any ingest rate (the
    * s_stream_decontam discipline). Empty texts carry n_bpe_tokens = 0.
    * StreamingSpec pins per-lang sums equal to the batch operator on the
    * real corpus across micro-batches.
    */
  def streamingBpeEncode(docsStream: DataFrame, merges: Seq[String]): DataFrame = {
    val perWord: Column => Column = w => {
      val charSplit =
        concat(lit(" "), trim(regexp_replace(w, "(.)", "$1 ")), lit(" "))
      val merged = merges.foldLeft(charSplit) { (c, p) =>
        // replacement keeps the flanking sentinels, so the next merge
        // in the chain sees the same spaced form the batch kernel does
        org.apache.spark.sql.functions.replace(c,
          lit(" " + p + " "), lit(" " + p.replace(" ", "") + " "))
      }
      size(split(trim(merged), " "))
    }
    docsStream.withColumn("n_bpe_tokens",
      aggregate(
        filter(split(col("text"), " "), w => w =!= ""),
        lit(0L),
        (acc, w) => acc + perWord(w).cast(LongType)))
  }

  /** Streaming count-min sketch maintenance (s_sketch_cms): the
    * frequency sketch kept live over a keyed stream as a streaming
    * aggregation on (row, bucket) counter CELLS — the structure behind
    * q_join_size_est / q_heavy_hitters, maintained at ingest so a
    * consumer can price a join or screen hot keys without a batch pass.
    * The md5-derived [[graft.functions.TextExpressions.cmsHashes]]
    * expression (the batch sketch's own hash family) maps each key to
    * its depth buckets, so the streaming counter table is
    * BIT-IDENTICAL to the batch sketch over the same rows — twin parity
    * is equality of counter cells, not a bound (StreamingSpec pins it,
    * plus the CMS point-query guarantees through the shared estimate
    * path). State = at most depth × width counter rows, INDEPENDENT of
    * key cardinality — the whole point of sketching a 100 TB stream;
    * width is fixed at build time (a stream can't derive it from a key
    * count the way the batch estimator does — size it from expected
    * cardinality, the documented production knob).
    */
  /** The CMS hash family over any key type: the fused
    * [[graft.functions.TextExpressions.cmsHashes]] codegen expression
    * for bigint keys (the batch estimator's hot path), and the
    * bit-identical md5 chain it is pinned equal to (FunctionsSpec) for
    * everything else — `conv(substr(md5(r || ':' || key), 1, 8))` per
    * depth row, so a string-keyed stream sketches to the same cells the
    * oracle-mirrored batch form would produce.
    */
  private def cmsHashFamily(key: org.apache.spark.sql.Column,
      keyType: org.apache.spark.sql.types.DataType, depth: Int) =
    keyType match {
      case org.apache.spark.sql.types.LongType =>
        graft.functions.TextExpressions.cmsHashes(key, depth)
      case _ => array((0 until depth).map { r =>
        conv(substring(md5(concat(lit(r.toString), lit(":"),
          key.cast("string")).cast("binary")), 1, 8), 16, 10)
          .cast(org.apache.spark.sql.types.LongType)
      }: _*)
    }

  def streamingCms(keyed: DataFrame, keyCol: String,
      depth: Int = 3, width: Long = 1024L): DataFrame =
    keyed
      .select(posexplode(cmsHashFamily(col(keyCol),
        keyed.schema(keyCol).dataType, depth)).as(Seq("r", "h")))
      .select(col("r").cast(org.apache.spark.sql.types.LongType).as("r"),
        pmod(col("h"), lit(width)).as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))

  /** Point-query over a [[streamingCms]] counter table: min over the
    * key's depth cells — shared by the batch twin and the spec so the
    * estimate path itself is common code.
    */
  def cmsEstimate(cells: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 3, width: Long = 1024L): DataFrame =
    keys
      .select(col(keyCol),
        posexplode(cmsHashFamily(col(keyCol),
          keys.schema(keyCol).dataType, depth)).as(Seq("r", "h")))
      .select(col(keyCol),
        col("r").cast(org.apache.spark.sql.types.LongType).as("r"),
        pmod(col("h"), lit(width)).as("b"))
      .join(cells, Seq("r", "b"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** Stream-stream inner join with an event-time bound (s_join_stream):
    * correlate two live streams per key where the right event lands
    * within `window` after the left one (click→conversion attribution).
    * BOTH the watermarks and the time-bound predicate are load-bearing:
    * they are what lets Spark evict buffered rows — an unbounded-time
    * stream-stream join would hold both streams' state forever. State
    * per key ≈ rows inside the watermark horizon, independent of stream
    * length.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      window: String = "10 minutes", watermark: String = "30 minutes"): DataFrame = {
    val l = left.select(col("user_id"), col("ts").as("l_ts"),
        col("event_type").as("l_type"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
        col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("user_id") === col("r_user")
        && col("r_ts") >= col("l_ts")
        && col("r_ts") <= col("l_ts") + expr(s"interval $window"))
      .select(col("user_id"), col("l_ts"), col("l_type"), col("r_ts"), col("r_type"))
  }

  /** Streaming upsert (s_stream_upsert): apply each micro-batch as a
    * latest-record-wins MERGE into a parquet target via `foreachBatch` —
    * the CDC-apply pattern that keeps a queryable table in sync with a
    * changelog stream. Per batch: reduce the batch to its newest record
    * per key (map-side `max_by`, same shape as q_dedup_latest), FULL
    * OUTER merge with the current target resolving to the newer (ts,
    * event_id), materialize, overwrite. The merge cost scales with
    * |target| + |batch| per batch — on a real lake this is the pattern a
    * transactional format (Delta/Iceberg MERGE) optimizes with file-level
    * pruning; the resolution logic is identical.
    */
  def streamingUpsert(stream: DataFrame, targetPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val cols = Seq("user_id", "event_id", "ts", "event_type", "value")
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val hconf = spark.sparkContext.hadoopConfiguration
      val targetP = new org.apache.hadoop.fs.Path(targetPath)
      val hfs = targetP.getFileSystem(hconf)
      recoverSwap(hfs, targetP)
      val newest = batch
        .groupBy(col("user_id"))
        .agg(max_by(struct(cols.tail.map(col): _*),
          struct(col("ts"), col("event_id"))).as("e"))
        .select(col("user_id") +: cols.tail.map(c => col(s"e.$c").as(c)): _*)
      val target =
        if (hfs.exists(targetP)) spark.read.parquet(targetPath)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newest.schema)
      val t = target.select(cols.map(c => col(c).as(s"t_$c")): _*)
      // newer (ts, event_id) wins — NOT blind batch-wins: late/replayed
      // batches must not regress a key the target already has newer
      val takeBatch = col("user_id").isNotNull && (col("t_user_id").isNull ||
        struct(col("ts"), col("event_id")) >= struct(col("t_ts"), col("t_event_id")))
      val merged = t.join(newest, col("t_user_id") === col("user_id"), "full_outer")
        .select(cols.map(c =>
          when(takeBatch, col(c)).otherwise(col(s"t_$c")).as(c)): _*)
      // write-then-swap, never overwrite-what-we-read: an overwrite of
      // targetPath would delete the very files merged's lineage reads,
      // so any recompute-on-loss during the write (or a mid-write crash)
      // would see a deleted/half-written target. The tmp write completes
      // against the intact old target; publishSwap keeps a recoverable
      // copy through the promote (see its scaladoc).
      val tmp = new org.apache.hadoop.fs.Path(targetPath + ".tmp")
      hfs.delete(tmp, true)
      merged.write.mode("overwrite").parquet(tmp.toString)
      publishSwap(hfs, tmp, targetP)
    }
  }

  /** Streaming incremental materialized-view maintenance (s_mv_delta):
    * the streaming twin of q_mv_delta. Each micro-batch is reduced to its
    * per-key (count, exact-decimal sum) aggregate and folded into a
    * parquet MV target with the same coalesce-to-identity monoid merge
    * the batch operator proves against full recompute — decimal sums are
    * order-independent, so ANY batch split of the input converges to the
    * bit-identical MV (StreamingSpec pins it against the batch aggregate
    * over the whole events table).
    *
    * Exactly-once across replays: `foreachBatch` is at-least-once under
    * failure, and a re-applied delta would DOUBLE-COUNT (unlike the
    * upsert's idempotent newest-wins resolution), so the applied batch id
    * rides inside the target directory as an `_applied_batch` marker
    * (underscore-prefixed files are invisible to parquet readers, like
    * `_SUCCESS`) — data + marker always move in the SAME rename, and the
    * [[publishSwap]]/[[recoverSwap]] protocol keeps either the old or
    * the new (data, marker) pair recoverable through a crash at any
    * instant of the promote; [[applyMvDelta]] drops any batch at or
    * below the marker. Per batch the merge reads |MV| + |batch-agg| rows — the MV
    * refresh cost a transactional lake format optimizes further with
    * file pruning; the fold logic is identical.
    */
  def streamingMvDelta(stream: DataFrame, targetPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      applyMvDelta(batch, batchId, targetPath)
    }

  /** One s_mv_delta fold: idempotent on `batchId` (replays are dropped),
    * monoid-merges the batch aggregate into the parquet MV at
    * `targetPath`. Factored out of the stream writer so specs can drive
    * replay semantics directly.
    */
  def applyMvDelta(batch: DataFrame, batchId: Long, targetPath: String): Unit = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val targetP = new org.apache.hadoop.fs.Path(targetPath)
    val hfs = targetP.getFileSystem(hconf)
    recoverSwap(hfs, targetP)
    val markerName = "_applied_batch"
    val dec = DecimalType(28, 4)
    val mvSchema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("n_events", LongType),
      StructField("sum_value", dec)))
    def readMarker: Long = {
      val m = new org.apache.hadoop.fs.Path(targetP, markerName)
      if (!hfs.exists(m)) -1L
      else {
        val in = hfs.open(m)
        try scala.io.Source.fromInputStream(in).mkString.trim.toLong
        finally in.close()
      }
    }
    if (hfs.exists(targetP) && batchId <= readMarker) return
    val delta = batch.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(dec).as("sum_value"))
    val target =
      if (hfs.exists(targetP)) spark.read.schema(mvSchema).parquet(targetPath)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], mvSchema)
    val t = target.select(col("user_id").as("t_user_id"),
      col("n_events").as("t_n"), col("sum_value").as("t_sum"))
    val zero = lit(BigDecimal(0)).cast(dec)
    val merged = t.join(delta, col("t_user_id") === col("user_id"), "full_outer")
      .select(
        coalesce(col("user_id"), col("t_user_id")).as("user_id"),
        (coalesce(col("t_n"), lit(0L)) + coalesce(col("n_events"), lit(0L)))
          .as("n_events"),
        (coalesce(col("t_sum"), zero) + coalesce(col("sum_value"), zero))
          .cast(dec).as("sum_value"))
    // write-then-swap (the streamingUpsert discipline): the tmp write
    // completes against the intact old target; marker lands INSIDE tmp
    // before the promote so data + applied-id publish together, and
    // publishSwap keeps the old MV recoverable through the promote.
    val tmp = new org.apache.hadoop.fs.Path(targetPath + ".tmp")
    hfs.delete(tmp, true)
    merged.write.mode("overwrite").parquet(tmp.toString)
    val out = hfs.create(new org.apache.hadoop.fs.Path(tmp, markerName), true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    publishSwap(hfs, tmp, targetP)
  }

  /** Custom arbitrary state (the flatMapGroupsWithState tier of SURVEY §2
    * s_dedup_stream): per-user cumulative event count + running value sum,
    * emitted on every update. State is one tiny struct per key; a real
    * deployment adds a timeout to bound the keyspace.
    */
  def statefulUserTotals(events: org.apache.spark.sql.Dataset[UserEvent])
      : org.apache.spark.sql.Dataset[UserTotal] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotal, UserTotal](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
          var n = prev.n
          var v = prev.sum_value
          batch.foreach { e => n += 1; v += e.value }
          val next = UserTotal(uid, n, v)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming gap sessionization (s_sessionize): the
    * `flatMapGroupsWithState` + `EventTimeTimeout` twin of the batch
    * `EventAnalytics.sessionize` labeling. Per user, an open session is one
    * fixed-size [[SessionState]]; an event that lands more than `gapUs`
    * after the session's last event CLOSES it (emitting a row identical to
    * q_sessionize's) and opens the next ordinal; a session with no
    * successor closes when the watermark passes `lastUs + gapUs` — the
    * exact instant no in-watermark event can extend it any more, provided
    * `watermarkDelay <= gap` (a late event can be at most `delay` behind
    * the watermark, and extending needs `ts <= last + gap`). That same
    * inequality keeps `setTimeoutTimestamp` ahead of the current watermark
    * (Spark rejects timeouts behind it).
    *
    * Batch parity: within a micro-batch events are sorted by (ts,
    * event_id) — the batch operator's window order — so chronological
    * feeds produce bit-identical session rows (StreamingSpec proves it on
    * the real events table). A cross-batch late event inside the
    * watermark merges into the open session with both bounds widened
    * (min start / max last); parity can only break in the inherently
    * unrepresentable case of a late event more than `gap` BEFORE the open
    * session's start, which batch would place in an earlier, already-gone
    * session — O(1) per-key state cannot reopen it. State is ONE
    * fixed-size struct per user:
    * after a close it shrinks to an ordinal-only marker (session ids are
    * per-user ordinals, so the counter must outlive the session); keying
    * sessions by start time instead would allow full eviction on close.
    */
  def streamingSessionize(
      events: Dataset[SessEvent],
      gapUs: Long = graft.operators.EventAnalytics.sessionGapUs,
      watermark: String = "30 minutes"): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._

    // the timeout-at-last+gap close is only sound while delay <= gap (see
    // scaladoc); enforce it rather than silently emitting sessions a
    // still-in-watermark event could have extended
    val wmIv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    val wmUs = wmIv.months * 2629746000000L + wmIv.days * 86400000000L +
      wmIv.microseconds
    require(wmUs <= gapUs,
      s"watermark delay ($watermark) must be <= the session gap (${gapUs}us): " +
        "a late event inside the watermark could still extend a session the " +
        "timeout would already have closed")

    def close(uid: Long, s: SessionState): ClosedSession =
      ClosedSession(uid, s.ordinal, s.n, MicroTs.toTs(s.startUs), MicroTs.toTs(s.lastUs),
        s.lastUs - s.startUs)

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val done = close(uid, state.get)
            // keep a closed-marker (n = 0) carrying the ordinal: session
            // ids are per-user ordinals, so the counter must survive the
            // session — one fixed-size struct per ever-seen user, with no
            // timeout registered until that user sends again. (If bounded
            // keyspace matters more than ordinal continuity, key sessions
            // by session_start and state.remove() here instead.)
            state.update(SessionState(done.session_id, 0L, 0L, 0L))
            Iterator.single(done)
          } else {
            val evs = batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id))
            val out = Seq.newBuilder[ClosedSession]
            var st = state.getOption.orNull
            evs.foreach { e =>
              val t = MicroTs.toUs(e.ts)
              if (st == null) st = SessionState(1L, t, t, 1L)
              else if (st.n == 0L) st = SessionState(st.ordinal + 1, t, t, 1L)
              else if (t - st.lastUs > gapUs) {
                out += close(uid, st)
                st = SessionState(st.ordinal + 1, t, t, 1L)
              } else st = SessionState(st.ordinal,
                // a late-but-in-watermark event can precede the open
                // session's start; widen BOTH bounds or the emitted
                // start/duration diverge from the batch labeling
                Math.min(st.startUs, t), Math.max(st.lastUs, t), st.n + 1)
            }
            if (st != null) {
              state.update(st)
              // timeout in event-time ms, 1 ms past the last extendable µs
              state.setTimeoutTimestamp(
                Math.floorDiv(st.lastUs + gapUs, 1000L) + 1L)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming ordered funnel (s_funnel): the `mapGroupsWithState` twin of
    * the batch q_funnel. Per user the state IS the funnel row (first view,
    * first qualifying click at-or-after it, first qualifying purchase
    * at-or-after that); an event that advances a step emits the updated
    * row, so the LATEST emission per user is the current funnel truth —
    * the standard emit-on-change CDC shape for a monotone per-key fact.
    *
    * Batch parity on chronological feeds: the first view seen is min(ts of
    * view), and the first click after t_view is set is min(click >=
    * t_view) (same for purchase). At equal timestamps a micro-batch is
    * processed in step order (view < click < purchase), matching the batch
    * operator's inclusive `>=` step predicate. State: one fixed-size
    * struct per user who ever viewed — the same per-key cardinality the
    * batch aggregate holds.
    *
    * Lateness contract: this is the OBSERVED funnel — a cross-batch
    * out-of-order event with an earlier timestamp than an already-recorded
    * step cannot retroactively re-qualify steps (that would need the full
    * per-user event history, not O(1) state; batch q_funnel on the final
    * log is the reconciliation path, exactly as a warehouse would rerun
    * it). Chronological per-user arrival ⇒ bit parity, spec-pinned.
    */
  def streamingFunnel(events: Dataset[FunnelEvent]): Dataset[FunnelState] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val stepRank = Map("view" -> 0, "click" -> 1, "purchase" -> 2)

    events.filter(e => stepRank.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelState](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(uid, None, None, None, 0))
          val before = st
          batch.toArray
            .sortBy(e => (MicroTs.toUs(e.ts), stepRank(e.event_type)))
            .foreach { e =>
              (e.event_type, st.t_view, st.t_click, st.t_purchase) match {
                case ("view", None, _, _) =>
                  st = st.copy(t_view = Some(e.ts), stage = 1)
                case ("click", Some(v), None, _) if !e.ts.before(v) =>
                  st = st.copy(t_click = Some(e.ts), stage = 2)
                case ("purchase", _, Some(c), None) if !e.ts.before(c) =>
                  st = st.copy(t_purchase = Some(e.ts), stage = 3)
                case _ => ()
              }
            }
          if (st != before) {
            state.update(st)
            Iterator.single(st)
          } else Iterator.empty
      }
  }

  /** Streaming first-order transitions (s_transitions): the
    * `flatMapGroupsWithState` twin of batch q_event_transitions' lead
    * window. Per user the state is the LAST event seen ((type, ts, id) —
    * one fixed-size struct, the q_funnel state discipline); each arriving
    * event emits one (prev_type, cur_type) pair and replaces the marker.
    * Downstream the pair stream aggregates to the transition matrix
    * incrementally — the pairs are the CDC feed, counts are a trivial
    * rollup on whatever store consumes them.
    *
    * Batch parity: within a micro-batch events sort by (ts, event_id) —
    * the batch window's order — so chronological feeds produce the exact
    * batch pair multiset (spec-pinned on the real events table). Lateness
    * contract: like streamingFunnel this is the OBSERVED stream — a
    * cross-batch out-of-order event pairs with the last event seen, not
    * with its timestamp-order neighbors (that would need the full per-user
    * history; batch q_event_transitions over the final log is the
    * reconciliation path).
    */
  def streamingTransitions(events: Dataset[TypedEvent]): Dataset[TransPair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, TransPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TypedEvent], state: GroupState[LastEvent]) =>
          var last = state.getOption.orNull
          val out = Seq.newBuilder[TransPair]
          batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id)).foreach { e =>
            if (last != null) out += TransPair(uid, last.event_type, e.event_type)
            last = LastEvent(e.event_type, MicroTs.toUs(e.ts), e.event_id)
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  /** Streaming value-spike monitor (s_anomaly): the `flatMapGroupsWithState`
    * twin of the batch q_anomaly_alerts (operators/Stats.scala). Per
    * (user, type) the state is the running (n, Σcents) of everything seen
    * so far; an arriving event alerts iff n ≥ minN and
    * cents·n > mult·Σcents — the SAME integer cross-multiplication the
    * batch window runs, so on chronological per-key arrival the emitted
    * alert set is bit-identical to the batch query (spec-pinned).
    *
    * Lateness contract (same as streamingTransitions/Funnel): this is the
    * OBSERVED monitor — a cross-batch out-of-order event is judged
    * against the state at its ARRIVAL, not its timestamp (re-judging
    * would need the full per-key history, not O(1) state); batch
    * q_anomaly_alerts on the settled log is the reconciliation path.
    * State: one fixed-size struct per (user, type) ever seen.
    */
  def streamingAnomaly(events: Dataset[ValueEvent],
      minN: Long = graft.operators.Stats.anomalyMinN,
      mult: Long = graft.operators.Stats.anomalyMult): Dataset[AnomalyAlert] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[RunningMoment, AnomalyAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), batch: Iterator[ValueEvent],
            state: GroupState[RunningMoment]) =>
          var st = state.getOption.getOrElse(RunningMoment(0L, 0L))
          val out = Seq.newBuilder[AnomalyAlert]
          batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id)).foreach { e =>
            if (st.n >= minN && e.cents * st.n > mult * st.sumCents)
              out += AnomalyAlert(key._1, key._2, e.event_id, e.cents,
                st.n, st.sumCents)
            st = RunningMoment(st.n + 1, st.sumCents + e.cents)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming feature generation (s_feature_lags): q_feature_lags'
    * past-only per-user feature row computed AT INGEST — the online
    * feature-store update that, paired with [[streamingLabelHorizon]],
    * turns the firehose into live (features, label) training rows. Per
    * user the state is the last ≤3 observed cents — EXACTLY the
    * information the batch twin's 3-PRECEDING window frame carries, so
    * on chronological per-user arrival every emitted row is
    * bit-identical to q_feature_lags (TOTAL parity, no decidable-subset
    * caveat: past-only features are final the moment the row arrives;
    * StreamingSpec pins it incl. checkpoint restart). O(frame) state
    * per user; each micro-batch folds in (ts, event_id) order. Lateness
    * contract (the s_twa observed-monitor discipline): features reflect
    * the OBSERVED prefix — a late row is folded at arrival position,
    * and batch q_feature_lags over the settled log reconciles.
    */
  def streamingFeatureLags(events: Dataset[ValueEvent]): Dataset[FeatRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FeatState, FeatRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[ValueEvent], state: GroupState[FeatState]) =>
          var last = state.getOption.map(_.last.toList).getOrElse(Nil)
          val out = Seq.newBuilder[FeatRow]
          batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id)).foreach { e =>
            out += FeatRow(e.event_id, uid, e.cents,
              last.headOption, last.drop(1).headOption,
              if (last.nonEmpty) Some(last.sum) else None, last.size.toLong)
            last = (e.cents :: last).take(3)
          }
          state.update(FeatState(last))
          out.result().iterator
      }
  }

  /** Streaming label generation (s_label_horizon): q_label_horizon's
    * future-only did-purchase-within-the-horizon label emitted LIVE —
    * the online-learning feeder that turns the event firehose into
    * (features, label) training rows without a daily batch join. Per
    * user the state is the OPEN views whose label is still undecided;
    * each event advances that user's frontier, so a view resolves the
    * moment its answer is knowable: TRUE (with exact tt_us) when a
    * purchase lands inside the horizon, FALSE when the user's own
    * frontier passes horizon µs beyond it. Views still open when the
    * stream pauses simply stay buffered — a label is emitted exactly
    * once and only when final (LabelSpec pins the emitted set against
    * the batch twin: every batch-TRUE row arrives bit-identical, every
    * batch-FALSE row whose user frontier passed the horizon arrives,
    * and the unemitted remainder is exactly the still-undecidable set).
    *
    * Strictly-after follows the batch twin's (ts, event_id) row order:
    * a purchase labels only views at-or-before it in that order. State
    * is bounded by view rate × horizon per user (the stream-stream-join
    * state shape) — frontier expiry evicts; no processing-time timeout,
    * so replays are deterministic. Lateness contract (the s_twa
    * observed-monitor discipline): a cross-batch late purchase labels
    * only views still open at its arrival; batch q_label_horizon over
    * the settled log is the reconciliation path.
    */
  def streamingLabelHorizon(events: Dataset[ValueEvent],
      horizonUs: Long = graft.operators.EventAnalytics.labelHorizonUs): Dataset[LabelRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LabelState, LabelRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[ValueEvent], state: GroupState[LabelState]) =>
          var views = state.getOption.map(_.views.toList).getOrElse(Nil)
          val out = Seq.newBuilder[LabelRow]
          batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id)).foreach { e =>
            val us = MicroTs.toUs(e.ts)
            // frontier expiry: any open view more than horizon behind
            // THIS user's newest event can never convert — final FALSE
            val (expired, open) = views.partition(v => us - v.us > horizonUs)
            expired.foreach(v => out += LabelRow(uid, v.event_id, label = false, None))
            views = open
            e.event_type match {
              case "purchase" =>
                // labels only views at-or-before it in row order (v.us
                // <= us always holds on chronological feeds; the guard
                // is the late-arrival contract)
                val (hit, stillOpen) = views.partition(_.us <= us)
                hit.foreach(v =>
                  out += LabelRow(uid, v.event_id, label = true, Some(us - v.us)))
                views = stillOpen
              case "view" =>
                views = views :+ ViewPending(e.event_id, us)
              case _ => ()
            }
          }
          state.update(LabelState(views))
          out.result().iterator
      }
  }

  /** Streaming time-weighted average (s_twa): the `flatMapGroupsWithState`
    * twin of the batch q_twa (operators/EventAnalytics.scala). Per user
    * the state is the LAST observed reading plus the running integral
    * moments (n_steps, Σdt, Σcents·dt) — O(1) per user regardless of
    * event volume; each micro-batch folds its rows in (ts, event_id)
    * order and emits one updated snapshot per touched user (appended as
    * an immutable snapshot record, the s_anomaly discipline — so any
    * sink works, incl. parquet), with the same decimal-lifted floor-ppm close as the batch
    * twin (BigInt here — same integer result, wsum·1e6 exceeds 2^63).
    *
    * Lateness contract: this is the OBSERVED integral — a cross-batch
    * out-of-order reading cannot retroactively split the step it falls
    * inside (that needs the full per-user history, not O(1) state), so
    * readings older than the last observed one are SKIPPED, never folded
    * as a negative step; equal-timestamp readings fold as zero-width
    * steps exactly like the batch window's (ts, event_id) order. On
    * chronological per-key arrival the final snapshot per user is
    * bit-identical to q_twa (spec-pinned incl. checkpoint restart);
    * batch q_twa over the settled log is the reconciliation path.
    */
  def streamingTwa(events: Dataset[ValueEvent]): Dataset[TwaRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TwaState, TwaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[ValueEvent], state: GroupState[TwaState]) =>
          var st = state.getOption.orNull
          batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id)).foreach { e =>
            val us = MicroTs.toUs(e.ts)
            if (st == null)
              st = TwaState(us, e.cents, 0L, 0L, 0L)
            else if (us >= st.lastUs)
              st = TwaState(us, e.cents, st.nSteps + 1,
                st.durUs + (us - st.lastUs),
                st.wsum + st.lastCents * (us - st.lastUs))
            // else: older than the last observed reading — skipped (see
            // the lateness contract above)
          }
          state.update(st)
          if (st.durUs > 0)
            Iterator.single(TwaRow(uid, st.nSteps, st.durUs, st.wsum,
              (BigInt(st.wsum) * 1000000 / st.durUs).toLong))
          else Iterator.empty
      }
  }

  /** Streaming row-pattern detection (s_match_pattern): the
    * `flatMapGroupsWithState` twin of the batch q_match_pattern
    * (operators/EventAnalytics.scala). A consecutive-row pattern of
    * length k needs exactly k−1 trailing readings of state — here the
    * last two cents values — so the streaming NFA the MATCH_RECOGNIZE
    * literature builds collapses to an O(1) struct per user. Each
    * micro-batch folds its rows in (ts, event_id) order; a V (b < a and
    * c > b across three consecutive readings) updates the running count
    * and extrema, and one snapshot per touched user is appended (the
    * s_anomaly record discipline — any sink works). Chronological
    * per-key arrival reproduces batch q_match_pattern exactly
    * (spec-pinned); an out-of-order reading is folded at ARRIVAL
    * position (the observed-monitor contract — re-judging needs the
    * full series, not O(1) state); batch on the settled log reconciles.
    */
  def streamingMatchPattern(events: Dataset[ValueEvent]): Dataset[MatchRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternState, MatchRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[ValueEvent], state: GroupState[PatternState]) =>
          var st = state.getOption.getOrElse(PatternState(0L, 0L, 0, 0L, 0L, 0L))
          batch.toArray.sortBy(e => (MicroTs.toUs(e.ts), e.event_id)).foreach { e =>
            val c = e.cents
            if (st.nSeen >= 2 && st.b < st.a && c > st.b)
              st = st.copy(nV = st.nV + 1,
                maxDrop = math.max(st.maxDrop, st.a - st.b),
                maxRebound = math.max(st.maxRebound, c - st.b))
            st = st.copy(a = st.b, b = c, nSeen = math.min(st.nSeen + 1, 2))
          }
          state.update(st)
          if (st.nV > 0)
            Iterator.single(MatchRow(uid, st.nV, st.maxDrop, st.maxRebound))
          else Iterator.empty
      }
  }

  /** Streaming twin of q_streaks (s_streaks): per-user consecutive-day
    * runs maintained as merged day INTERVALS in
    * `flatMapGroupsWithState`, emitting the updated
    * (n_active_days, longest_streak, n_streaks) snapshot per user per
    * batch. Unlike last-event state (transitions) this state is
    * ORDER-INDEPENDENT — a late day that bridges two streaks merges them
    * exactly, so any arrival order converges to the batch q_streaks
    * answer (StreamingSpec feeds a seeded SHUFFLE of the day set and
    * pins equality). State per user = its run list: bounded by streak
    * count, immune to duplicate re-delivery.
    */
  def streamingStreaks(days: Dataset[DayActive]): Dataset[StreakRow] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = days.sparkSession
    import spark.implicits._
    days.groupByKey(_.user_id)
      .flatMapGroupsWithState[DayRuns, StreakRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[DayActive], state: GroupState[DayRuns]) =>
          var runs = state.getOption.map(_.runs.toList).getOrElse(Nil)
          batch.foreach(d => runs = DayRunOps.insert(runs, d.day))
          state.update(DayRuns(runs))
          val lens = runs.map(r => r._2 - r._1 + 1)
          Iterator.single(StreakRow(uid, lens.sum, lens.max, runs.size))
      }
  }

  val queries: Map[String, Q] = Map(

    // Tumbling 1-hour windows ≙ date_trunc in the oracle (windows align
    // to the epoch, so hour windows == hour truncation).
    "q_stream_tumble" -> Q(
      s"""SELECT date_trunc('hour', ts) AS w_start,
         |  date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
         |  event_type, count(*) AS n, $oSumValue AS sum_value
         |FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin) {
      (s, dir) => tumble(Engine.table(s, dir, "events"))
    },

    // Sliding 1h/15m windows: each event belongs to 4 windows; the oracle
    // materializes them with an unnested 0..3 offset.
    "q_stream_slide" -> Q(
      """SELECT w_start, event_type, count(*) AS n FROM (
        |  SELECT date_trunc('hour', ts)
        |         + (cast(floor(minute(ts)/15) as int) * INTERVAL 15 MINUTE)
        |         - (g.i * INTERVAL 15 MINUTE) AS w_start,
        |         event_type
        |  FROM events CROSS JOIN (SELECT unnest(range(0,4)) AS i) g
        |) GROUP BY w_start, event_type ORDER BY w_start, event_type""".stripMargin) {
      (s, dir) => slide(Engine.table(s, dir, "events"))
    },

    // Stream-static enrichment join, gated on the batch twin (identical
    // plan modulo watermark; StreamingSpec drives the streaming form).
    "q_stream_join" -> Q(
      s"""SELECT date_trunc('hour', ts) AS w_start, c_mktsegment,
         |  count(*) AS n, $oSumValue AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY w_start, c_mktsegment""".stripMargin) { (s, dir) =>
      enrichJoin(Engine.table(s, dir, "events"), Engine.table(s, dir, "customer"))
        .orderBy(col("w_start"), col("c_mktsegment"))
    },

    // Resample + gap fill: the time-series regularization every metrics /
    // training-telemetry pipeline runs — project events onto a dense
    // hourly spine per series, zero-fill counts, forward-fill the last
    // observed sum. The spine is generated per series from its own
    // [min, max] hour (sequence + explode — no driver loop), the join is
    // an equi-join on (series, hour), and the forward fill is
    // last(ignoreNulls) over the ordered spine; spine cardinality =
    // series × hours, bounded regardless of event volume.
    "q_resample" -> Q(
      s"""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
         |    count(*) AS n, $oSumValue AS sv
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, min(h) AS mn, max(h) AS mx
         |           FROM hourly GROUP BY 1),
         |spine AS (SELECT event_type,
         |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
         |  FROM bounds)
         |SELECT s.event_type, s.h AS w_start, coalesce(n, 0) AS n,
         |  last_value(sv IGNORE NULLS) OVER (PARTITION BY s.event_type
         |    ORDER BY s.h ROWS UNBOUNDED PRECEDING) AS sv_ffill
         |FROM spine s LEFT JOIN hourly USING (event_type, h)
         |ORDER BY event_type, w_start""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hourly = Engine.table(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), sumValue.as("sv"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(col("event_type"),
          explode(sequence(col("mn"), col("mx"), expr("interval 1 hour"))).as("h"))
      spine.join(hourly, Seq("event_type", "h"), "left")
        .select(col("event_type"), col("h").as("w_start"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("sv"), ignoreNulls = true).over(
            Window.partitionBy(col("event_type")).orderBy(col("h"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("sv_ffill"))
        .orderBy(col("event_type"), col("w_start"))
    },

    // Session windows (10-minute gap) per user ≙ gaps-and-islands oracle:
    // a session breaks when the gap is >= 10 minutes (Spark merges while
    // ts < previous end, end = last ts + gap).
    "q_stream_session" -> Q(
      """WITH x AS (
        |  SELECT user_id, ts, value, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              < INTERVAL 10 MINUTE
        |         THEN 0 ELSE 1 END AS brk
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, value,
        |    cast(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) as bigint) AS sid
        |  FROM x)
        |SELECT min(ts) AS s_start, max(ts) + INTERVAL 10 MINUTE AS s_end,
        |  user_id, count(*) AS n,
        |  cast(cast(sum(cast(value as decimal(18,6))) as decimal(30,6)) as double) AS sum_value
        |FROM y GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin) {
      (s, dir) => session(Engine.table(s, dir, "events"))
    }
  )
}
