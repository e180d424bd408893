package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** §2.10 — Structured Streaming operators over the `events` stream shape.
  *
  * Every transformation is source-agnostic (`DataFrame => DataFrame`), so
  * the identical code runs over `MemoryStream` (tests), a file source, the
  * batch `events` table (the oracle-checked twins `q_win_tumble_batch` /
  * `q_win_slide_batch` in ops/Windows.scala), or the Kafka source in
  * production. Micro-batch execution, watermark semantics, and state-store
  * eviction follow the Structured Streaming model (SIGMOD'18; PAPERS.md:7).
  */
object StreamOps {

  /** Event row shape used by the typed stateful ops. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  /** Per-user running state emitted by [[runningUserTotals]]. */
  case class UserTotal(user_id: Long, n_events: Long, total_value: Double)

  /** Tumbling 1-hour counts per event_type with a 10-minute watermark.
    * Late rows (older than watermark) are dropped; window state is evicted
    * once the watermark passes window end — bounded state at any scale. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
              col("n"), col("total"))

  /** Windowed approximate distinct users: HLL++ inside tumbling
    * event-time windows. The sketch is mergeable streaming state —
    * per-window memory is the HLL register array (KB), NOT the user-id
    * set, so a window over 10⁹ distinct users costs the same state as
    * one over 10³; exact distinct in a stream would buffer every id.
    * Same watermark/eviction contract as [[tumblingCounts]]. */
  def tumblingApproxUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
           count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"),
              col("approx_users"), col("n_events"))

  /** Tumbling 1-hour OHLC candles — the streaming twin of q_events_ohlc's
    * daily candles: one min_by/max_by aggregation per event-time window,
    * ties broken by the same zero-padded (µs, event_id) string key, so a
    * replay of the batch fixture through this op must EQUAL the batch
    * formulation bit-for-bit (pinned in StreamingSpec). State per window
    * is one candle — O(1) regardless of event volume.
    *
    * DOMAIN ASSUMPTION (shared with q_events_ohlc, ADVICE r5): the
    * lexicographic tie-break key requires non-negative epochs
    * (ts ≥ 1970-01-01, i.e. unix_micros ≥ 0 — a '-' sign would sort
    * before every digit and invert the order) and event_id ∈ [0, 1e10).
    * Both hold for the event fixtures and any post-1970 telemetry; a
    * pre-1970 corpus would need an epoch offset added before lpad. */
  def tumblingOhlc(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .select(col("ts"),
              concat(lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
                     lpad(col("event_id").cast("string"), 10, "0")).as("k"),
              col("value"))
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
           min_by(col("value"), col("k")).as("open"),
           max(col("value")).as("high"),
           min(col("value")).as("low"),
           max_by(col("value"), col("k")).as("close"))
      .select(col("window.start").as("win_start"), col("n"),
              col("open"), col("high"), col("low"), col("close"))

  /** Sliding 1-hour / 15-minute windows (each event in 4 windows). */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Gap-based session windows per user (10-minute inactivity gap). */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("session_window.start").as("sess_start"),
              col("session_window.end").as("sess_end"),
              col("user_id"), col("n"), col("total"))

  /** Exactly-once-per-event_id dedup; watermark bounds the dedup state. */
  def dedupByEventId(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id", "ts")

  /** At-least-once dedup for redelivered events whose retry carries a
    * DIFFERENT timestamp: `dropDuplicatesWithinWatermark` keys state on
    * `event_id` alone (plain `dropDuplicates("event_id")` would keep
    * state forever without `ts` in the key) and evicts each key once the
    * watermark passes its first-seen ts + delay — bounded state with
    * redelivery tolerance, the shape an at-least-once Kafka source
    * actually needs. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom state: running per-user totals via mapGroupsWithState with
    * event-time timeout — state for idle users is dropped when the
    * watermark passes their timeout. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotal] = {
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotal, UserTotal](GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed the idle deadline: emit the final total and
            // drop the state — per-user state stays bounded by active users
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserTotal(uid, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total_value
            var maxTsMs = 0L
            rows.foreach { e =>
              n += 1; tot += e.value
              if (e.ts.getTime > maxTsMs) maxTsMs = e.ts.getTime
            }
            val next = UserTotal(uid, n, tot)
            state.update(next)
            // arm eviction: 30 min of event time past this user's newest
            // event (must be set every invocation — EventTimeTimeout never
            // fires otherwise and state grows without bound)
            state.setTimeoutTimestamp(maxTsMs + 30 * 60 * 1000L)
            next
          }
      }
  }

  /** Spark 4 arbitrary-state v2: the same running per-user totals through
    * `transformWithState` — typed `ValueState` handles managed by the
    * state-store (RocksDB-backed in production), with TTL available as a
    * declarative config instead of hand-armed timeout timestamps. This is
    * the API Structured Streaming is converging on for custom state;
    * keeping it alongside the mapGroupsWithState formulation documents
    * both generations, and StreamingSpec pins that they agree. */
  class RunningTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserTotal] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[UserTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotal](
        "totals", org.apache.spark.sql.Encoders.product[UserTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[UserTotal] = {
      val prev = if (totals.exists()) totals.get() else UserTotal(key, 0L, 0.0)
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { e => n += 1; tot += e.value }
      val next = UserTotal(key, n, tot)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningUserTotals]] rebuilt on `transformWithState` (state v2). */
  def runningUserTotalsV2(spark: SparkSession, events: DataFrame): Dataset[UserTotal] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
                          TimeMode.None(), OutputMode.Update())
  }

  /** A document flowing into [[streamingPack]]. */
  case class PackDoc(doc_id: Long, ts: java.sql.Timestamp, lang: String,
                     text: String)
  /** A packed-bin assignment emitted by [[streamingPack]]. */
  case class PackedDoc(doc_id: Long, lang: String, n_toks: Long,
                       bin_id: Long, bin_off: Long)

  /** Streaming twin of `LlmOps.packSequences`: per-lang cumulative token
    * position kept in a `ValueState[Long]`, each arriving doc assigned the
    * fixed-context bin it starts in. Within a micro-batch docs are packed
    * in doc_id order, so when ids arrive monotonically the assignment is
    * identical to the batch operator over the same prefix — StreamingSpec
    * pins that agreement. State is one long per lang: bounded regardless
    * of stream length. */
  class SequencePacker(ctxLen: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, PackDoc, PackedDoc] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var cum: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long](
        "cum", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[PackDoc],
                                 timerValues: TimerValues): Iterator[PackedDoc] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = rows.toSeq.sortBy(_.doc_id).map { d =>
        // limit -1 keeps trailing empty tokens — Java's default split
        // drops them, Spark's split() keeps them, and the batch-equality
        // contract needs the Spark semantics
        val n = d.text.split(" ", -1).length.toLong
        val start = c
        c += n
        PackedDoc(d.doc_id, key, n, start / ctxLen, start % ctxLen)
      }
      cum.update(c)
      out.iterator
    }
  }

  /** Run [[SequencePacker]] over a doc stream keyed by lang. */
  def streamingPack(spark: SparkSession, docs: DataFrame,
                    ctxLen: Int): Dataset[PackedDoc] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    docs.withWatermark("ts", "10 minutes")
      .as[PackDoc]
      .groupByKey(_.lang)
      .transformWithState(new SequencePacker(ctxLen.toLong),
                          TimeMode.None(), OutputMode.Append())
  }

  /** A closed user session emitted by [[sessionizer]]. */
  case class ClosedSession(user_id: Long, n_events: Long, total_value: Double,
                           start_us: Long, end_us: Long)
  /** Internal accumulator for [[sessionizer]] (public: Catalyst's encoder
    * codegen needs constructor access). */
  case class SessionState(n: Long, total: Double, startUs: Long, endUs: Long)

  /** Custom streaming sessionizer via flatMapGroupsWithState: accumulates
    * per-user sessions and emits each one only when the event-time timeout
    * fires (10 min of watermark progress past the last event) — the
    * hand-rolled equivalent of `session_window`, demonstrating arbitrary
    * stateful logic with bounded state. */
  def sessionizer(spark: SparkSession, events: DataFrame): Dataset[ClosedSession] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    events
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, s.n, s.total, s.startUs, s.endUs))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(SessionState(0L, 0.0, Long.MaxValue, 0L))
            sorted.foreach { e =>
              val us = e.ts.getTime * 1000L
              st = SessionState(st.n + 1, st.total + e.value,
                                math.min(st.startUs, us), math.max(st.endUs, us))
            }
            state.update(st)
            // close the session 10 min (event time) after the last event
            state.setTimeoutTimestamp(st.endUs / 1000L + 10 * 60 * 1000L)
            Iterator.empty
          }
      }
  }

  /** Curation-at-ingest gate: apply batch-derived domain-mixture rates
    * plus a minimum-length quality floor to a document stream — a
    * stream–static broadcast join against the domain-count-bounded rate
    * table and two map-only filters, so the gate carries NO streaming
    * state. The keep decision uses the SAME md5 uniform as the batch
    * `Curation.mixDomains`, so a doc admitted on ingest is exactly the doc
    * a batch backfill over the same rows admits — streaming and batch
    * curation can never disagree (StreamingSpec pins the equivalence). */
  def streamingCurationGate(docs: DataFrame, rates: DataFrame,
                            minToks: Int): DataFrame =
    docs.join(broadcast(rates), Seq("lang"))
      .filter(expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), " +
                   "16, 10) AS BIGINT)") / lit(65536.0) < col("rate"))
      .filter(size(split(col("text"), " ")) >= minToks)
      .select("doc_id", "ts", "lang", "rate", "text")

  /** Stateless streaming anomaly gate — q_events_anomaly's monitoring
    * shape applied at INGEST: each event joins the per-type (mean,
    * stddev) baseline — broadcast, since the baseline is bounded by the
    * event-type vocabulary, never by history — and is flagged when its
    * value sits more than `z`·σ from the baseline mean. Zero-variance
    * types are unjudgeable and pass through unflagged (same guard as the
    * batch op). Entirely map-only ⇒ NO streaming state, and a batch
    * backfill over the identical rows produces the identical flags
    * (StreamingSpec pins the equivalence). */
  def streamingAnomalyGate(events: DataFrame, baseline: DataFrame,
                           z: Double): DataFrame =
    events.join(broadcast(baseline), Seq("event_type"))
      .filter(col("sd") > 0)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
              ((col("value") - col("mu")) / col("sd")).as("zscore"))
      .filter(abs(col("zscore")) > z)

  /** Stream–static enrichment join (static side broadcast per micro-batch). */
  def enrichWithCustomer(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer),
                events("user_id") === customer("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
              col("value"), col("c_name"), col("c_mktsegment"))

  /** Stream–stream interval join: purchases matched to the same user's
    * clicks within the preceding 30 minutes. Both sides watermarked so the
    * join state is purgeable (Structured Streaming requires the interval
    * condition + watermarks to bound buffered state). */
  def purchaseAfterClick(events: DataFrame): DataFrame =
    purchaseClickJoin(events, "inner")

  /** Stream–stream LEFT OUTER interval join: every purchase emits — with
    * its preceding click when one exists, or with NULL click columns once
    * the watermark proves no match can still arrive. The null-side rows
    * are emitted only at watermark passage (state for the unmatched left
    * row must be provably complete first) — the semantics that make outer
    * stream joins bounded-state. */
  def purchaseWithOptionalClick(events: DataFrame): DataFrame =
    purchaseClickJoin(events, "leftOuter")

  /** Stream–stream FULL OUTER interval join: unmatched rows from BOTH
    * sides emit with NULLs at watermark passage — purchases that never
    * saw a click AND clicks that never converted. Same bounded-state
    * argument as the left-outer form, applied to each side. */
  def purchaseClickFullOuter(events: DataFrame): DataFrame =
    purchaseClickJoin(events, "fullOuter")

  /** Stream–stream LEFT SEMI interval join: purchases that HAD a click in
    * the window, emitted with only purchase columns and each at most once
    * — the streaming existence filter (vs the inner join, which emits one
    * row per matching click). Same bounded-state argument: the interval
    * condition plus both watermarks purge join state; a semi match can
    * emit as soon as any click arrives, with no duplicate on later
    * clicks. */
  def purchaseHavingClick(events: DataFrame): DataFrame =
    purchaseClickJoin(events, "leftSemi")

  private def purchaseClickJoin(events: DataFrame, joinType: String): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
      col("c_ts") <= col("p_ts") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** A timestamped document flowing through [[streamingNearDup]]. */
  case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)
  /** A doc exploded into one of its 4 band buckets (public: encoder). */
  case class BandedDoc(doc_id: Long, ts: java.sql.Timestamp,
                       sig16: Seq[Long], bucket: String)
  /** One stored signature in a band bucket (public: encoder codegen). */
  case class BucketEntry(docId: Long, sig: Seq[Long])
  /** Band-bucket state for [[streamingNearDup]]. */
  case class BucketState(entries: List[BucketEntry])
  /** A detected streaming near-duplicate: `doc_id` arrived after and
    * matches `dup_of` with minhash-agreement ≥ the threshold. */
  case class NearDup(doc_id: Long, dup_of: Long, est_jaccard: Double)

  /** Streaming near-dedup of a document firehose — the stateful twin of
    * the batch `LlmOps.lshDedupPairs`: each doc's 16-permutation minhash
    * signature is computed MAP-ONLY (word-3-gram array + `array_min` over
    * higher-order transforms — no aggregation, so the only stateful op in
    * the query is the bucket store), then the doc lands in 4 band buckets
    * and is compared against the signatures already stored there. State is
    * bounded two ways: per-bucket entry cap (`maxBucket`, hot buckets stop
    * absorbing — mirroring the batch hot-gram cap) and event-time timeout
    * (idle buckets evicted once the watermark passes 30 min past their
    * newest doc). A pair agreeing in several bands emits once per band —
    * `.dropDuplicates` downstream or tolerate at-least-once, as with any
    * streaming join. */
  def streamingNearDup(spark: SparkSession, docs: DataFrame,
                       threshold: Double, maxBucket: Int = 64): Dataset[NearDup] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val toks = split(col("text"), " ")
    val gramsArr = array_distinct(transform(
      sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
                          element_at(toks, i + 2))))
    val hashes = transform(col("grams"),
      g => struct((0 to 3).map(j => md5(concat(lit(s"$j:"), g)).as(s"c$j")): _*))
    def mh(seed: Int) = array_min(transform(col("hashes"),
      h => conv(substring(h.getField(s"c${seed / 4}"), 1 + 8 * (seed % 4), 8),
                16, 10).cast("long")))
    def bandSig(b: Int) = concat_ws(",",
      (0 until 4).map(i => element_at(col("sig16"), 4 * b + i + 1).cast("string")): _*)
    val banded = docs
      .filter(size(toks) >= 3)
      .withColumn("grams", gramsArr)
      .withColumn("hashes", hashes)
      .withColumn("sig16", array((0 to 15).map(mh): _*))
      .drop("grams", "hashes", "text")
      .withColumn("bucket",
        explode(array((0 until 4).map(b =>
          concat_ws("|", lit(b), bandSig(b))): _*)))
      .withWatermark("ts", "10 minutes")
      .as[BandedDoc]
    banded
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDup](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(BucketState(Nil))
            val out = List.newBuilder[NearDup]
            var maxTsMs = 0L
            // arrival order within a micro-batch is not defined — process
            // in (ts, doc_id) order so dup_of is always the earlier doc
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { d =>
              if (d.ts.getTime > maxTsMs) maxTsMs = d.ts.getTime
              st.entries.foreach { e =>
                val agree = e.sig.iterator.zip(d.sig16.iterator)
                  .count { case (a, b) => a == b } / 16.0
                if (agree >= threshold)
                  out += NearDup(d.doc_id, e.docId,
                                 math.floor(agree * 1e4 + 0.5) / 1e4)
              }
              if (st.entries.length < maxBucket)
                st = BucketState(BucketEntry(d.doc_id, d.sig16) :: st.entries)
            }
            state.update(st)
            state.setTimeoutTimestamp(maxTsMs + 30 * 60 * 1000L)
            out.result().iterator
          }
      }
  }

  /** Streaming decontamination: flag documents in-flight that share ≥
    * `minShared` 3-gram shingles with a STATIC benchmark/eval set. The
    * benchmark collapses to a single array row (bounded by construction —
    * eval sets are thousands of docs) broadcast into a map-only
    * `array_intersect` per arriving doc: no streaming state, no shuffle,
    * so it composes freely with any downstream stateful op. */
  def streamingContamination(docs: DataFrame, benchmark: DataFrame,
                             minShared: Int): DataFrame = {
    val toks = split(col("text"), " ")
    val gramsArr = array_distinct(transform(
      sequence(lit(1), size(toks) - 2),
      i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
                          element_at(toks, i + 2))))
    val benchGrams = benchmark
      .select(explode(gramsArr).as("g")).distinct()
      .agg(collect_set(col("g")).as("bench_grams"))
    docs
      .filter(size(toks) >= 3)
      .withColumn("grams", gramsArr)
      .crossJoin(broadcast(benchGrams))
      .withColumn("shared_grams",
        size(array_intersect(col("grams"), col("bench_grams"))).cast("long"))
      .filter(col("shared_grams") >= minShared)
      .select(col("doc_id"), col("ts"), col("shared_grams"))
  }

  /** Running CUSUM state per event type emitted by [[streamingCusum]]. */
  case class CusumRow(event_type: String, n_seen: Long, cusum_centi: Long,
                      is_change: Long)

  /** Streaming CUSUM change-point gate — the sequential-monitoring twin
    * to the batch q_win_cusum, run AT INGEST: per event type, the
    * recurrence S ← max(0, S + (value − target)) accumulates small
    * sustained shifts a pointwise z-gate (streamingAnomalyGate) misses.
    * State is ONE counter pair per event type (vocabulary-bounded, like
    * the anomaly gate's baseline — never grows with history); values are
    * centi-quantized so the recurrence is exact integer arithmetic and
    * the streamed result is bit-equal to a batch replay (StreamingSpec
    * pins it). Rows within each micro-batch are folded in (ts, event_id)
    * order so redelivery order inside a batch cannot change the fold.
    * `target` is the per-type baseline (bounded map, closure-captured —
    * the broadcast-baseline pattern); `threshold` flags the drift. */
  def streamingCusum(spark: SparkSession, events: DataFrame,
                     targetCenti: Map[String, Long],
                     thresholdCenti: Long): Dataset[CusumRow] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.event_type)
      .mapGroupsWithState[(Long, Long), CusumRow](GroupStateTimeout.NoTimeout) {
        (tpe, rows, state) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          val tgt = targetCenti.getOrElse(tpe, 0L)
          var s = s0
          var n = n0
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val v = math.floor(e.value * 100.0 + 0.5).toLong
            s = math.max(0L, s + v - tgt)
            n += 1
          }
          state.update((n, s))
          CusumRow(tpe, n, s, if (s > thresholdCenti) 1L else 0L)
      }
  }

  /** Per-event admission decision emitted by [[quotaGate]]. */
  case class QuotaDecision(event_id: Long, user_id: Long,
                           win_start: java.sql.Timestamp, admitted: Boolean)

  /** Per-key quota gate (rate limiter) — ingestion admission control:
    * admit at most `n` events per (user, 1-hour tumbling window), flag
    * the rest throttled. The write-side twin of the read-side curation
    * gate: where [[streamingCurationGate]] drops rows by CONTENT policy,
    * this drops by VOLUME policy (abuse control, per-tenant fairness,
    * cost caps).
    *
    * State is ONE counter per live (user, window) key, evicted by
    * event-time timeout at window end + the watermark slack — bounded by
    * active keys at any scale, the sessionizer's eviction discipline.
    * Within a batch rows apply in (ts, event_id) order, so on an
    * in-order feed the cross-batch decision sequence is bit-equal to the
    * batch twin (rank ≤ n per key under the same order) REGARDLESS of
    * micro-batch boundaries — asserted in StreamingSpec over randomized
    * batch splits, the streamingCusum replay discipline. */
  def quotaGate(spark: SparkSession, events: DataFrame,
                n: Long): Dataset[QuotaDecision] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val HourMs = 3600000L
    events.withWatermark("ts", "10 minutes").as[Event]
      .groupByKey(e => (e.user_id, e.ts.getTime / HourMs * HourMs))
      .flatMapGroupsWithState[Long, QuotaDecision](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var c = state.getOption.getOrElse(0L)
            val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
              .map { e =>
                val adm = c < n
                if (adm) c += 1
                QuotaDecision(e.event_id, e.user_id,
                              new java.sql.Timestamp(key._2), adm)
              }
            state.update(c)
            state.setTimeoutTimestamp(key._2 + HourMs + 600000L)
            out.iterator
          }
      }
  }

  /** The batch twin of [[quotaGate]]: admitted ⟺ rank ≤ n per
    * (user, hour window) under the same (ts, event_id) total order. */
  def quotaGateBatch(events: DataFrame, n: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("user_id"), col("win_start"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("win_start",
                  timestamp_millis(expr("unix_millis(ts) div 3600000")
                                     * lit(3600000L)))
      .withColumn("rk", row_number().over(w))
      .select(col("event_id"), col("user_id"), col("win_start"),
              (col("rk") <= n).as("admitted"))
  }

  /** Dead-letter split — the production error-quarantine pattern: rows
    * whose payload fails the try-cast contract route to a quarantine
    * frame (with the raw payload and a reason) instead of failing the
    * query or silently dropping; clean rows continue typed. One
    * foreachBatch writes both splits per epoch (same idempotent
    * batch-partition discipline as [[writeBatchIdempotent]]), so the
    * conservation invariant clean + quarantined == input holds across
    * replays — asserted in StreamingSpec with planted malformed rows.
    * Both branches are map-only column expressions over one pass. */
  def deadLetterSplit(raw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = raw.withColumn("k_parsed",
      expr("try_cast(get_json_object(props, '$.k') AS INT)"))
    val clean = parsed.filter(col("k_parsed").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
              col("value"), col("k_parsed").as("k"))
    val quarantine = parsed.filter(col("k_parsed").isNull)
      .select(col("event_id"), col("ts"), col("props").as("raw_payload"),
              lit("unparseable props.k").as("reason"))
    (clean, quarantine)
  }

  /** Idempotent per-epoch write — the exactly-once half of the delivery
    * story for sinks that cannot join Spark's commit protocol (Kafka
    * without read_committed consumers, JDBC, object stores): Structured
    * Streaming replays a failed epoch with the SAME batchId, so a
    * foreachBatch writer that treats batchId as its transaction id and
    * OVERWRITES its own `batch=<id>` partition turns at-least-once replay
    * into exactly-once output — the replayed epoch rewrites, never
    * appends a duplicate. StreamingDurabilitySpec proves it by crashing a
    * query after the write but before the epoch commit and asserting the
    * restarted query leaves no duplicate rows. The same shape swaps in a
    * Kafka transactional producer (txn id = batchId) when the connector
    * jar is present. */
  def writeBatchIdempotent(batch: DataFrame, path: String, batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch=$batchId")

  // ------- stream–stream AS-OF (point-in-time) join: behavior 31 -------

  case class DimUpd(k: Long, ts: java.sql.Timestamp, v: Double)
  case class FactRow(k: Long, ts: java.sql.Timestamp)
  case class AsofIn(k: Long, ts: java.sql.Timestamp, side: Int, v: Double)
  case class AsofState(dims: List[(Long, Double)], facts: List[Long])
  case class AsofJoined(k: Long, ts: java.sql.Timestamp, rate: Option[Double])

  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def usTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Stream–stream AS-OF join (the Flink "temporal join" / feature-store
    * point-in-time enrich): each fact row picks the LATEST dimension
    * update with dim.ts ≤ fact.ts on its key — the streaming twin of
    * q_join_asof, which Structured Streaming's interval joins cannot
    * express (they bound both sides; as-of needs "latest before", an
    * argmax over unbounded history). This is exactly the case for
    * custom state: one `flatMapGroupsWithState` over the tagged union
    * of both watermarked streams.
    *
    * Correctness protocol: a fact at T is only FINAL once the watermark
    * passes T (an out-of-order dim with ts ≤ T may still arrive until
    * then), so facts buffer until `ts ≤ watermark`, then emit exactly
    * once — StreamingSpec pins the output bit-equal to the batch as-of
    * replay across randomized micro-batch splits. State is bounded:
    * pending facts sit inside the watermark horizon by construction,
    * and the dim buffer is pruned to the single latest entry at or
    * below the emission horizon (older updates are unreachable — the
    * same argmax argument that makes the batch op correct) plus
    * anything newer; an idle key's state is dropped `ttlMs` after its
    * last watermark advance (documented TTL, the feature-store
    * "expire stale entities" knob). */
  def streamingAsofJoin(spark: SparkSession, facts: DataFrame, dims: DataFrame,
                        ttlMs: Long = 30 * 60 * 1000L): Dataset[AsofJoined] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val tagged = dims
      .select(col("k"), col("ts"), lit(0).as("side"), col("v"))
      .withWatermark("ts", "10 minutes")
      .unionByName(
        facts.select(col("k"), col("ts"), lit(1).as("side"),
                     lit(0.0).as("v"))
          .withWatermark("ts", "10 minutes"))
      .as[AsofIn]
    tagged.groupByKey(_.k)
      .flatMapGroupsWithState[AsofState, AsofJoined](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (kk, rows, state: GroupState[AsofState]) =>
          val st = state.getOption.getOrElse(AsofState(Nil, Nil))
          var dims = st.dims
          var facts = st.facts
          rows.foreach { r =>
            if (r.side == 0) dims = (tsUs(r.ts), r.v) :: dims
            else facts = tsUs(r.ts) :: facts
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = facts.partition(_ <= wmUs)
          // emit in (ts) order — arrival order within a batch is undefined
          val out = ready.sorted.map { fu =>
            val before = dims.filter(_._1 <= fu)
            AsofJoined(kk, usTs(fu),
                       if (before.isEmpty) None
                       else Some(before.maxBy(d => (d._1, d._2))._2))
          }
          if (pending.isEmpty && (dims.isEmpty ||
                                  (state.hasTimedOut && ready.isEmpty))) {
            // drop state only when there is nothing to hold (no dims, no
            // facts) or on a TRUE idle expiry: the timeout fired and
            // emitted nothing. A fact-FINALIZATION timeout (armed at
            // pending.min+1) also arrives as hasTimedOut with pending
            // drained, but ready is non-empty — that key's dim history
            // must survive for later sparse facts, so it falls through
            // to the prune+re-arm branch below (r8, ADVICE fix)
            state.remove()
          } else {
            // prune dims unreachable by any future fact: keep the single
            // latest at/below the horizon plus everything newer
            val horizon = if (pending.nonEmpty) pending.min else wmUs
            val atOrBelow = dims.filter(_._1 <= horizon)
            val keepFrom =
              if (atOrBelow.isEmpty) Long.MinValue else atOrBelow.map(_._1).max
            val kept = dims.filter(_._1 >= keepFrom)
            state.update(AsofState(kept, pending))
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(math.floorDiv(pending.min, 1000L) + 1)
            else
              // idle-expiry armed off the key's own EVENT time, clamped
              // above the current watermark (arming off the watermark
              // alone is a trap: a fresh key sees watermark 0, the arm
              // lands in 1970, and the first watermark jump silently
              // wipes the dim buffer before any fact consults it)
              state.setTimeoutTimestamp(math.max(
                math.floorDiv(kept.map(_._1).max, 1000L) + ttlMs,
                state.getCurrentWatermarkMs() + ttlMs))
          }
          out.iterator
      }
  }

  /** Per-key winner within a micro-batch: the (ts, event_id)-max row, so
    * the result does not depend on upstream row order. Keys select by
    * exact name (a key `k.x` is a column, not field `x` of `k`). */
  private def latestPerKey(batch: DataFrame, keys: Seq[String]): DataFrame =
    batch
      .withColumn("_r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(graft.sources.LakeTable.byName): _*)
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("_r") === 1).drop("_r")

  /** The upsert invariant, checked against the files AS WRITTEN: at most
    * one row per key. */
  private def uniqueKeys(keys: Seq[String], op: String)(
      df: DataFrame): Option[String] =
    if (df.groupBy(keys.map(graft.sources.LakeTable.byName): _*).count()
          .filter(col("count") > 1).isEmpty) None
    else Some(s"duplicate keys after $op")

  /** Streaming CDC apply — behavior 32, the lakehouse ingest workload:
    * a change stream whose rows carry `op` ('D' = tombstone, anything
    * else = upsert) folds into the published table through the same
    * write-audit-publish commit as [[mergeBatchIntoLake]]. Within a
    * batch the per-key winner is the (ts, event_id)-max row — if the
    * LAST change for a key in the batch is a delete, the key is gone
    * from the new version; otherwise it upserts — exactly the
    * semantics of replaying the changes one at a time (the batch twin
    * q_merge_cdc's MERGE ... WHEN MATCHED AND op='D' THEN DELETE).
    * Exactly-once across epoch replay rides the same manifest batchId
    * watermark; deletes are just absent rows in the committed version,
    * so replay-skip covers them with no extra machinery. */
  def applyCdcIntoLake(spark: SparkSession, dir: String, batch: DataFrame,
                       keys: Seq[String], batchId: Long,
                       sink: String = ""): Option[Long] =
    upsertEpoch(spark, dir, batch, keys, None, cdc = true, batchId, sink)

  /** Streaming MERGE (upsert) into a [[graft.sources.LakeTable]] —
    * behavior 30, the streaming half of the write-audit-publish sink:
    * each micro-batch's rows replace same-key rows of the published
    * table (within a batch, the (ts, event_id)-max row wins per key, so
    * the merge is deterministic under any row order), and the result
    * commits through the full stage → audit → publish protocol.
    *
    * Exactly-once across epoch replay WITHOUT an idempotent-overwrite
    * partition scheme: the manifest records the applied batchId, and the
    * pointer flip publishes data + watermark atomically. A crash before
    * the flip leaves the old version live, the WAL replays the epoch,
    * the watermark still reads < batchId, and the merge re-runs against
    * the OLD base — same result. A crash after the flip replays the
    * epoch, the watermark reads ≥ batchId, and the merge is skipped —
    * no double-apply. That is a transactional sink built from one
    * atomic rename.
    *
    * Scale: this spelling rewrites the full table per commit — right for
    * unlayouted tables; when the table is laid out with a `_layout`
    * column, [[graft.sources.LakeTable.mergePartial]] (r8) is the
    * partial-rewrite path: only files whose layout value the batch
    * touches restage, the rest carry over into the new manifest verbatim
    * (q_lake_merge_partial pins it end-to-end). Compaction of the
    * accumulated versions is LakeTable.optimize's job, reading through
    * the same manifest. */
  def mergeBatchIntoLake(spark: SparkSession, dir: String, batch: DataFrame,
                         keys: Seq[String], batchId: Long,
                         sink: String = ""): Option[Long] =
    upsertEpoch(spark, dir, batch, keys, None, cdc = false, batchId, sink)

  /** Streaming MERGE into a LAYOUTED lake table — behavior 33 (r8): the
    * partial-rewrite twin of [[mergeBatchIntoLake]]. The table carries a
    * layout column (file paths hold `_layout=<value>` metadata), so each
    * micro-batch's upsert only restages the files whose layout value the
    * batch touches — [[graft.sources.LakeTable.mergePartial]] carries
    * every other file into the new manifest verbatim. Exactly-once
    * across epoch replay rides the same manifest batchId watermark as
    * the full-rewrite sink: a crash before the flip replays against the
    * old base, a crash after reads watermark ≥ batchId and skips. At
    * 100 TB this is the shape a CDC-ingest lake job actually runs —
    * write amplification ∝ touched partitions, not table size. */
  def mergeBatchIntoLakePartial(spark: SparkSession, dir: String,
                                batch: DataFrame, keys: Seq[String],
                                layoutCol: String, batchId: Long,
                                compactOver: Option[Int] = None,
                                sink: String = ""): Option[Long] = {
    import graft.sources.LakeTable
    val v = upsertEpoch(spark, dir, batch, keys, Some(layoutCol),
                        cdc = false, batchId, sink)
    // auto-OPTIMIZE: continuous ingest accretes one file per touched
    // layout value per epoch; once the live file count exceeds the
    // threshold, compact layout-preservingly (one file per value again).
    // The compacted version carries the applied-batch watermark, so a
    // crash between compaction and the epoch's WAL commit still replays
    // as a skip — exactly the auto-compaction every lakehouse runs
    // beside its streaming writers.
    if (v.nonEmpty && compactOver.exists(LakeTable.currentFiles(dir).size > _))
      LakeTable.optimize(spark, dir, Long.MaxValue, Seq.empty,
                         Some(layoutCol)) match {
        case Left(reason) => throw new IllegalStateException(reason)
        case Right(_) => ()
      }
    v
  }

  /** Streaming CDC apply at the PARTIAL-REWRITE operating point —
    * behavior 34 (r8): [[applyCdcIntoLake]]'s semantics (last-change-wins
    * tombstone folding per key within the batch) over
    * [[graft.sources.LakeTable.applyCdcPartial]], so each epoch rewrites
    * only the layout values its changes touch and deletes are simply
    * absent from the rewritten files. Exactly-once across epoch replay
    * rides the manifest batchId watermark; deletes need no extra replay
    * machinery (absent rows stay absent on skip). */
  def applyCdcIntoLakePartial(spark: SparkSession, dir: String,
                              batch: DataFrame, keys: Seq[String],
                              layoutCol: String, batchId: Long,
                              sink: String = ""): Option[Long] =
    upsertEpoch(spark, dir, batch, keys, Some(layoutCol), cdc = true,
                batchId, sink)

  /** The one body of the four foreachBatch lake helpers above: skip an
    * epoch the sink's manifest watermark already covers (replay), fold
    * the batch to its per-key winner, and commit it through the lake's
    * one upsert engine ([[graft.sources.LakeTable.partialRewrite]]) —
    * rewriting only the touched layout values under `layoutCol`, the
    * whole table without one. None = replayed or empty epoch: nothing
    * published and the watermark untouched, so a later replay with rows
    * applies normally. */
  private def upsertEpoch(spark: SparkSession, dir: String,
                          batch: DataFrame, keys: Seq[String],
                          layoutCol: Option[String], cdc: Boolean,
                          batchId: Long, sink: String): Option[Long] = {
    import graft.sources.LakeTable
    if (LakeTable.appliedBatch(dir, sink).exists(_ >= batchId)) None
    else LakeTable.partialRewrite(spark, dir, latestPerKey(batch, keys),
        cdc, keys, layoutCol, Some(batchId), Seq.empty, sink)(
        uniqueKeys(keys, if (cdc) "CDC apply" else "merge")) match {
      case Right(c) => Some(c.version).filter(_ => c.published)
      case Left(reason) => throw new IllegalStateException(reason)
    }
  }

  /** Streaming READ of the lake — behavior 35 (r9): the incremental
    * subscription to the table the sinks above write exactly-once. The
    * manifest history IS the change log
    * ([[graft.sources.LakeTable.changesBetween]]): each poll hands back
    * the retract/add rows of every version published since the persisted
    * cursor — OPTIMIZE versions contribute nothing — and the consumer
    * advances the cursor with [[commitLakeCursor]] only AFTER its own
    * downstream effect commits. Crash between effect and cursor commit →
    * the next poll REPLAYS the same window; `_commit_version` is the
    * idempotence handle (a fold keyed on it applies each version once),
    * so the subscription composes to exactly-once the same way the sink
    * side does — exactly the contract a foreachBatch consumer of Delta's
    * change-data-feed runs. At 100 TB each poll is manifest arithmetic
    * plus a read of only the files the window's versions touched. */
  def pollLakeChanges(spark: SparkSession, dir: String,
                      cursorFile: String): Option[(Long, Long, DataFrame)] = {
    import graft.sources.LakeTable
    val p = java.nio.file.Paths.get(cursorFile)
    val from =
      if (java.nio.file.Files.exists(p))
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
      else 0L
    LakeTable.currentVersion(dir).filter(_ > from).map { cur =>
      (from, cur, LakeTable.changesBetween(spark, dir, from, cur))
    }
  }

  /** Advance the change-feed cursor — atomic (write-tmp-then-move), so a
    * crash mid-commit leaves the old cursor and the next poll replays. */
  def commitLakeCursor(cursorFile: String, version: Long): Unit = {
    val p = java.nio.file.Paths.get(cursorFile)
    val tmp = p.resolveSibling(s".${p.getFileName}.tmp")
    java.nio.file.Files.write(tmp, version.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Incremental materialized view as a PURE streaming aggregation over
    * the registered lake source — behavior 40 (r10): where behavior 37
    * maintains the MV imperatively from polled diffs, this spelling is
    * the declarative fixpoint — `readStream.format("graft-lake")` feeds a
    * standard streaming groupBy whose measures are SIGNED by change type
    * (insert +1, retraction −1), so count/sum maintain themselves inside
    * the engine's own aggregation state. No custom state handling at
    * all: exactly-once comes from the source's offset log, state size is
    * the GROUP cardinality (never the table), and a fully-deleted group
    * reads back as n_rows = 0 for the consumer's multiplicity filter.
    * Complete/update output both work; the test pins Complete against a
    * direct batch re-aggregation of the live table across
    * merge/OPTIMIZE/tombstone history. */
  def lakeMv(feed: DataFrame, groupCols: Seq[String],
             sumCols: Seq[String]): DataFrame = {
    val w = when(col("_change_type") === "delete", lit(-1L))
      .otherwise(lit(1L))
    feed.groupBy(groupCols.map(col): _*)
      .agg(sum(w).as("n_rows"),
           sumCols.map(c => sum(w * col(c)).as(s"${c}_sum")): _*)
  }

  /** Kafka source (documented surface; the connector jar is not present in
    * this offline image, so this compiles but only runs where
    * spark-sql-kafka-0-10 is on the classpath — the transforms above are
    * format-agnostic either way). */
  def kafkaEvents(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), lit(
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")).as("e"))
      .select("e.*")

  /** Kafka sink twin: JSON-encode rows to a topic. */
  def toKafka(df: DataFrame, servers: String, topic: String) =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
}
