package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming (SURVEY §2.11's extension surface):
  * per-key running state via `flatMapGroupsWithState` — the pattern for
  * semantics windowed aggregation can't express (running totals with
  * emission on every update, cross-batch counters, custom eviction).
  *
  * State is bounded per key (a single Stat record), so a 100 TB/day
  * stream carries state proportional to |keys|, not |events|.
  */
object Stateful {

  case class Event(user_id: Long, value: Double)
  case class Stat(user_id: Long, n_events: Long, total: Double,
                  max_value: Double)

  def updateStat(userId: Long, events: Iterator[Event],
                 state: GroupState[Stat]): Iterator[Stat] = {
    val prev = state.getOption.getOrElse(Stat(userId, 0L, 0.0, Double.MinValue))
    val next = events.foldLeft(prev) { (s, e) =>
      Stat(userId, s.n_events + 1, s.total + e.value,
        math.max(s.max_value, e.value))
    }
    state.update(next)
    Iterator(next)
  }

  /** Running per-user stats over a bounded parquet-backed stream,
    * driven synchronously (memory sink) — the local-mode smoke shape.
    * Update mode: each micro-batch emits the keys it touched.
    */
  def runningUserStats(spark: SparkSession, events: Dataset[Event],
                       queryName: String = "running_stats")
      : Dataset[Stat] = {
    import spark.implicits._
    val out = events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateStat)
    out
  }

  /** Batch twin for oracle checks: same Stat per user as a single-batch
    * stream run would produce.
    */
  def runningUserStatsBatch(spark: SparkSession, events: Dataset[Event])
      : Dataset[Stat] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroups { (uid, it) =>
        it.foldLeft(Stat(uid, 0L, 0.0, Double.MinValue)) { (s, e) =>
          Stat(uid, s.n_events + 1, s.total + e.value,
            math.max(s.max_value, e.value))
        }
      }
  }

  case class TimedEvent(user_id: Long, ts: Long, event_id: Long,
                        value: Double)
  case class EwmaState(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming twin of [[graft.ops.Rolling.ewma]]: per-key running
    * exponential smoothing. Each micro-batch's group SORTS its events
    * by (ts, event_id) before folding (the iterator order is not
    * guaranteed), so with in-order arrival across batches — and
    * exactly in the bounded single-batch smoke — the final state
    * equals the batch fold op-for-op: s₁ = x₁, sᵢ = α·xᵢ + (1−α)·sᵢ₋₁
    * in IEEE doubles. State per key is one (n, ewma) record.
    */
  def updateEwma(alpha: Double)(userId: Long, events: Iterator[TimedEvent],
      state: GroupState[EwmaState]): Iterator[EwmaState] = {
    val sorted = events.toSeq.sortBy(e => (e.ts, e.event_id))
    val next = sorted.foldLeft(state.getOption) {
      case (None, e) => Some(EwmaState(userId, 1L, e.value))
      case (Some(s), e) => Some(EwmaState(userId, s.n_events + 1,
        alpha * e.value + (1.0 - alpha) * s.ewma))
    }
    next.foreach(state.update)
    next.iterator
  }

  def runningEwma(spark: SparkSession, events: Dataset[TimedEvent],
      alpha: Double): Dataset[EwmaState] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateEwma(alpha))
  }

  /** Per-key exact running moments in 1e-4 fixed point: n, Σq, Σq²
    * with q = floor(value·10⁴ + 0.5). Integer sums COMMUTE, so unlike
    * the EWMA fold the final state is independent of batch boundaries
    * AND arrival order — the strongest determinism class a stateful
    * stream can have, and why the q193 oracle can be a plain batch
    * GROUP BY. Σq² stays < 2⁵⁴ for |value| ≤ 5·10⁵ over 10⁸ events
    * per key (fixture max 490 over ~10³ events: ~10¹⁶).
    */
  case class MomentsState(user_id: Long, n: Long, s1: Long, s2: Long)

  def updateMoments(userId: Long, events: Iterator[TimedEvent],
      state: GroupState[MomentsState]): Iterator[MomentsState] = {
    var s = state.getOption.getOrElse(MomentsState(userId, 0L, 0L, 0L))
    events.foreach { e =>
      val q = math.floor(e.value * 10000.0 + 0.5).toLong
      s = MomentsState(userId, s.n + 1, s.s1 + q, s.s2 + q * q)
    }
    state.update(s)
    Iterator.single(s)
  }

  def runningMoments(spark: SparkSession, events: Dataset[TimedEvent])
      : Dataset[MomentsState] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateMoments)
  }

  /** Misra-Gries heavy-hitter state: per stream key, at most `m`
    * (item → counter) entries. The MG guarantees (counter ≤ true
    * count; true − counter ≤ N/(m+1); every item with true count >
    * N/(m+1) retained) hold for ANY arrival order, but the exact
    * counter VALUES are order-sensitive — so q199 checks the
    * guarantees (q52-style invariant oracle), not raw counters, and
    * each micro-batch sorts its slice by (ts, event_id) like the EWMA
    * fold so the bounded replay is reproducible anyway.
    */
  case class KeyedItem(key: String, item: Long, ts: Long, event_id: Long)
  case class MgState(counters: Map[Long, Long])
  case class MgCounter(key: String, item: Long, est: Long)

  /** Encoders of the map-holding states, built once per JVM. An encoder
    * numbers its map's lambda variables from a JVM-wide counter, so one
    * derived per call generated (and compiled) a new state serializer on
    * every run of the same query. They are `ExpressionEncoder`s because
    * Spark derives a fresh one from an `Encoders.product` on each use.
    */
  private val mgStateEncoder: Encoder[MgState] = ExpressionEncoder[MgState]()

  def updateMisraGries(m: Int)(key: String, events: Iterator[KeyedItem],
      state: GroupState[MgState]): Iterator[MgCounter] = {
    var c = state.getOption.map(_.counters).getOrElse(Map.empty[Long, Long])
    events.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      c.get(e.item) match {
        case Some(n) => c = c.updated(e.item, n + 1)
        case None if c.size < m => c = c.updated(e.item, 1L)
        case None =>
          c = c.view.mapValues(_ - 1).filter(_._2 > 0).toMap
      }
    }
    state.update(MgState(c))
    c.iterator.map { case (item, est) => MgCounter(key, item, est) }
  }

  def runningHeavyHitters(spark: SparkSession, events: Dataset[KeyedItem],
      m: Int): Dataset[MgCounter] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateMisraGries(m))(
        mgStateEncoder, implicitly[Encoder[MgCounter]])
  }

  /** Streaming latest-wins upsert (CDC materialization): per key, keep
    * the record with the max (ts, event_id). Max over a total order
    * COMMUTES, so like [[runningMoments]] the final state is
    * independent of batch slicing and arrival order — the oracle is
    * the batch row_number()=1 latest-wins, no replay.
    */
  case class LatestState(user_id: Long, ts: Long, event_id: Long,
                         value: Double)

  def updateLatest(userId: Long, events: Iterator[TimedEvent],
      state: GroupState[LatestState]): Iterator[LatestState] = {
    var s = state.getOption.orNull
    events.foreach { e =>
      if (s == null || e.ts > s.ts || (e.ts == s.ts && e.event_id > s.event_id))
        s = LatestState(userId, e.ts, e.event_id, e.value)
    }
    state.update(s)
    Iterator.single(s)
  }

  def runningLatest(spark: SparkSession, events: Dataset[TimedEvent])
      : Dataset[LatestState] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateLatest)
  }

  /** Streaming 3σ anomaly alerts: each event tests against the running
    * moments of its key BEFORE being folded in ((v−μ)² > 9σ², no sqrt
    * — the compare runs on values derived from the exact integer
    * sums). Alerts need n ≥ `minN` prior events. Like the EWMA fold,
    * each batch sorts by (ts, event_id), so the bounded single-batch
    * replay equals the batch prefix-window recurrence the q228 oracle
    * computes.
    */
  case class Alert(user_id: Long, event_id: Long, value: Double,
                   n_prior: Long)

  def updateAnomaly(minN: Int)(userId: Long, events: Iterator[TimedEvent],
      state: GroupState[MomentsState]): Iterator[Alert] = {
    var s = state.getOption.getOrElse(MomentsState(userId, 0L, 0L, 0L))
    val alerts = scala.collection.mutable.ListBuffer.empty[Alert]
    events.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      if (s.n >= minN) {
        val m = (s.s1.toDouble / s.n) / 10000.0
        val varr = (s.s2.toDouble / s.n -
          (s.s1.toDouble / s.n) * (s.s1.toDouble / s.n)) / 100000000.0
        val d = e.value - m
        if (d * d > 9.0 * varr) alerts += Alert(userId, e.event_id, e.value, s.n)
      }
      val q = math.floor(e.value * 10000.0 + 0.5).toLong
      s = MomentsState(userId, s.n + 1, s.s1 + q, s.s2 + q * q)
    }
    state.update(s)
    alerts.iterator
  }

  def runningAnomalies(spark: SparkSession, events: Dataset[TimedEvent],
      minN: Int): Dataset[Alert] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout())(updateAnomaly(minN))
  }

  // ------------------------------------------------------- leaderboard
  /** Streaming exact top-k leaderboard per key: cumulative integer
    * totals per (key, member) in state; each batch re-emits the full
    * current top-k stamped with a `version` (= events absorbed for
    * that key so far), so the FINAL standings are the max-version
    * rows per key under ANY batch slicing — integer sums commute, and
    * the oracle is the plain batch groupBy + rank. State size is the
    * per-key member alphabet; for open-ended alphabets cap with the
    * Misra–Gries sketch above instead.
    */
  case class ValueEvent(key: String, user_id: Long, qv: Long)
  case class LbState(totals: Map[Long, Long], version: Long)
  case class LbRow(key: String, version: Long, rank: Long,
      user_id: Long, total: Long)
  private val lbStateEncoder: Encoder[LbState] = ExpressionEncoder[LbState]()

  def updateLeaderboard(k: Int)(key: String,
      events: Iterator[ValueEvent],
      state: GroupState[LbState]): Iterator[LbRow] = {
    val prev = state.getOption.getOrElse(LbState(Map.empty, 0L))
    var totals = prev.totals
    var n = prev.version
    events.foreach { e =>
      totals = totals.updated(e.user_id,
        totals.getOrElse(e.user_id, 0L) + e.qv)
      n += 1
    }
    state.update(LbState(totals, n))
    totals.toSeq.sortBy { case (u, t) => (-t, u) }.take(k)
      .zipWithIndex.iterator.map { case ((u, t), i) =>
        LbRow(key, n, i + 1L, u, t)
      }
  }

  def runningLeaderboard(spark: SparkSession, events: Dataset[ValueEvent],
      k: Int): Dataset[LbRow] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateLeaderboard(k))(
        lbStateEncoder, implicitly[Encoder[LbRow]])
  }

  // --------------------------------------------------- histogram state
  /** Bounded histogram state: per key, `nBuckets` integer counters —
    * the streaming percentile recipe whose state NEVER grows with the
    * stream (unlike a values list), and whose bucket counts are
    * additive, so the final emission is identical under any batch
    * slicing. Percentiles pick the exact ⌈q·n⌉-ranked bucket by the
    * integer cum walk (the q59/q266 rule).
    */
  case class HistState(counts: Map[Int, Long], version: Long)
  case class HistRow(key: String, version: Long, n: Long,
      p50_bucket: Long, p90_bucket: Long)
  private val histStateEncoder: Encoder[HistState] =
    ExpressionEncoder[HistState]()

  def updateHistogram(nBuckets: Int)(key: String,
      events: Iterator[ValueEvent],
      state: GroupState[HistState]): Iterator[HistRow] = {
    val prev = state.getOption.getOrElse(HistState(Map.empty, 0L))
    var counts = prev.counts
    var n = prev.version
    events.foreach { e =>
      val b = math.min(math.max(e.qv, 0L), nBuckets - 1L).toInt
      counts = counts.updated(b, counts.getOrElse(b, 0L) + 1L)
      n += 1
    }
    state.update(HistState(counts, n))
    val total = counts.valuesIterator.sum
    def pick(num: Long, den: Long): Long = {
      val k = (num * total + den - 1) / den
      var cum = 0L
      var ans = -1L
      for (b <- counts.keySet.toSeq.sorted if ans < 0) {
        cum += counts(b)
        if (cum >= k) ans = b.toLong
      }
      ans
    }
    Iterator.single(HistRow(key, n, total, pick(1, 2), pick(9, 10)))
  }

  def runningHistogram(spark: SparkSession, events: Dataset[ValueEvent],
      nBuckets: Int): Dataset[HistRow] = {
    import spark.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout())(updateHistogram(nBuckets))(
        histStateEncoder, implicitly[Encoder[HistRow]])
  }

  // ------------------------------------------------------ conversions
  case class TypedEvent(user_id: Long, ts: Long, event_id: Long,
                        event_type: String)
  case class ConvState(user_id: Long, view_ts: Long, view_id: Long,
                       converted: Boolean)
  case class Conversion(user_id: Long, view_ts: Long, purchase_ts: Long,
                        purchase_id: Long, latency_us: Long)

  /** Streaming first-conversion funnel: per user, remember the FIRST
    * 'view'; when the first subsequent 'purchase' arrives, emit one
    * conversion with its latency and stop (state flips to converted).
    * Each batch's group sorts by (ts, event_id) before folding (the
    * sibling-op discipline), so with in-order arrival across batches —
    * and exactly in the single-batch smoke — the emitted set equals
    * the batch computation: first view, first purchase strictly after
    * it in (ts, event_id) order. State per user is one tiny record,
    * and a converted user's state never grows again.
    */
  def updateConversion(userId: Long, events: Iterator[TypedEvent],
      state: GroupState[ConvState]): Iterator[Conversion] = {
    var s = state.getOption.getOrElse(
      ConvState(userId, Long.MaxValue, Long.MaxValue, converted = false))
    val out = scala.collection.mutable.ListBuffer.empty[Conversion]
    events.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      if (!s.converted) {
        if (e.event_type == "view" && s.view_ts == Long.MaxValue)
          s = s.copy(view_ts = e.ts, view_id = e.event_id)
        else if (e.event_type == "purchase" && s.view_ts != Long.MaxValue &&
            (e.ts > s.view_ts ||
              (e.ts == s.view_ts && e.event_id > s.view_id))) {
          out += Conversion(userId, s.view_ts, e.ts, e.event_id,
            e.ts - s.view_ts)
          s = s.copy(converted = true)
        }
      }
    }
    state.update(s)
    out.iterator
  }

  def runningConversions(spark: SparkSession, events: Dataset[TypedEvent])
      : Dataset[Conversion] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout())(updateConversion)
  }

  // ----------------------------------------------------- token bucket
  case class BucketState(user_id: Long, tokens_u: Long, last_us: Long)
  case class Admission(user_id: Long, event_id: Long, ts: Long,
                       admitted: Boolean, tokens_after_u: Long)

  /** Streaming token-bucket rate limiter: each user's bucket holds up
    * to `capU` micro-tokens and refills at one token per
    * `refillUsPerToken` of EVENT time; an event is admitted iff a
    * full token (10⁶ micro-tokens) is available, and spends it. All
    * state is exact integers keyed to event-time deltas — no
    * processing-time anywhere — so the admit/reject sequence is a
    * pure function of the sorted event stream and replays exactly in
    * batch (the oracle folds the same recurrence per user). Per-batch
    * groups sort by (ts, event_id), the sibling-op discipline.
    */
  def updateBucket(capU: Long, refillUsPerToken: Long)(userId: Long,
      events: Iterator[TimedEvent],
      state: GroupState[BucketState]): Iterator[Admission] = {
    var s = state.getOption.getOrElse(
      BucketState(userId, capU, Long.MinValue))
    val out = scala.collection.mutable.ListBuffer.empty[Admission]
    events.toSeq.sortBy(e => (e.ts, e.event_id)).foreach { e =>
      val refill =
        if (s.last_us == Long.MinValue) 0L
        else (e.ts - s.last_us) * 1000000L / refillUsPerToken
      val avail = math.min(capU, s.tokens_u + refill)
      val admitted = avail >= 1000000L
      val after = if (admitted) avail - 1000000L else avail
      out += Admission(userId, e.event_id, e.ts, admitted, after)
      s = BucketState(userId, after, e.ts)
    }
    state.update(s)
    out.iterator
  }

  def runningBucket(spark: SparkSession, events: Dataset[TimedEvent],
      capU: Long, refillUsPerToken: Long): Dataset[Admission] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout())(updateBucket(capU, refillUsPerToken))
  }
}
