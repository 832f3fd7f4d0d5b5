package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions._

/** Structured-Streaming operators. The reference's "streaming" is a
  * driver-side sleep loop re-running the batch pipeline
  * (/root/reference/app.py:160-236); the engine expresses incremental
  * processing natively: the same event transformations compile over a batch
  * DataFrame or a readStream DataFrame unchanged, and stateful operators use
  * watermarked event time rather than wall-clock re-runs.
  */
object Streams {

  /** Tumbling window aggregation — identical logic to the batch
    * q26 (Analytics.q26TumblingWindow body); pass a readStream frame and it
    * becomes an incremental watermarked query. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
                     windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Session windows per user: activity gaps above `gap` close the
    * session. */
  def sessionize(events: DataFrame, gap: String = "5 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Event row for typed stateful processing. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  /** Per-user running state maintained by mapGroupsWithState. */
  case class UserState(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful operator: running per-user totals — the
    * `KeyValueGroupedDataset.mapGroupsWithState` pattern for state Spark's
    * built-in aggregations can't express. NoTimeout keeps the micro-batch
    * engine idle between data arrivals (a timeout-based variant would add
    * `GroupStateTimeout.ProcessingTimeTimeout` + `state.setTimeoutDuration`,
    * at the cost of continuous empty timeout batches). */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserState] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserState(userId, n, v)
          state.update(next)
          next
      }
  }

  /** Output-mode helper for the windowed aggregations (append requires the
    * watermark to advance; update emits incremental rows). */
  val defaultOutputMode: OutputMode = OutputMode.Update()

  /** One finalized monitoring window: current vs previous count and the
    * reference's run-over-run variance (see
    * [[graft.workflow.Pipeline.variancePct]]). */
  case class WindowVariance(key: String, window_start: java.sql.Timestamp,
                            n: Long, prev_n: Long, variance_pct: Double,
                            alert: Boolean)

  /** Internal per-key monitor state (public only for encoder codegen). */
  case class MonitorState(windowStartMs: Long, n: Long, prevN: Long)

  /** Streaming run-over-run variance monitor — the reference's batch
    * variance alarm (rows-delta > threshold%,
    * /root/reference/services/jcap_pa_etl_service.py:355-372) re-expressed
    * over a live stream: per key, count events into tumbling windows; when
    * a window closes (an event for a LATER window arrives), emit it with
    * the variance against the previous window and the alert flag.
    *
    * State is one (window, count, prev count) triple per key —
    * `flatMapGroupsWithState`, because the built-in windowed aggregation
    * cannot see the PREVIOUS window's result (stateful operators cannot
    * stack on a streaming aggregation). Late events belonging to an
    * already-closed window fold into the CURRENT window rather than
    * resurrecting the closed one — the monitoring tradeoff (alarm
    * latency over retroactive exactness), documented, bounded, and the
    * reason this operator needs no watermark to keep state finite. */
  def varianceMonitor(events: DataFrame, keyCol: String, tsCol: String,
                      windowSeconds: Long = 60,
                      thresholdPct: Double = 5.0): Dataset[WindowVariance] = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.select(col(keyCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[MonitorState, WindowVariance](
      OutputMode.Append(), GroupStateTimeout.NoTimeout) {
      (key: String, batch: Iterator[(String, java.sql.Timestamp)],
       state: GroupState[MonitorState]) =>
        val fold = new WindowVarianceFold(key, windowSeconds * 1000,
          thresholdPct)
        state.getOption.foreach(fold.restore)
        // flatMapGroupsWithState guarantees NO intra-group order — a
        // multi-partition source can interleave windows within one batch,
        // which would close windows early and missort counts. Sort the
        // micro-batch by event time before folding (bounded by batch size,
        // not stream length; the batch-parity path over a full table is
        // [[varianceMonitorBatch]], whose external sort never buffers).
        val out = scala.collection.mutable.ArrayBuffer.empty[WindowVariance]
        batch.toArray.sortBy(_._2.getTime)
          .foreach(r => fold.observe(r._2.getTime).foreach(out += _))
        state.update(fold.snapshot)
        out.iterator
    }
  }

  /** Lazily fold contiguous runs of equal keys in a sorted partition
    * iterator: a fresh fold per run, rows streamed through — the one
    * idiom behind every batch-parity form. An explicit first-row flag
    * replaces in-band sentinels (a null-key row or a key equal to some
    * sentinel value must start a run like any other, not NPE or merge
    * into a phantom run). */
  private def foldRuns[T, K, F, O](it: Iterator[T])(key: T => K)
      (mk: K => F)(obs: (F, T) => IterableOnce[O]): Iterator[O] = {
    var started = false
    var cur: K = null.asInstanceOf[K]
    var fold: F = null.asInstanceOf[F]
    it.flatMap { t =>
      val k = key(t)
      if (!started || k != cur) {
        started = true
        cur = k
        fold = mk(k)
      }
      obs(fold, t)
    }
  }

  /** The per-event window-close fold shared VERBATIM by
    * [[varianceMonitor]] (state restored per micro-batch) and
    * [[varianceMonitorBatch]] — a window emits with its variance against
    * the key's previous window the moment an event for a LATER window
    * arrives. Caller guarantees nondecreasing event time per key. */
  private[streaming] final class WindowVarianceFold(key: String,
                                                    winMs: Long,
                                                    thresholdPct: Double) {
    // Long.MinValue = "no window open yet": windows are floorDiv
    // multiples of winMs, so a real pre-epoch window start is negative
    // but can never be Long.MinValue (that would need an event within
    // winMs of the representable minimum) — the old `< 0` check would
    // treat every pre-epoch window as uninitialized
    private var st = MonitorState(Long.MinValue, 0L, 0L)
    def restore(s: MonitorState): Unit = st = s
    def snapshot: MonitorState = st
    def observe(tsMs: Long): Option[WindowVariance] = {
      // floorDiv, not truncating /: a pre-epoch timestamp must land in
      // the window BELOW zero, the same answer SQL floor division (//)
      // gives — truncation would assign epoch −1 ms to window 0
      val w = Math.floorDiv(tsMs, winMs) * winMs
      if (st.windowStartMs == Long.MinValue) {
        st = MonitorState(w, 1L, 0L); None
      }
      else if (w > st.windowStartMs) {
        val v = graft.workflow.Pipeline.variancePct(st.n, st.prevN)
        val closed = WindowVariance(key,
          new java.sql.Timestamp(st.windowStartMs), st.n, st.prevN, v,
          st.prevN > 0 && v > thresholdPct)
        st = MonitorState(w, 1L, st.n)
        Some(closed)
      } else { st = st.copy(n = st.n + 1); None } // same/late window: fold in
    }
  }

  /** BATCH execution of the variance monitor — the identical fold
    * ([[WindowVarianceFold]]), run over a static table in the scale-safe
    * shape: repartition(key) + spillable sortWithinPartitions(key, ts) +
    * a lazy per-key-run iterator fold. No task buffers a key's history;
    * each key's final (never-closed) window stays unemitted, exactly as
    * the streaming form leaves it open. */
  def varianceMonitorBatch(events: DataFrame, keyCol: String, tsCol: String,
                           windowSeconds: Long = 60,
                           thresholdPct: Double = 5.0)
      : Dataset[WindowVariance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(keyCol).cast("string").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .repartition(col("k"))
      .sortWithinPartitions(col("k"), col("ts"))
      .as[(String, java.sql.Timestamp)]
      .mapPartitions { it =>
        foldRuns(it)(_._1)(k =>
          new WindowVarianceFold(k, windowSeconds * 1000, thresholdPct)) {
          (fold, r) => fold.observe(r._2.getTime)
        }
      }
  }

  case class NearDupHit(doc_id: Long, dup_of: Long, est_jaccard: Double,
                        band: Int)
  case class BucketState(ids: Seq[Long], sigs: Seq[Seq[Long]])

  /** [[nearDupStreamEventTime]]'s state: the bucket plus its newest
    * event time — the horizon anchor. Without it, a same-bucket arrival
    * with an OLDER (still-valid) timestamp would recompute the eviction
    * deadline from the batch-local max and shrink the horizon below
    * newest-event + ttl. */
  case class BucketStateEt(ids: Seq[Long], sigs: Seq[Seq[Long]],
                           maxTsMs: Long)

  /** Ingest-time NEAR-dup detection: flag each arriving document whose
    * MinHash signature collides with an earlier document in any LSH band
    * and whose estimated Jaccard (matching-minhash fraction over the full
    * k-signature) clears `minEstJaccard` — the streaming counterpart of
    * the batch banded-LSH dedup family (q23/q49). Output is one row per
    * band collision (doc_id, dup_of, est_jaccard, band); consumers
    * min-reduce per doc_id batch-side, because a stateful operator cannot
    * feed a streaming aggregation.
    *
    * State per band bucket: up to `maxPerBucket` (doc_id, signature)
    * entries — each k longs, never document text — evicted wholesale
    * after `stateTtlMs` of processing-time inactivity. Both caps make
    * state size independent of stream length (the property that matters
    * for unbounded ingest); a duplicate arriving after its original's
    * bucket expired, or into a bucket past its cap, is missed here and
    * caught by the periodic batch dedup pass — the same horizon
    * trade-off [[dedupStream]] documents for exact dedup.
    *
    * Determinism: flatMapGroupsWithState guarantees no intra-group order,
    * so each micro-batch's bucket group sorts by doc_id before folding —
    * within a batch the LOWER id becomes the retained "original", matching
    * the batch family's min-id survivor rule.
    *
    * `stateTtlMs` ≤ 0 disables the processing-time timeout (NoTimeout):
    * use that in tests driven by `processAllAvailable()`, which livelocks
    * against pending processing-time timeouts (the engine keeps running
    * no-data micro-batches toward the deadline); a deployed query with a
    * real trigger interval evaluates the timeout on its normal cadence. */
  /** A detected burst: the event time that crossed the threshold and the
    * in-window count at that moment (capped at `minEvents` — see
    * [[burstMonitor]]'s bounded-state contract). */
  case class BurstAlert(user_id: Long, at: java.sql.Timestamp,
                        n_in_window: Long)

  /** Internal per-user burst state (public only for encoder codegen):
    * ascending recent event-times, ≤ minEvents−1 entries. */
  case class BurstState(recent: List[Long])

  /** Streaming activity-burst (bot) monitor — the live twin of the batch
    * audit (`Audit.burstDetect`/q154): alert the moment a user's
    * `minEvents`-th event lands inside a trailing `windowMs` window.
    *
    * Bounded state by construction: detecting "k events within W" only
    * needs the LAST k−1 event times per user — when event k arrives, the
    * (k−1)-back timestamp decides. State is ≤(k−1) longs per user
    * forever, no watermark needed; the emitted count therefore caps at k
    * ("at least k in window"), the alarm semantics. Micro-batches sort
    * by (time, id) before folding, the [[varianceMonitor]] contract. */
  def burstMonitor(events: Dataset[Event], windowMs: Long,
                   minEvents: Int): Dataset[BurstAlert] = {
    require(minEvents >= 2, s"minEvents must be >= 2, got $minEvents")
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[BurstState, BurstAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[BurstState]) =>
          val fold = new BurstFold(uid, windowMs, minEvents)
          state.getOption.foreach(fold.restore)
          // (getTime, getNanos) refines the order below milliseconds —
          // getTime alone lets sub-ms ties fall through to event_id while
          // a full-precision timestamp order (the SQL oracle's) does not
          val out = scala.collection.mutable.ArrayBuffer.empty[BurstAlert]
          batch.toArray
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach(e => fold.observe(e.ts).foreach(out += _))
          state.update(fold.snapshot)
          out.iterator
      }
  }

  /** The trailing-window burst fold shared VERBATIM by [[burstMonitor]]
    * and [[burstMonitorBatch]]: ≤(minEvents−1) recent event-times of
    * state, alert when the minEvents-th event lands inside the window.
    * Caller guarantees (ts, event_id) order per user. */
  private[streaming] final class BurstFold(uid: Long, windowMs: Long,
                                           minEvents: Int) {
    private var recent: List[Long] = Nil
    def restore(s: BurstState): Unit = recent = s.recent
    def snapshot: BurstState = BurstState(recent)
    def observe(ts: java.sql.Timestamp): Option[BurstAlert] = {
      val t = ts.getTime
      val inWindow = (recent :+ t).filter(_ >= t - windowMs)
      recent = inWindow.takeRight(minEvents - 1)
      if (inWindow.length >= minEvents)
        Some(BurstAlert(uid, ts, inWindow.length.toLong))
      else None
    }
  }

  /** BATCH execution of the burst monitor — the identical fold
    * ([[BurstFold]]) in the scale-safe shape: repartition(user) +
    * spillable sortWithinPartitions(user, ts, event_id) + a lazy
    * per-user-run iterator fold. Equivalent closed form (and the SQL
    * oracle): an event alerts iff its (minEvents−1)-back predecessor in
    * (ts, event_id) order lies within the trailing window — the fold is
    * registered instead of the window expression because IT is the code
    * the streaming monitor runs. */
  def burstMonitorBatch(events: Dataset[Event], windowMs: Long,
                        minEvents: Int): Dataset[BurstAlert] = {
    require(minEvents >= 2, s"minEvents must be >= 2, got $minEvents")
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .as[Event]
      .mapPartitions { it =>
        foldRuns(it)(_.user_id)(uid =>
          new BurstFold(uid, windowMs, minEvents)) {
          (fold, e) => fold.observe(e.ts)
        }
      }
  }

  /** A user whose estimated event count first crossed the alert
    * threshold: the Space-Saving estimate and its maximum possible
    * overcount at that moment. */
  case class HeavyHitter(shard: Int, user_id: Long, est_count: Long,
                         max_overcount: Long, at: java.sql.Timestamp)

  /** Internal per-shard Space-Saving summary (public only for encoder
    * codegen): parallel id/count/overcount seqs, ≤ capacity entries,
    * plus the already-alerted ids in alert order (oldest first — the
    * aging order of the suppression cap). */
  case class HHState(ids: Seq[Long], counts: Seq[Long], errs: Seq[Long],
                     alerted: Seq[Long])

  /** Streaming heavy-hitter monitor via Space-Saving (Metwally et al.,
    * ICDT'05): alert the first time a user's estimated event count
    * crosses `minCount`, over an UNBOUNDED user population, with state
    * that never grows past `capacity` counters per shard.
    *
    * Why not a plain streaming groupBy count: per-user state grows with
    * the user population — unbounded on an open stream. Space-Saving
    * keeps only `capacity` counters; when a new user arrives at a full
    * summary it inherits the minimum counter (+1) and records that floor
    * as its possible overcount. Guarantees: every user with true count
    * > N/capacity (N = shard stream length) is IN the summary, and each
    * estimate overcounts by at most its recorded `max_overcount` —
    * `est − err` is a certain lower bound, so `minCount + err` crossings
    * are definite. Shards (`user_id mod nShards`) bound the per-task
    * summary and parallelize the fold; totals are per-shard exact shares
    * of the user's traffic only if a user maps to one shard — which the
    * mod guarantees.
    *
    * Determinism: micro-batches sort by (ts, event_id) before folding
    * (the [[varianceMonitor]] contract); eviction picks the
    * (count, id)-minimal victim.
    *
    * Alert-once contract: a user alerts the FIRST time their estimate
    * crosses `minCount`, and the suppression SURVIVES counter eviction —
    * an alerted user churned out of the summary and returning later must
    * not alert twice. The suppression set is still bounded: it holds at
    * most `64 × capacity` ids, aged oldest-alert-first; only past that
    * cap (a shard with >64·capacity distinct alerted users — alerts are
    * rare by construction, each needs true count ≳ N/capacity) do the
    * oldest suppressions age out and alerts degrade to at-least-once. */
  def heavyHittersMonitor(events: Dataset[Event], capacity: Int,
                          minCount: Long,
                          nShards: Int = 16): Dataset[HeavyHitter] = {
    require(capacity >= 1 && nShards >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => math.floorMod(e.user_id, nShards.toLong).toInt)
      .flatMapGroupsWithState[HHState, HeavyHitter](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (shard: Int, batch: Iterator[Event], state: GroupState[HHState]) =>
          val ss = new SpaceSavingFold(capacity, minCount)
          state.getOption.foreach(ss.restore)
          // (getTime, getNanos) refines the order below milliseconds —
          // getTime alone lets sub-ms ties fall through to event_id while
          // a full-precision timestamp order (the SQL oracle's) does not.
          // The sort buffers ONE MICRO-BATCH's group slice (bounded by
          // trigger interval, not stream length) — the batch-parity path
          // over a full table uses [[heavyHittersBatch]] instead, whose
          // external sort never materializes a group in memory.
          val out = scala.collection.mutable.ArrayBuffer.empty[HeavyHitter]
          batch.toArray
            .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach(e => ss.observe(shard, e).foreach(out += _))
          state.update(ss.snapshot)
          out.iterator
      }
  }

  /** The Space-Saving summary + alert-once fold shared VERBATIM by the
    * streaming monitor (state restored per micro-batch) and the batch
    * form ([[heavyHittersBatch]]): any behavior divergence between the
    * two would be a bug in the plumbing around this class, never in the
    * per-event logic. Mutable by design — it lives inside one task. */
  private[streaming] final class SpaceSavingFold(capacity: Int,
                                                 minCount: Long) {
    private val m =
      scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
    // insertion-ordered so the suppression cap ages oldest-first
    private val alerted = scala.collection.mutable.LinkedHashSet.empty[Long]
    private val alertedCap = 64 * capacity

    def restore(s: HHState): Unit = {
      s.ids.indices.foreach(i => m(s.ids(i)) = (s.counts(i), s.errs(i)))
      alerted ++= s.alerted
    }

    def snapshot: HHState = {
      val ids = m.keys.toSeq
      HHState(ids, ids.map(m(_)._1), ids.map(m(_)._2), alerted.toSeq)
    }

    /** Observe one event (caller guarantees (ts, event_id) order within
      * the shard); returns the alert it fires, if any. */
    def observe(shard: Int, e: Event): Option[HeavyHitter] = {
      val u = e.user_id
      m.get(u) match {
        case Some((c, err)) => m(u) = (c + 1, err)
        case None if m.size < capacity => m(u) = (1L, 0L)
        case None =>
          val (victim, (vc, _)) =
            m.minBy { case (id, (c, _)) => (c, id) }
          m.remove(victim)
          // the victim's suppression stays: an alerted user that
          // churns out and returns must not alert a second time
          m(u) = (vc + 1, vc)
      }
      val (c, err) = m(u)
      if (c >= minCount && !alerted(u)) {
        alerted += u
        if (alerted.size > alertedCap)
          alerted -= alerted.head // age the oldest suppression
        Some(HeavyHitter(shard, u, c, err, e.ts))
      } else None
    }
  }

  /** One event with its precomputed shard (public only for encoder
    * codegen — [[heavyHittersBatch]]'s partition-fold row). */
  case class ShardedEvent(shard: Int, event_id: Long,
                          ts: java.sql.Timestamp, user_id: Long,
                          event_type: String, value: Double)

  /** BATCH execution of the heavy-hitters monitor — the same per-event
    * fold as [[heavyHittersMonitor]] (literally the same
    * [[SpaceSavingFold]]), run over a static events table in the shape
    * that survives 100×: `repartition(shard)` +
    * `sortWithinPartitions(shard, ts, event_id)` + a LAZY per-partition
    * iterator fold. No task ever materializes a shard's history — the
    * ordering comes from Spark's external (spillable) sort, and the fold
    * holds only the O(capacity) summary while streaming rows through.
    * Replaces the earlier flatMapGroupsWithState-on-batch form, which
    * buffered and sorted each shard's FULL history inside one task
    * (`batch.toArray.sortBy`) — a task-OOM shape at 100× the events
    * table even though the output was identical.
    *
    * sortWithinPartitions orders `ts` at full stored (micros) precision
    * — the same order the streaming fold's (getTime, getNanos) key
    * produces — with event_id breaking exact ties. */
  def heavyHittersBatch(events: Dataset[Event], capacity: Int,
                        minCount: Long,
                        nShards: Int = 16): Dataset[HeavyHitter] = {
    require(capacity >= 1 && nShards >= 1)
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .withColumn("shard",
        pmod(col("user_id"), lit(nShards.toLong)).cast("int"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("ts"), col("event_id"))
      .select(col("shard"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[ShardedEvent]
      .mapPartitions { it =>
        // a partition holds 1+ shards as contiguous sorted runs; a fresh
        // fold per run ([[foldRuns]]), rows streamed through lazily
        foldRuns(it)(_.shard)(_ => new SpaceSavingFold(capacity, minCount)) {
          (ss, se) => ss.observe(se.shard,
            Event(se.event_id, se.ts, se.user_id, se.event_type, se.value))
        }
      }
  }

  /** q219 entry: BATCH-parity execution of the heavy-hitters monitor —
    * the identical per-event fold ([[SpaceSavingFold]], shared with the
    * streaming operator), run over the static events table via
    * [[heavyHittersBatch]]'s scale-safe shape (external sort + lazy
    * iterator fold; no task buffers a shard's history), sized so NO
    * eviction can occur: capacity is DERIVED from the data as max(256,
    * widest shard's distinct-user count) — one cheap aggregate — so the
    * contract is enforced at every scale, not assumed (at 10× the
    * fixture a mod-16 shard holds ~940 users; a fixed 256 would silently
    * evict and break the exactness the oracle pins). Without eviction
    * Space-Saving is exact: a user alerts at precisely their
    * `minCount`-th event in (ts, event_id) order with est = minCount and
    * overcount 0 — which a SQL oracle replays with one row_number. This
    * puts the monitor's fold itself (shard grouping, event order,
    * increment/alert logic, suppression set) under the driver's DuckDB
    * gate; the eviction/cap/restart behaviors stay spec-verified. */
  def q219HeavyHittersParity(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.TableCatalog.load(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val widest = ev.groupBy(pmod(col("user_id"), lit(16L)))
      .agg(countDistinct(col("user_id")).as("u"))
      .agg(max(col("u"))).head.getLong(0)
    val cap = math.max(256L, widest).toInt
    heavyHittersBatch(ev, capacity = cap, minCount = 75L, nShards = 16)
      .toDF()
      .select(col("shard"), col("user_id"), col("est_count"),
        col("max_overcount"), col("at").cast("timestamp_ntz").as("at"))
      .orderBy("user_id")
  }

  /** q231 entry: BATCH-parity execution of the variance monitor — the
    * identical [[WindowVarianceFold]] over the static events table,
    * keyed by event_type in 1-hour windows at the reference's 5%
    * threshold. Each closed window's count, previous-window count,
    * variance and alert flag are SQL-replayable (group + lag + the q18
    * variance expression; a key's final window never closes and never
    * emits), so the fold itself — window assignment, close-on-later-
    * event, prev-count threading, threshold compare — sits under the
    * DuckDB gate. */
  def q231VarianceMonitorParity(spark: org.apache.spark.sql.SparkSession,
                                dir: String): DataFrame = {
    val ev = graft.sources.TableCatalog.load(spark, dir, "events")
    varianceMonitorBatch(ev, "event_type", "ts",
        windowSeconds = 3600, thresholdPct = 5.0)
      .toDF()
      .select(col("key"), col("window_start").cast("timestamp_ntz")
          .as("window_start"),
        col("n"), col("prev_n"), col("variance_pct"), col("alert"))
      .orderBy("key", "window_start")
  }

  /** q232 entry: BATCH-parity execution of the burst monitor — the
    * identical [[BurstFold]] over the static events table (3 events
    * within a trailing 6 h per user). The closed form the oracle
    * replays: an event alerts iff its 2-back predecessor in
    * (ts, event_id) order lies within the window. */
  def q232BurstMonitorParity(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.TableCatalog.load(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .as[Event]
    burstMonitorBatch(ev, windowMs = 21600000L, minEvents = 3)
      .toDF()
      .select(col("user_id"),
        col("at").cast("timestamp_ntz").as("at"),
        col("n_in_window"))
      .orderBy("user_id", "at")
  }

  /** q237 entry: BATCH-parity execution of the ingest near-dup monitor
    * ([[nearDupBatch]] — the identical [[BucketFold]]) under the
    * planted-pair recall envelope: 20 one-token-appended copies
    * (Jaccard ≈ 0.95 ⇒ expected 15–16 of 16 matching minhashes, well
    * over the 0.5 estimate cut; 4-band collision probability ≈ 0.999)
    * must be flagged against their originals. Floor 0.6 under the
    * measured recall (xxhash-seeded ⇒ exactly reproducible per
    * corpus); the raw hit stream stays engine-specific. */
  def q237NearDupStreamParity(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame = {
    val docs = graft.sources.TableCatalog.load(spark, dir, "documents")
    val hits = nearDupBatch(
      graft.ops.Dedup.plantTextDups(docs, "doc_id", "text"),
      "text", "doc_id").toDF()
    graft.ops.Dedup.plantedPairEnvelope(
      hits.select(col("dup_of").as("id_a"), col("doc_id").as("id_b")),
      docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000L).as("planted_id")),
      offset = 1000000L, floor = 0.6)
  }

  /** q241 entry: BATCH-parity execution of the EVENT-TIME-TTL near-dup
    * monitor ([[nearDupBatchEventTime]] — the event-horizon semantics of
    * [[nearDupStreamEventTime]], exact per-event instead of
    * watermark-granular) under a two-sided planted envelope. Every
    * document gets a deterministic event time (epoch + doc_id seconds);
    * two planted copy sets probe the horizon from both sides:
    * IN-horizon copies (id + 1M, the q237 plant — SAME event time as
    * their original) must be recalled above the measured floor, and
    * OUT-of-horizon copies (id + 2M, event time ttl + 2 h after their
    * original) must be recalled exactly never — the original is past the
    * horizon when the copy arrives, so the eviction either fires or the
    * claim fails. This puts the replay-safe TTL path under the DuckDB
    * gate; q237 covers the horizon-free fold. */
  def q241NearDupEventHorizonParity(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): DataFrame = {
    val ttlMs = 1800000L
    val docs = graft.sources.TableCatalog.load(spark, dir, "documents")
    val withTs = docs
      .withColumn("ets", expr("timestamp_seconds(1767225600 + doc_id)"))
    // in-horizon plants (copies carry the original's ets verbatim) with
    // the lazy planted-offset integrity guard riding along
    val near = graft.ops.Dedup.plantTextDups(withTs, "doc_id", "text")
    val far = withTs.filter(col("doc_id") < 20)
      .withColumn("doc_id", col("doc_id") + 2000000L)
      .withColumn("text", concat(col("text"), lit(" zqj")))
      .withColumn("ets",
        expr("timestamp_seconds(1767225600 + (doc_id - 2000000) + 9000)"))
    val hits = nearDupBatchEventTime(near.unionByName(far),
      "text", "doc_id", "ets", ttlMs = ttlMs).toDF()
    val pairs = hits
      .select(col("dup_of").as("id_a"), col("doc_id").as("id_b"))
    val nearEnv = graft.ops.Dedup.plantedPairEnvelope(pairs,
        docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("planted_id")),
        offset = 1000000L, floor = 0.6)
      .withColumn("in_horizon", lit(true))
    // out-of-horizon: recall must be exactly zero PER id (deterministic —
    // the horizon eviction is not probabilistic, unlike minhash recall)
    val farHits = pairs.filter(col("id_b") === col("id_a") + 2000000L)
      .select(col("id_b").as("planted_id"), lit(1L).as("hit")).distinct()
    val farEnv = docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 2000000L).as("planted_id"))
      .join(farHits, Seq("planted_id"), "left")
      .select(col("planted_id"),
        col("hit").isNull.as("recall_ok"), lit(false).as("in_horizon"))
    nearEnv.select(col("planted_id"), col("recall_ok"), col("in_horizon"))
      .unionByName(farEnv)
      .orderBy("planted_id")
  }

  /** Streaming-backed registry entries (batch-parity forms). */
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map("q219_heavy_hitters_parity" -> (q219HeavyHittersParity _),
      "q231_variance_monitor_parity" -> (q231VarianceMonitorParity _),
      "q232_burst_monitor_parity" -> (q232BurstMonitorParity _),
      "q237_neardup_stream_parity" -> (q237NearDupStreamParity _),
      "q241_neardup_event_horizon_parity" ->
        (q241NearDupEventHorizonParity _))

  /** Oracles. q219: the no-eviction Space-Saving alert is exactly the
    * minCount-th per-user event in (ts, event_id) order. q231: group +
    * lag replay of the window-close fold (final window per key open,
    * never emitted; q18's variance expression). q232: the lag(k−1)
    * closed form of the trailing-window burst test. */
  val oracle: Map[String, String] = Map(
    // shard mirrors the engine's pmod: DuckDB's % truncates toward zero,
    // so negative user_ids need the ((x % n) + n) % n fold to agree
    "q219_heavy_hitters_parity" ->
      """SELECT CAST(((user_id % 16) + 16) % 16 AS INTEGER) AS shard, user_id,
        |       CAST(75 AS BIGINT) AS est_count,
        |       CAST(0 AS BIGINT) AS max_overcount, at
        |FROM (SELECT user_id, ts AS at,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS rn
        |      FROM events)
        |WHERE rn = 75 ORDER BY user_id""".stripMargin,
    "q231_variance_monitor_parity" ->
      """WITH w AS (SELECT event_type AS key,
        |                  (epoch_ms(ts) // 3600000) * 3600000 AS wms,
        |                  count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |o AS (SELECT key, wms, n,
        |             lag(n, 1, 0) OVER (PARTITION BY key ORDER BY wms)
        |               AS prev_n,
        |             row_number() OVER (PARTITION BY key
        |                                ORDER BY wms DESC) AS rdesc
        |      FROM w)
        |SELECT key, make_timestamp(wms * 1000) AS window_start, n, prev_n,
        |       CASE WHEN prev_n = 0 THEN 0.0
        |            ELSE ABS(n - prev_n) * 100.0 / prev_n
        |       END AS variance_pct,
        |       (prev_n > 0 AND
        |        CASE WHEN prev_n = 0 THEN 0.0
        |             ELSE ABS(n - prev_n) * 100.0 / prev_n
        |        END > 5.0) AS alert
        |FROM o WHERE rdesc > 1 ORDER BY key, window_start""".stripMargin,
    "q232_burst_monitor_parity" ->
      """SELECT user_id, ts AS at, CAST(3 AS BIGINT) AS n_in_window
        |FROM (SELECT user_id, ts,
        |             lag(ts, 2) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS tp
        |      FROM events)
        |WHERE tp IS NOT NULL
        |  AND epoch_ms(ts) - epoch_ms(tp) <= 21600000
        |ORDER BY user_id, at""".stripMargin,
    // q237: planted-pair recall envelope over the bucket fold
    "q237_neardup_stream_parity" ->
      graft.ops.Dedup.plantedEnvelopeOracle("documents", "doc_id"),
    // q241: two-sided horizon envelope — in-horizon plants recalled above
    // the floor, out-of-horizon plants recalled exactly never
    "q241_neardup_event_horizon_parity" ->
      """SELECT doc_id + 1000000 AS planted_id, TRUE AS recall_ok,
        |       TRUE AS in_horizon
        |FROM documents WHERE doc_id < 20
        |UNION ALL
        |SELECT doc_id + 2000000, TRUE, FALSE
        |FROM documents WHERE doc_id < 20
        |ORDER BY planted_id""".stripMargin)

  def nearDupStream(docs: DataFrame, textCol: String, idCol: String,
                    k: Int = 16, bands: Int = 4,
                    minEstJaccard: Double = 0.5,
                    maxPerBucket: Int = 64,
                    stateTtlMs: Long = 1800000L): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val useTtl = stateTtlMs > 0
    val timeoutConf =
      if (useTtl) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    bandedDocs(docs, textCol, idCol, k, bands)
      .as[(Int, String, Long, Seq[Long])]
      .groupByKey(_._2)
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), timeoutConf) {
        (_: String, batch: Iterator[(Int, String, Long, Seq[Long])],
         state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val fold = new BucketFold(minEstJaccard, maxPerBucket)
            state.getOption.foreach(fold.restore)
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            batch.toArray.sortBy(_._3).foreach { case (band, _, id, s) =>
              out ++= fold.observe(band, id, s)
            }
            state.update(fold.snapshot)
            if (useTtl) state.setTimeoutDuration(stateTtlMs)
            out.iterator
          }
      }
  }

  /** The banded-MinHash frame shared by the streaming near-dup monitors
    * and the batch-parity form: (band, bucket key, id, k-signature
    * [, event ts when `tsCol` is set — the event-time TTL variant needs
    * the watermark column to survive into the stateful operator]). */
  private def bandedDocs(docs: DataFrame, textCol: String, idCol: String,
                         k: Int, bands: Int,
                         tsCol: Option[String] = None): DataFrame = {
    require(k % bands == 0, "bands must divide the signature length")
    val rowsPerBand = k / bands
    // plain alias, never a cast: a cast would mint a fresh attribute and
    // strip the watermark metadata EventTimeTimeout resolves against
    val ts = tsCol.toSeq.map(c => col(c).as("ts"))
    docs
      .select(Seq(col(idCol).cast("long").as("id"),
        wordNgrams(col(textCol), 3).as("sh")) ++ ts: _*)
      .filter(size(col("sh")) > 0)
      .select(Seq(col("id"), minHashes(col("sh"), k).as("sig")) ++
        ts.map(_ => col("ts")): _*)
      .select(Seq(col("id"), col("sig"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", b.cast("string"),
            xxhash64(slice(col("sig"), b * rowsPerBand + lit(1),
                lit(rowsPerBand)))
              .cast("string"))))) ++ ts.map(_ => col("ts")): _*)
      .select(Seq(col("pos").as("band"), col("col").as("bucket"),
        col("id"), col("sig")) ++ ts.map(_ => col("ts")): _*)
  }

  /** Event-time TTL variant of [[nearDupStream]]: bucket state evicts
    * when the WATERMARK passes the bucket's newest event time + `ttlMs`
    * — the same event-horizon semantics the batch near-dup family and
    * [[dedupStream]] use. The processing-time variant is right for a
    * live ingest (wall clock ≈ event time); under REPLAY/backfill the
    * two diverge — events replayed at 1000× wall speed age out of a
    * processing-time TTL almost never (state balloons past the horizon
    * the operator was sized for) while an event-time TTL evicts exactly
    * the buckets the original live run would have, keeping recall and
    * state size reproducible. Same [[BucketFold]], same `maxPerBucket`
    * hard cap; requires an event-time column (`tsCol`) and sets the
    * watermark here. */
  def nearDupStreamEventTime(docs: DataFrame, textCol: String,
                             idCol: String, tsCol: String,
                             watermark: String = "10 minutes",
                             ttlMs: Long = 1800000L,
                             k: Int = 16, bands: Int = 4,
                             minEstJaccard: Double = 0.5,
                             maxPerBucket: Int = 64): Dataset[NearDupHit] = {
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val spark = docs.sparkSession
    import spark.implicits._
    // cast BEFORE the watermark (casting after would strip its metadata);
    // a null event time has no place on the horizon — drop the row
    // (documented), never NPE the query
    val prepared = docs
      .withColumn("_graft_ts", col(tsCol).cast("timestamp"))
      .filter(col("_graft_ts").isNotNull)
      .withWatermark("_graft_ts", watermark)
    bandedDocs(prepared, textCol, idCol, k, bands,
        tsCol = Some("_graft_ts"))
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[BucketStateEt, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_: String,
         batch: Iterator[(Int, String, Long, Seq[Long], java.sql.Timestamp)],
         state: GroupState[BucketStateEt]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            // self-eviction: when data arrives in the very batch the
            // timeout would have fired (hasTimedOut stays false for keys
            // WITH data), entries past the horizon must not match —
            // start the fold empty, exactly as a live run would have
            val live = state.getOption
              .filter(p => wm <= p.maxTsMs + ttlMs)
            val fold = new BucketFold(minEstJaccard, maxPerBucket)
            live.foreach(p => fold.restore(BucketState(p.ids, p.sigs)))
            val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            // horizon anchors on the bucket's NEWEST event ever seen, not
            // the batch-local max: an older (still-valid) arrival must
            // never shrink the deadline below newest-event + ttl.
            // The sort buffers ONE micro-batch's bucket slice (bounded by
            // trigger interval, not stream length — the [[nearDupStream]]
            // contract); the batch-parity path is [[nearDupBatch]]'s
            // external sort.
            var maxTs = live.map(_.maxTsMs).getOrElse(Long.MinValue)
            batch.toArray.sortBy(_._3).foreach { case (band, _, id, s, ts) =>
              maxTs = math.max(maxTs, ts.getTime)
              out ++= fold.observe(band, id, s)
            }
            val snap = fold.snapshot
            state.update(BucketStateEt(snap.ids, snap.sigs, maxTs))
            // the max() keeps the target legal (must exceed the
            // watermark) when the batch itself is already past the horizon
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs, wm + 1))
            out.iterator
          }
      }
  }

  /** The per-bucket collision fold shared VERBATIM by [[nearDupStream]]
    * (state restored per micro-batch) and [[nearDupBatch]]: each
    * arriving (id asc) document compares against the bucket's retained
    * entries, emits a hit per clearing comparison, and is retained
    * while the bucket is under its cap. */
  private[streaming] final class BucketFold(minEstJaccard: Double,
                                            maxPerBucket: Int) {
    private var st = BucketState(Seq.empty, Seq.empty)
    def restore(s: BucketState): Unit = st = s
    def snapshot: BucketState = st
    def observe(band: Int, id: Long, s: Seq[Long]): Seq[NearDupHit] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
      var i = 0
      while (i < st.ids.length) {
        if (st.ids(i) != id) {
          val prev = st.sigs(i)
          var m = 0; var j = 0
          while (j < s.length) {
            if (s(j) == prev(j)) m += 1; j += 1
          }
          val est = m.toDouble / s.length
          if (est >= minEstJaccard)
            out += NearDupHit(id, st.ids(i), est, band)
        }
        i += 1
      }
      if (!st.ids.contains(id) && st.ids.length < maxPerBucket)
        st = BucketState(st.ids :+ id, st.sigs :+ s)
      out.toSeq
    }
  }

  /** BATCH execution of the ingest near-dup monitor — the identical
    * [[BucketFold]] over a static corpus in the scale-safe shape:
    * repartition(bucket) + spillable sortWithinPartitions(bucket, id) +
    * a lazy per-bucket-run iterator fold (no task buffers a bucket
    * group; state is ≤ maxPerBucket signatures). Output matches a
    * single-batch streaming pass exactly: within a bucket the LOWER id
    * is the retained "original" (the batch family's min-id survivor
    * rule). */
  def nearDupBatch(docs: DataFrame, textCol: String, idCol: String,
                   k: Int = 16, bands: Int = 4,
                   minEstJaccard: Double = 0.5,
                   maxPerBucket: Int = 64): Dataset[NearDupHit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandedDocs(docs, textCol, idCol, k, bands)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("id"))
      .as[(Int, String, Long, Seq[Long])]
      .mapPartitions { it =>
        foldRuns(it)(_._2)(_ => new BucketFold(minEstJaccard, maxPerBucket)) {
          (fold, r) => fold.observe(r._1, r._3, r._4)
        }
      }
  }

  /** The event-horizon bucket fold: [[BucketFold]]'s comparison with
    * per-event TTL eviction — each arriving (ts asc, id asc) document
    * first evicts retained entries whose event time is PAST the horizon
    * (older than arrival − ttl, boundary inclusive on the keep side),
    * then compares against the survivors. This is the exact semantics
    * [[nearDupStreamEventTime]] approximates at watermark granularity
    * (the stream can only evict when the watermark crosses a bucket's
    * deadline; the batch replay evicts at every event) — on any fixture
    * where no match sits between a bucket's watermark-crossing and its
    * exact horizon, the two agree (StreamingSpec cross-checks). */
  private[streaming] final class BucketFoldEt(minEstJaccard: Double,
                                              maxPerBucket: Int,
                                              ttlMs: Long) {
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    private val sigs = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    private val tss = scala.collection.mutable.ArrayBuffer.empty[Long]
    def observe(band: Int, id: Long, s: Seq[Long],
                tsMs: Long): Seq[NearDupHit] = {
      // evict past-horizon entries in place (entries are ts-ascending by
      // the caller's sort, so the expired ones form a prefix)
      var drop = 0
      while (drop < tss.length && tss(drop) + ttlMs < tsMs) drop += 1
      if (drop > 0) {
        ids.remove(0, drop); sigs.remove(0, drop); tss.remove(0, drop)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
      var i = 0
      while (i < ids.length) {
        if (ids(i) != id) {
          val prev = sigs(i)
          var m = 0; var j = 0
          while (j < s.length) {
            if (s(j) == prev(j)) m += 1; j += 1
          }
          val est = m.toDouble / s.length
          if (est >= minEstJaccard)
            out += NearDupHit(id, ids(i), est, band)
        }
        i += 1
      }
      if (!ids.contains(id) && ids.length < maxPerBucket) {
        ids += id; sigs += s; tss += tsMs
      }
      out.toSeq
    }
  }

  /** BATCH execution of the EVENT-TIME-TTL near-dup monitor — the
    * replay-safe horizon semantics over a static corpus, in
    * [[nearDupBatch]]'s scale-safe shape: repartition(bucket) + spillable
    * sortWithinPartitions(bucket, ts, id) + a lazy per-bucket-run
    * [[BucketFoldEt]] (state ≤ maxPerBucket signatures; the TTL eviction
    * bounds it further on time-spread corpora). Within a bucket,
    * documents fold in EVENT-TIME order (ties by id), so "original"
    * means earliest-then-lowest-id — the order a live event-time stream
    * would have seen. Null event times are dropped (the
    * [[nearDupStreamEventTime]] contract). */
  def nearDupBatchEventTime(docs: DataFrame, textCol: String, idCol: String,
                            tsCol: String, ttlMs: Long,
                            k: Int = 16, bands: Int = 4,
                            minEstJaccard: Double = 0.5,
                            maxPerBucket: Int = 64): Dataset[NearDupHit] = {
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    val spark = docs.sparkSession
    import spark.implicits._
    val prepared = docs
      .withColumn("_graft_ts", col(tsCol).cast("timestamp"))
      .filter(col("_graft_ts").isNotNull)
    bandedDocs(prepared, textCol, idCol, k, bands, tsCol = Some("_graft_ts"))
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("ts"), col("id"))
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
      .mapPartitions { it =>
        foldRuns(it)(_._2)(_ =>
          new BucketFoldEt(minEstJaccard, maxPerBucket, ttlMs)) {
          (fold, r) => fold.observe(r._1, r._3, r._4, r._5.getTime)
        }
      }
  }

  /** Ingest-time exact dedup: drop re-deliveries of the same content while
    * the stream runs — the streaming counterpart of
    * [[graft.ops.Dedup.exactByHash]]. Keyed on a 256-bit content digest
    * (state carries 64 hex chars per seen document, never the payload),
    * and bounded by the event-time watermark via
    * `dropDuplicatesWithinWatermark`: state for keys older than the
    * watermark is evicted, so an unbounded corpus stream runs in bounded
    * state — the property that matters at 100 TB of ingest. Exactly-once
    * within the watermark horizon; duplicates farther apart than the
    * horizon are the batch dedup pass's job. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String = "ts",
                  watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("content_sha", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_sha")

  /** Ingest-time document classification: apply a batch-FITTED
    * naive-Bayes model ([[graft.ops.TrainingData.naiveBayesFit]]) to a
    * live document stream — the online half of the corpus-filter loop
    * (fit offline on the curated corpus, score every arriving document
    * before it lands). The model rides the plan as literals
    * ([[graft.ops.TrainingData.nbPredictColumn]]), so this is a pure
    * stateless projection: no stream-side aggregation, no watermark, no
    * state store — arbitrarily scalable and restart-trivial. */
  def classifyStream(docs: DataFrame,
                     model: Seq[graft.ops.TrainingData.NbClassModel],
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), col(textCol),
      graft.ops.TrainingData.nbPredictColumn(model,
        wordTokens(col(textCol))).as("pred"))

  /** Stream-static enrichment: join an event stream against a static
    * (batch) dimension table. Stream-static equijoins are stateless in
    * Structured Streaming — each micro-batch joins against the dim as-of
    * that batch, no watermark or join state needed — and broadcasting the
    * dim keeps the stream side shuffle-free, which is the only layout that
    * survives a 100 TB/day event firehose. The static side is re-read per
    * micro-batch for file sources, so slowly-changing dims refresh without
    * restarting the query. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    events.join(broadcast(dim), key)

  /** Stream-stream interval join: match each click to the view that led to
    * it — same user, click no later than `horizon` after the view. The
    * canonical two-firehose join: BOTH sides are unbounded, so Spark keeps
    * per-key join state and the watermarks + the time-range predicate are
    * what let it evict state (a view older than max(click watermark) −
    * horizon can never match again and is dropped) — without them state
    * grows with the stream and the query dies at scale. Inner join,
    * equi-keyed on user, so the state store is hash-partitioned on the
    * same key both sides shuffle on. */
  def joinViewsToClicks(views: DataFrame, clicks: DataFrame,
                        horizon: String = "30 minutes",
                        watermark: String = "10 minutes"): DataFrame = {
    val v = views
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
      v("user_id") === c("user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"interval $horizon"))
      .select(v("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  /** File-source stream over the corpus events table. File streams need an
    * explicit schema, and the corpus has shipped `ts` as both
    * TIMESTAMP(NANOS) (readable only as a raw long via the nanosAsLong
    * conf) and TIMESTAMP(MICROS) across generator versions — so the
    * schema comes from a one-time batch footer read and the nanos→micros
    * normalization branches on what the footer declares, exactly like
    * [[graft.sources.TableCatalog.load]]. Either way the output `ts` is
    * the LTZ TIMESTAMP type event-time watermarks require; with the
    * engine's UTC session the wall-clock values are identical. */
  def eventsFileStream(spark: org.apache.spark.sql.SparkSession,
                       dir: String,
                       glob: String = "events.parquet"): DataFrame = {
    import org.apache.spark.sql.types._
    val batchSchema = spark.read
      .option("pathGlobFilter", glob).parquet(dir).schema
    val raw = spark.readStream
      .schema(batchSchema)
      // the corpus ships one file per table in a shared dir; filter to ours
      .option("pathGlobFilter", glob)
      .parquet(dir)
    if (batchSchema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      raw.withColumn("ts", col("ts").cast("timestamp"))
  }
}
