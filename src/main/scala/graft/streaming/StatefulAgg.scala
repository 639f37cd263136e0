package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The Spark 4 arbitrary-state v2 surface (`transformWithState` +
  * typed `ValueState`, RocksDB-backed): a running per-key aggregate
  * maintained across micro-batches. This is the successor API to
  * `mapGroupsWithState`/`flatMapGroupsWithState` — state is declared
  * through a handle with explicit encoders and optional TTL, timers are
  * first-class, and the store layout supports multiple named states per
  * key.
  *
  * The aggregate kept here is (event count, exact integer-cents sum):
  * integer state makes the converged result bit-comparable to a batch
  * GROUP BY under the DuckDB oracle — the same exactness discipline as
  * every decimal-cast sum in the catalog. State is O(keys); emission is
  * one row per key per batch that saw input (update semantics), so the
  * LAST emission per key is the converged aggregate.
  */
object StatefulAgg {

  // State encoders, derived once per JVM: `Encoders.product` is Scala
  // runtime reflection, and each processor's `init` runs in every state
  // task of every trigger.
  private val LongPair: Encoder[(Long, Long)] = Encoders.product[(Long, Long)]
  private val IdAndLabel: Encoder[(Long, String)] = Encoders.product[(Long, String)]
  private val LsnGroupCents: Encoder[(Long, String, Long)] = Encoders.product[(Long, String, Long)]

  /** (user_id, n_events, sum of value in exact hundredths). */
  case class UserAgg(user_id: Long, n_events: Long, sum_cents: Long)

  final class RunningAgg extends StatefulProcessor[Long, (Long, Long), UserAgg] {
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)](
        "agg", LongPair, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[UserAgg] = {
      var (n, sum) = if (st.exists()) st.get() else (0L, 0L)
      rows.foreach { case (_, cents) => n += 1; sum += cents }
      st.update((n, sum))
      Iterator.single(UserAgg(key, n, sum))
    }
  }

  /** (event_type, running exact distinct-user count). */
  case class TypeDistinct(event_type: String, n_distinct: Long)

  /** Exact per-key distinct maintenance on the state-v2 MAP state — the
    * third state shape next to RunningAgg's ValueState and BandOwner's
    * owner registry: the per-event-type seen-user SET lives in a
    * MapState[Long, Boolean] (RocksDB holds one store entry per
    * (key, user), so membership probes never deserialize the whole set —
    * the reason MapState exists over a ValueState[Set]), with the count
    * in a side ValueState so emission is O(1), not an O(|set|) key scan.
    * Converges to the batch COUNT(DISTINCT) regardless of trigger
    * slicing; state is O(distinct users) per type — production swaps the
    * map for an HLL sketch beyond memory (the approx_distinct_users
    * contract) and TTLConfig bounds the horizon.
    */
  final class DistinctUsers extends StatefulProcessor[String, (String, Long), TypeDistinct] {
    @transient private var seen: MapState[Long, Boolean] = _
    @transient private var n: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean](
        "seen", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[TypeDistinct] = {
      var cur = if (n.exists()) n.get() else 0L
      rows.foreach { case (_, u) =>
        if (!seen.containsKey(u)) { seen.updateValue(u, true); cur += 1 }
      }
      n.update(cur)
      Iterator.single(TypeDistinct(key, cur))
    }
  }

  /** (user_id, "eid:type|eid:type|eid:type" — top-3 events by id desc). */
  case class LastN(user_id: Long, last3: String)

  /** Bounded per-key recency list on the state-v2 LIST state — the third
    * state shape, completing the ValueState/MapState/ListState surface:
    * each user's 3 highest-event_id (event_id, event_type) pairs, merged
    * top-k style per batch so the retained list is ALWAYS ≤ 3 entries
    * regardless of how many events a batch carries or how triggers slice
    * the stream (the last-N-actions feature window every online feature
    * store serves). Dedupe on event_id makes replays idempotent; the
    * converged emission per key equals the batch top-3, which is what
    * the oracle recomputes.
    */
  final class LastNEvents extends StatefulProcessor[Long, (Long, Long, String), LastN] {
    @transient private var st: ListState[(Long, String)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[(Long, String)](
        "topn", IdAndLabel, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, String)],
                                 timerValues: TimerValues): Iterator[LastN] = {
      val prior = if (st.exists()) st.get().toList else Nil
      val merged = (prior ++ rows.map(r => (r._2, r._3)))
        .distinctBy(_._1).sortBy(-_._1).take(3)
      st.put(merged.toArray)
      Iterator.single(LastN(key, merged.map(t => s"${t._1}:${t._2}").mkString("|")))
    }
  }

  /** One retract/insert delta on the downstream CHANGELOG: `dn`/`dcents`
    * are ±1 / ±cents against the entity's current group. */
  case class GroupDelta(grp: String, dn: Long, dcents: Long)

  /** Retract-stream maintenance of a grouped aggregate (the streaming
    * sibling of the batch `ivm_delta_agg`, and the Flink-style changelog
    * shape): each entity's state is its current (lsn, group, cents); a
    * batch of updates folds to ONE retraction of the pre-batch image plus
    * ONE insertion of the post-batch image (within-batch transitions
    * telescope away — per-key emission is O(1) per batch, not O(events)).
    * Out-of-order replays are guarded by the LSN: a stale event neither
    * moves state nor emits. Downstream, summing the deltas per group
    * yields the maintained aggregate; equality with the batch
    * recompute-from-scratch oracle proves the retraction algebra across
    * real micro-batch boundaries.
    */
  final class ChangelogAgg
      extends StatefulProcessor[Long, (Long, Long, String, Long), GroupDelta] {
    @transient private var st: ValueState[(Long, String, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, String, Long)](
        "cur", LsnGroupCents, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, String, Long)],
                                 timerValues: TimerValues): Iterator[GroupDelta] = {
      val batchLast = rows.maxBy(_._2) // highest LSN in this batch
      val prior = if (st.exists()) Some(st.get()) else None
      if (prior.exists(_._1 >= batchLast._2)) Iterator.empty
      else {
        st.update((batchLast._2, batchLast._3, batchLast._4))
        val insert = GroupDelta(batchLast._3, 1L, batchLast._4)
        prior match {
          case Some((_, g, c)) => Iterator(GroupDelta(g, -1L, -c), insert)
          case None => Iterator.single(insert)
        }
      }
    }
  }

  /** One LSH-band observation for a document: `dup` is true iff some
    * STRICTLY EARLIER document (smaller doc_id — the ingestion order)
    * already owned this band when the document arrived. */
  case class BandFlag(doc_id: Long, band: String, dup: Boolean)

  /** Streaming LSH dedup-at-ingest state: per band digest, the minimum
    * doc_id ever seen (the band's "owner"). A batch's documents are
    * processed in doc_id order with a running minimum, so for an
    * INGESTION-ORDERED stream (doc_id monotone across batches — the
    * staging contract, since doc_id is arrival order) the emitted flag
    * for document d is exactly "some earlier document shares this band",
    * regardless of where micro-batch boundaries fall (pinned in
    * StreamingDedupSpec). That makes the converged output equal the
    * batch first-seen-per-band replay the oracle computes. State is
    * O(distinct bands) longs — the bounded footprint that makes
    * at-ingest dedup viable on an unbounded stream (production adds TTL
    * eviction for bands not seen within the dedup horizon; TTLConfig
    * carries that knob).
    */
  final class BandOwner extends StatefulProcessor[String, (Long, String), BandFlag] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Long](
        "owner", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(Long, String)],
                                 timerValues: TimerValues): Iterator[BandFlag] = {
      var cur = if (st.exists()) st.get() else Long.MaxValue
      val flags = rows.map(_._1).toArray.sorted.map { d =>
        val f = BandFlag(d, key, cur < d)
        if (d < cur) cur = d
        f
      }
      st.update(cur)
      flags.iterator
    }
  }

  /** HORIZON-bounded band-owner state — the bounded-growth answer for
    * [[BandOwner]] (VERDICT r16 task #2: first-seen band state grows
    * linearly with the corpus by design, and at 100 TB it IS the
    * cluster's RocksDB footprint). The production dedup contract this
    * encodes: a document is a duplicate only if a band-sharing document
    * arrived within the last `horizonDocs` documents — older corpus is
    * assumed already compacted/partitioned elsewhere, so its bands need
    * not be held hot. Two mechanisms, deliberately separate:
    *
    *  - SEMANTICS (deterministic, oracle-checkable): per key, state is
    *    (owner = min doc_id of the current RUN, lastSeen). A run breaks
    *    when the gap to the previous arrival of the band exceeds the
    *    horizon — the owner resets BEFORE the flag is computed, so
    *    `dup(d) ⇔ previous band arrival p exists AND d − p ≤ horizon`
    *    (exactly a LAG window in SQL — the DuckDB oracle of
    *    streaming_lsh_dedup_ttl). Purely per-key arithmetic over the
    *    ingestion order: independent of micro-batch boundaries.
    *  - FOOTPRINT (event-time timers): doc_id is the stream's clock
    *    (arrival order by the staging contract), so the stream carries
    *    ts = timestamp_seconds(doc_id) + a 0 s watermark; every arrival
    *    registers a timer at (lastSeen + horizon + 1) s, and the timer
    *    deletes the row once the watermark proves every future doc_id is
    *    past the horizon. Deletion can only happen where the lazy reset
    *    would have fired anyway (watermark ≤ next arrival's id on a
    *    monotone stream), so it NEVER changes output — it converts the
    *    reset from "row lingers, value ignored" to "row gone": state is
    *    O(bands seen within the trailing horizon), constant for a fixed
    *    horizon no matter how long the stream runs. A re-seen band
    *    advances lastSeen, so stale timers re-check against live state
    *    and pass through without deleting.
    */
  final class BandOwnerTtl(horizonDocs: Long)
      extends StatefulProcessor[String, (Long, String), BandFlag] {
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)](
        "run", LongPair, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(Long, String)],
                                 timerValues: TimerValues): Iterator[BandFlag] = {
      var (owner, lastSeen) =
        if (st.exists()) st.get() else (Long.MaxValue, Long.MinValue)
      val flags = rows.map(_._1).toArray.sorted.map { d =>
        if (lastSeen != Long.MinValue && d - lastSeen > horizonDocs)
          owner = Long.MaxValue // run break: the horizon passed unseen
        val f = BandFlag(d, key, owner < d)
        if (d < owner) owner = d
        lastSeen = d
        f
      }
      st.update((owner, lastSeen))
      getHandle.registerTimer((lastSeen + horizonDocs + 1) * 1000L)
      flags.iterator
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[BandFlag] = {
      // delete only if the band was NOT re-seen since this timer was set
      // (a re-arrival advanced lastSeen and registered a fresher timer)
      if (st.exists() &&
          expired.getExpiryTimeInMs >= (st.get()._2 + horizonDocs + 1) * 1000L)
        st.clear()
      Iterator.empty
    }
  }

  /** One finalized (user, day) window. `dnum` is epoch days. */
  case class DayClose(user_id: Long, dnum: Long, n_events: Long, sum_cents: Long)

  /** EVENT-TIME TIMERS — the state-v2 leg the Value/Map/List trio doesn't
    * touch: per (user, event-time day) totals accumulate in a
    * MapState[day → (n, cents)], and each NEW day registers an event-time
    * timer at that day's end. The timer fires only when the WATERMARK
    * passes day end, at which point no event with ts inside the day can
    * ever arrive (the watermark contract) — so `handleExpiredTimer` can
    * emit the finalized window and delete the map entry, append-mode,
    * exactly once per (user, day). This is window finalization by timer,
    * the mechanism production uses for TTL eviction and inactivity
    * timeouts; unlike processing-time TTL it replays deterministically,
    * which is what lets the DuckDB oracle (a plain GROUP BY) hash-match
    * the emission set. State is O(open days per user) — bounded by the
    * watermark horizon, the knob that caps RocksDB growth at any stream
    * length.
    *
    * CLOCK CONTRACT (ADVICE r11): the timer boundary `(dnum+1)·86 400 000`
    * is a UTC epoch-day end, so the upstream `dnum` MUST be derived on
    * the same clock — either `floor(unix_millis(ts) / 86 400 000)`
    * (tz-independent, what runStateTtlAudit uses) or a date cast under a
    * session pinned to UTC (what runTimerDayClose uses; GraftSession and
    * Bench both set spark.sql.session.timeZone=UTC). A dnum keyed to a
    * negative-offset local day would let the timer fire before that day
    * ends, closing the window early and double-emitting when later
    * same-day events recreate the map entry.
    */
  final class DayCloser extends StatefulProcessor[Long, (Long, Long, Long), DayClose] {
    @transient private var days: MapState[Long, (Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      days = getHandle.getMapState[Long, (Long, Long)](
        "days", Encoders.scalaLong, LongPair, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
                                 timerValues: TimerValues): Iterator[DayClose] = {
      rows.foreach { case (_, dnum, cents) =>
        if (days.containsKey(dnum)) {
          val (n, s) = days.getValue(dnum)
          days.updateValue(dnum, (n + 1, s + cents))
        } else {
          days.updateValue(dnum, (1L, cents))
          getHandle.registerTimer((dnum + 1) * 86400000L)
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[DayClose] = {
      val dnum = expired.getExpiryTimeInMs / 86400000L - 1
      if (days.containsKey(dnum)) {
        val (n, s) = days.getValue(dnum)
        days.removeKey(dnum)
        Iterator.single(DayClose(key, dnum, n, s))
      } else Iterator.empty
    }
  }
}
