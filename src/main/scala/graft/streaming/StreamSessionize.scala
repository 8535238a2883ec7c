package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization (SURVEY.md G6): the
  * `flatMapGroupsWithState` form of the batch `sessionize` query —
  * per-user gap-based sessions with explicit keyed state.
  *
  * State per user = (last event time, current session id): a batch's
  * events sort in event-time order, continue the open session if the
  * first event is within the gap, and roll the id on every gap.
  * Sessions are (re-)emitted as they grow — Update-mode semantics; a
  * downstream upsert sink keyed on (user_id, sess_id, sess_start)
  * keeps the final row per session (the same LWW shape as
  * [[graft.sinks.JdbcUpsertSink]]).
  *
  * State is BOUNDED TWICE over: O(active users) in width (2 longs per
  * user, never per-event), and in LIFETIME by `EventTimeTimeout` — a
  * user idle past the session gap is by definition between sessions,
  * so their state is dead weight: each update arms a timeout at
  * (last event time + gap), and once the 30-min watermark passes it
  * the store evicts the entry. Without this, state grows with
  * lifetime DISTINCT users — unbounded on a 100 TB stream even
  * though each entry is tiny (the stream_topk lesson; the flat-state
  * property is spec-checked across waves). An evicted user who
  * returns restarts the per-user session counter at 0 — the emitted
  * `sess_start` disambiguates re-used (user_id, sess_id) keys at the
  * sink, and the counter reset cannot merge two sessions (the gap
  * already separated them).
  *
  * With all input in one micro-batch (the verify harness), emitted
  * sessions are exactly the batch query's — oracle-checked against
  * the same SQL as B6.
  */
object StreamSessionize {

  val GapSec = 1800L

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  case class SessState(lastTsMs: Long, sessId: Long)
  case class Sess(user_id: Long, sess_id: Long, n_events: Long,
                  sess_start: String, sess_value: Double)

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  def sessionize(user: Long, events: Iterator[Ev],
                 state: GroupState[SessState]): Iterator[Sess] = {
    if (state.hasTimedOut) {
      // watermark passed (last event + gap): the user is idle between
      // sessions — drop the entry, emit nothing
      state.remove()
      return Iterator.empty
    }
    val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    var (lastMs, sid) = state.getOption
      .map(s => (s.lastTsMs, s.sessId)).getOrElse((Long.MinValue, -1L))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Ev)]
    sorted.foreach { e =>
      val ms = e.ts.getTime
      // gap test on floor-seconds, exactly like the batch query's
      // ts.cast(long) - lag(ts).cast(long) > 1800
      if (lastMs == Long.MinValue || ms / 1000 - lastMs / 1000 > GapSec) sid += 1
      lastMs = ms
      out += ((sid, e))
    }
    state.update(SessState(lastMs, sid))
    // lastMs comes from THIS batch's events, so it is >= the current
    // watermark and the armed timestamp is always legal
    state.setTimeoutTimestamp(lastMs + GapSec * 1000)
    val sdf = new java.text.SimpleDateFormat(fmt)
    sdf.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    out.groupBy(_._1).map { case (s, evs) =>
      Sess(user, s, evs.size.toLong,
        sdf.format(new java.util.Date(evs.map(_._2.ts.getTime).min)),
        // per-value DECIMAL(18,4) cast then exact decimal sum — the
        // same arithmetic as the batch query's
        // sum(value.cast(decimal(18,4))).cast(double)
        evs.map(e => BigDecimal(e._2.value)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble)
    }.iterator
  }

  def transform(events: DataFrame): Dataset[Sess] = {
    val s = events.sparkSession
    import s.implicits._
    events.selectExpr("user_id", "ts", "event_id", "value")
      .withWatermark("ts", "30 minutes").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(sessionize)
  }

  /** The run's emitted sessions: with all input in one micro-batch,
    * each session is emitted once. */
  def run(s: SparkSession, dir: String): DataFrame = Staging.run(s) { r =>
    r.drive()(r.toMemory(transform(StreamIngest.readEvents(s, dir)), "update"))
    r.table()
  }
}
