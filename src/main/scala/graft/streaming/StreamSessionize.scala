package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization — the continuous counterpart of
  * [[graft.ops.Sessionize.sessionize]], with output contract parity
  * (per-user session ordinals, integer-microsecond rollups) so stream
  * and batch results compare row-for-row. [[EventStreams.sessionize]]
  * is the generic state-API form of the same pattern (no ordinal
  * numbering, value rollups); this one exists so the BATCH operator has
  * an exactly-matching streaming twin. Sessions close (and EMIT) either
  * when a later event of the same user arrives past the gap, or when event
  * time moves `gapUs` past the session's last event (event-time timeout),
  * so an abandoned session still flushes without waiting for the user to
  * return.
  *
  * Output rows are identical in shape and numbering to the batch rollup
  * (`sess_idx` is the user's 1-based session ordinal), so a replay of the
  * same events through both paths matches exactly — StreamSessionizeSpec
  * asserts set equality.
  *
  * State per user is O(1): the ordinal counter plus the open session's
  * (start, last, count). The ordinal survives after a timeout flush, so
  * numbering stays global per user, as in the batch rollup; the price is
  * one small record kept for every user ever seen.
  *
  * Late data: events older than the watermark are dropped by Spark before
  * the stateful operator (standard streaming-vs-batch divergence); within
  * a micro-batch, events are folded in (event-time, event_id) order —
  * the batch ordering — so intra-batch disorder is harmless.
  */
object StreamSessionize {

  final case class Ev(user_id: Long, event_id: Long, tus: Long, ts: java.sql.Timestamp)
  final case class UserState(nextIdx: Long, startUs: Long, lastUs: Long, n: Long)
  final case class SessionOut(user_id: Long, sess_idx: Long, n_events: Long,
                              start_us: Long, dur_us: Long)

  /** @param events    (user_id, event_id, ts: timestamp) stream
    * @param gapUs     inactivity gap closing a session (microseconds)
    * @param watermark max lateness; also gates the timeout flush */
  def sessions(events: DataFrame, gapUs: Long = graft.ops.Sessionize.DefaultGapUs,
               watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapUs / 1000
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"),
        col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", watermark)
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            // idle past the gap: flush the open session
            val s = state.get
            state.update(UserState(s.nextIdx, 0L, Long.MinValue, 0L))
            if (s.n > 0)
              Iterator.single(SessionOut(user, s.nextIdx - 1, s.n, s.startUs, s.lastUs - s.startUs))
            else Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r.tus, r.event_id))
            var st = state.getOption.getOrElse(UserState(1L, 0L, Long.MinValue, 0L))
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { r =>
              if (st.n == 0)
                st = UserState(st.nextIdx + 1, r.tus, r.tus, 1L)
              else if (r.tus - st.lastUs > gapUs) {
                out += SessionOut(user, st.nextIdx - 1, st.n, st.startUs, st.lastUs - st.startUs)
                st = UserState(st.nextIdx + 1, r.tus, r.tus, 1L)
              } else
                st = st.copy(lastUs = r.tus, n = st.n + 1)
            }
            state.update(st)
            // flush the open session once event time passes last + gap
            if (st.n > 0)
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs + 1, st.lastUs / 1000 + gapMs))
            out.result().iterator
          }
      }
  }
}
