package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state via `flatMapGroupsWithState` — the
  * sessionization the batch `q_sessionize` query does with lag(),
  * expressed as true incremental state: one session accumulator per
  * user, closed and emitted when the event-time watermark passes the
  * 30-minute inactivity gap.
  *
  * Scale notes: state is O(active users), one small struct each;
  * event-time timeout + watermark bound both state size and lateness.
  * The shuffle keys on user_id only. (For plain tumbling/session
  * windows prefer the built-ins — `window()` / `session_window()`;
  * this operator is the extension point for session logic the
  * built-ins can't express, e.g. per-session feature accumulation.)
  */
object StatefulSessionizer {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  val GapMs: Long = 30 * 60 * 1000L

  private def update(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    if (state.hasTimedOut) {
      // watermark passed last-event + gap: the session is closed
      val s = state.get
      state.remove()
      Iterator.single(
        Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n))
    } else {
      val sorted = events.toSeq.sortBy(_.ts.getTime)
      var cur = state.getOption
      val closed = Seq.newBuilder[Session]
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last <= GapMs =>
            cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
          case Some(s) => // gap inside the batch: close and start fresh
            closed += Session(userId, new Timestamp(s.start), new Timestamp(s.last), s.n)
            cur = Some(SessionState(t, t, 1))
          case None =>
            cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(s.last + GapMs)
      }
      closed.result().iterator
    }
  }

  /** NDJSON event stream → closed sessions (append mode). */
  def sessions(spark: SparkSession, inputDir: String): Dataset[Session] = {
    import spark.implicits._
    spark.readStream
      .schema(EventStream.eventSchema)
      .json(inputDir)
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }
}
