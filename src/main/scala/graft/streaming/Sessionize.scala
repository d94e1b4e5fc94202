package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state (SURVEY.md §2.11 "custom state" path):
  * per-entity sessionization with `flatMapGroupsWithState`. A session
  * closes when a same-user event arrives past the gap (emitted
  * immediately) or when the event-time watermark passes the session end +
  * gap (timeout emission). State per key is one small case class; work
  * distributes across the groupBy shuffle like any keyed aggregation.
  */
object Sessionize {

  final case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(startUs: Long, endUs: Long, n: Long)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  def sessions(events: Dataset[Ev], gapMinutes: Int): Dataset[Session] = {
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val sessionEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessionState]

    // Timestamp <-> epoch MICROSECONDS: the gap comparison and the
    // emitted bounds must keep full timestamp precision (`getTime` is
    // millis — truncating would move gap boundaries and emit bounds off
    // the batch twin's `unix_micros` arithmetic). Local defs: the state
    // function closure must not capture the (non-serializable) object.
    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000L
    def fromUs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    def close(user: Long, s: SessionState): Session =
      Session(user, fromUs(s.startUs), fromUs(s.endUs), s.n)

    def fn(user: Long, events: Iterator[Ev], state: GroupState[SessionState])
        : Iterator[Session] = {
      if (state.hasTimedOut) {
        val closed = state.getOption.map(close(user, _))
        state.remove()
        closed.iterator
      } else {
        val sorted = events.toArray.sortBy(e => (toUs(e.ts), e.event_id))
        var emitted = List.empty[Session]
        var st = state.getOption
        sorted.foreach { e =>
          val t = toUs(e.ts)
          st = st match {
            case Some(s) if t - s.endUs <= gapUs =>
              Some(s.copy(endUs = math.max(s.endUs, t), n = s.n + 1))
            case Some(s) =>
              emitted ::= close(user, s)
              Some(SessionState(t, t, 1))
            case None => Some(SessionState(t, t, 1))
          }
        }
        st.foreach { s =>
          state.update(s)
          // Timeout API is millisecond-granular; round UP so a timeout
          // can never fire before the microsecond-exact gap elapses.
          state.setTimeoutTimestamp(Math.floorDiv(s.endUs + gapUs, 1000L) + 1)
        }
        emitted.reverseIterator
      }
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Registered query: the full events table driven through the
    * streaming sessionizer to completion — one data micro-batch plus a
    * far-future flush sentinel (its own session never times out, so it
    * is never emitted) whose event time pushes the watermark past every
    * real session's timeout. Mid-stream closes (next event past the
    * gap) and timeout closes both fire, and the settled result must
    * equal the batch gaps-and-islands sessionization — `w_sessionize`
    * minus the session number, which is what the oracle recomputes.
    *
    * Group iterators hold one user's batch slice in memory (sorted
    * in-group); at stream scale the slice is one micro-batch of one
    * key, not table history — state carries the open tail across
    * batches, which is the point of the API. */
  def sessionsOnce(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                   gapMinutes: Int = 30): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val staged = LateArrivals.stageBatchesCached(spark,
        graft.ops.PersistedState.StageSessions, sfDir, s":gap$gapMinutes:2batches:v1") {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts"))
      // Flush placement needs one max() scan — inside the by-name
      // block so a cache hit never pays it.
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val flushTs = new java.sql.Timestamp(
        maxTs.getTime + 10L * gapMinutes * 60L * 1000L)
      import scala.jdk.CollectionConverters._
      val flush = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(-1L, -1L, flushTs)).asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, event_id BIGINT, ts TIMESTAMP"))
      Seq(ev, flush)
    }

    implicit val evEnc = Encoders.product[Ev]
    val stream = sessions(
      Gate.staged(Gate.session(spark), staged.toString,
        "user_id BIGINT, event_id BIGINT, ts TIMESTAMP").as[Ev],
      gapMinutes)
    Gate.settle(stream, "graft_stream_sessions", "append")
  }
}
