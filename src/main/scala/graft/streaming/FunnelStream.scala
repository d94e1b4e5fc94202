package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered-funnel (the stateful sibling of
  * [[graft.ops.EventAnalytics.funnel]]): per entity, buffer the
  * funnel-relevant events in keyed state and REPLAY the greedy
  * stage-arrival recurrence once the event-time watermark closes the
  * entity — so the result is ARRIVAL-ORDER INDEPENDENT within the
  * watermark delay (a late-arriving earlier click lands in the buffer
  * like any other event; greedy per-event state machines get this
  * wrong, because an earlier stage-k arrival retroactively changes
  * every later stage's answer). Rows older than the watermark itself
  * are dropped by the engine before the state operator — the standard
  * streaming contract — so the delay is the disorder bound; pick it
  * accordingly (the registered query sets it past the data's span).
  *
  * State per entity is the funnel-relevant event times only (events are
  * filtered to the stage types before the shuffle), flat-encoded; the
  * replay happens once, at timeout. Work distributes across the
  * groupBy shuffle; a group's batch iterator holds one micro-batch of
  * one key, and state carries only that entity's stage-type times. */
object FunnelStream {

  final case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                      event_type: String)
  final case class StageEv(k: Int, us: Long)
  final case class Buffer(evs: Seq[StageEv], maxSeenUs: Long)
  final case class Reach(user_id: Long, stage_no: Long, t0_us: Long, tk_us: Long)

  /** Per-entity stage reaches, emitted when the watermark passes the
    * entity's last buffered event + `flushSlackMin`. One row per stage
    * the entity REACHED (t_k = earliest type-k event at-or-after
    * t_{k-1}); entities that never enter stage 0 emit nothing. */
  def reaches(events: Dataset[Ev], stages: Seq[String],
              watermarkMin: Int = 60, flushSlackMin: Int = 120): Dataset[Reach] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val stageIdx = stages.zipWithIndex.toMap
    implicit val reachEnc = Encoders.product[Reach]
    implicit val bufEnc = Encoders.product[Buffer]

    def toUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000L

    def replay(user: Long, b: Buffer): Iterator[Reach] = {
      val byStage = b.evs.groupBy(_.k)
      var prev = Option.empty[Long]
      var t0 = 0L
      val out = Seq.newBuilder[Reach]
      var k = 0
      var alive = true
      while (alive && k < stages.size) {
        val cand =
          if (k == 0) byStage.getOrElse(0, Nil).map(_.us).minOption
          else byStage.getOrElse(k, Nil).map(_.us).filter(_ >= prev.get).minOption
        cand match {
          case Some(t) =>
            if (k == 0) t0 = t
            out += Reach(user, (k + 1).toLong, t0, t)
            prev = Some(t)
          case None => alive = false
        }
        k += 1
      }
      out.result().iterator
    }

    def fn(user: Long, it: Iterator[Ev], state: GroupState[Buffer]): Iterator[Reach] = {
      if (state.hasTimedOut) {
        val emitted = state.getOption.iterator.flatMap(replay(user, _))
        state.remove()
        emitted
      } else {
        val batch = it.toArray
        val prior = state.getOption.getOrElse(Buffer(Nil, Long.MinValue))
        val add = batch.iterator.flatMap(e =>
          stageIdx.get(e.event_type).map(StageEv(_, toUs(e.ts)))).toSeq
        val maxSeen = batch.iterator.map(e => toUs(e.ts))
          .foldLeft(prior.maxSeenUs)(math.max)
        val upd = Buffer(prior.evs ++ add, maxSeen)
        if (upd.evs.nonEmpty) {
          state.update(upd)
          // ms-granular timeout, rounded UP past the slack window. The
          // watermark floor guards the cross-batch case: a user whose
          // events are all OLD relative to the stream-global watermark
          // must still set a legal (>= watermark) timeout, not throw.
          state.setTimeoutTimestamp(math.max(
            Math.floorDiv(upd.maxSeenUs, 1000L) + flushSlackMin * 60L * 1000L + 1,
            state.getCurrentWatermarkMs() + 60L * 1000L))
        }
        Iterator.empty
      }
    }

    events
      .withWatermark("ts", s"$watermarkMin minutes")
      // Stage-type filter BELOW the watermark node but BEFORE the
      // shuffle: irrelevant types (and the flush sentinel) never ride
      // the groupBy exchange or touch state, yet still advance the
      // watermark — EventTimeWatermarkExec sits upstream of the filter.
      .filter(e => stageIdx.contains(e.event_type))
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Registered query: the events table staged as TWO adversarially
    * split files (odd event_ids first, then evens — so a user's later
    * funnel stages can ARRIVE BEFORE earlier ones across micro-batches)
    * plus a far-future flush sentinel; drained with AvailableNow. The
    * settled per-user reaches aggregate to exactly the batch funnel
    * summary — `w_funnel`'s oracle SQL is this query's oracle too. */
  def funnelOnce(spark: SparkSession, sfDir: String,
                 stages: Seq[String] = Seq("signup", "click", "purchase")): DataFrame = {
    import org.apache.spark.sql.functions._
    // Watermark delay LONGER than the data's whole time span: the
    // adversarial odd/even split sends later stages before earlier ones
    // across micro-batches, and none of them may be "late" relative to
    // the watermark — only the sentinel, placed past delay + slack, may
    // advance it far enough to fire the flush timeouts.
    //
    // STATE-BOUND consequence (deliberate, fixture-only): keyed state
    // buffers every funnel-relevant event for every user until the
    // sentinel fires — O(in-flight events) = watermark delay × event
    // rate, and a span-length delay makes that the WHOLE filtered
    // dataset. Fine here (the oracle needs the settled total, and the
    // fixture is replayed history, not an unbounded feed); in a real
    // deployment size the watermark to the feed's actual disorder
    // (minutes-hours), which bounds state to delay × rate regardless
    // of how long the stream runs. See SCALE.md's st_funnel row.
    val watermarkMin = 60 * 24 * 40 // 40 days > the 30-day events span
    val flushSlackMin = 60
    // The sentinel timestamp is a function of watermarkMin/flushSlackMin,
    // so both knobs belong in the staging fingerprint — retuning them
    // must re-stage, not silently replay a stale sentinel.
    val staged = LateArrivals.stageBatchesCached(spark,
        graft.ops.PersistedState.StageFunnel, sfDir,
        s":${stages.mkString("|")}:wm$watermarkMin:slack$flushSlackMin:2split:v1") {
      val ev = graft.Tables.events(spark, sfDir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val flushTs = new java.sql.Timestamp(
        maxTs.getTime + (watermarkMin + flushSlackMin + 120) * 60L * 1000L)
      import scala.jdk.CollectionConverters._
      val flush = spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(-1L, -1L, flushTs, "flush")).asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING"))
      Seq(ev.filter(col("event_id") % 2 === 1), ev.filter(col("event_id") % 2 === 0), flush)
    }

    implicit val evEnc = Encoders.product[Ev]
    val stream = reaches(
      Gate.staged(Gate.session(spark), staged.toString,
        "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, event_type STRING").as[Ev],
      stages, watermarkMin, flushSlackMin)
    // Settled per-user reaches -> the batch funnel summary (the same
    // per-stage 1-row-aggregate union as EventAnalytics.funnel, so the
    // zero-reach stage still yields its count-0 row).
    val reach = Gate.settle(stream, "graft_stream_funnel", "append")
    stages.zipWithIndex.map { case (st, i) =>
      reach.filter(col("stage_no") === (i + 1))
        .agg(count(lit(1)).as("n_users"),
          round(avg(col("tk_us") - col("t0_us")) / lit(3600000000.0), 4).as("avg_hours"))
        .select(lit(st).as("stage"), lit((i + 1).toLong).as("stage_no"),
          col("n_users"), col("avg_hours"))
    }.reduce(_.union(_))
  }
}
