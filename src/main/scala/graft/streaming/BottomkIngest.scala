package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming maintenance of the bottom-k sample behind
  * ivm_bottomk_sample — the sampling family's streaming end, and a
  * different streaming-state SHAPE than the register max-merge
  * (st_hll_ingest rides a plain aggregation; a k-smallest list is not
  * an aggregate Spark knows, so it lives in CUSTOM keyed state via
  * mapGroupsWithState): per (day, type), state is the k=32
  * (rank, event_id) smallest pairs seen so far — bounded at k per key
  * at ANY event volume — merged per micro-batch by sort-and-truncate
  * (bottomK(bottomK(A) ∪ B) == bottomK(A ∪ B), the same mergeability
  * the batch IVM leans on, exercised here across real batch
  * boundaries). Each batch emits the key's current sample with a
  * monotone n_seen counter; the settled answer is the max-n_seen
  * emission per key, exploded to (day, type, event_id, sample_rank). */
object BottomkIngest {

  final case class BkRow(obs_date: java.sql.Date, event_type: String,
                         event_id: Long, rk: String)
  final case class BkKey(obs_date: java.sql.Date, event_type: String)
  final case class BkState(rks: Seq[String], ids: Seq[Long], nSeen: Long)
  final case class BkEmit(obs_date: java.sql.Date, event_type: String,
                          n_seen: Long, rks: Seq[String], ids: Seq[Long])

  def sampleOnce(spark: SparkSession, sfDir: String, k: Int = 32): DataFrame = {
    // The 8-partition width of the stream session is measured on this
    // gate ([[Gate.session]]). There is no sink or persisted state here
    // to accumulate (memory sink): bench-line movement on this query is
    // machinery variance, not growth.
    val ss = Gate.session(spark)
    drain(ss, Gate.events(ss, sfDir), k, "graft_stream_bottomk")
  }

  /** Multi-micro-batch variant for the spec: pre-converted staged files,
    * one per trigger — the k-list's cross-batch sort-and-truncate merge
    * exercised on real partial states. `extraConf` lands on a private
    * stream session only (the state-store-provider swap hook, same
    * contract as LateArrivals.appendDailyTally). */
  private[graft] def sampleOnceStaged(spark: SparkSession, stagedDir: String,
                                      k: Int = 32,
                                      extraConf: Map[String, String] = Map.empty): DataFrame = {
    val ss = Gate.session(spark, extraConf = extraConf)
    drain(ss, Gate.staged(ss, stagedDir, "ts TIMESTAMP, event_type STRING, event_id BIGINT"),
      k, "graft_stream_bottomk_staged")
  }

  private def drain(ss: SparkSession, raw: DataFrame, k: Int,
                    qname: String): DataFrame = {
    import ss.implicits._
    val rows = raw
      .select(graft.ops.ColumnOps.toLocalDate(col("ts"), "Australia/Perth")
          .as("obs_date"), col("event_type"), col("event_id"),
        md5(col("event_id").cast("string")).as("rk"))
      .as[BkRow]

    def fn(key: BkKey, batch: Iterator[BkRow],
           state: GroupState[BkState]): BkEmit = {
      val prev = state.getOption.getOrElse(BkState(Nil, Nil, 0L))
      val incoming = batch.toArray
      val merged = (prev.rks.zip(prev.ids) ++
          incoming.map(r => (r.rk, r.event_id)))
        .sortBy(identity).take(k)
      val next = BkState(merged.map(_._1), merged.map(_._2),
        prev.nSeen + incoming.length)
      state.update(next)
      BkEmit(key.obs_date, key.event_type, next.nSeen, next.rks, next.ids)
    }

    val stream = rows.groupByKey(r => BkKey(r.obs_date, r.event_type))(
        Encoders.product[BkKey])
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(fn)(
        Encoders.product[BkState], Encoders.product[BkEmit])

    // settle: the per-key emission with the largest monotone n_seen is
    // the final state; explode it in rank order.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("obs_date"), col("event_type"))
      .orderBy(desc("n_seen"))
    Gate.settle(stream, qname, "update")
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("obs_date"), col("event_type"),
        posexplode(col("ids")).as(Seq("_pos", "event_id")))
      .select(col("obs_date"), col("event_type"), col("event_id"),
        (col("_pos") + 1).cast("long").as("sample_rank"))
  }
}
