package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase decomposition of the streamed incremental-cluster pair — the
  * cluster-family SCALE.md treatment for the drain cadence that owns
  * the top of the r14 bench (st_incremental_clusters 4.2 s, _capped
  * 3.7 s at sf0.1). Per rep, in one hot JVM:
  *
  *   drain    — the AvailableNow micro-batch drain alone (stream start
  *              → awaitTermination), collisions into the gate's lineage
  *              sink; reps after the first restart on its checkpoint
  *              and commit no micro-batch
  *   readback — sink re-read + distinct to the settled candidate set
  *   verify   — exact-Jaccard verification of the candidates
  *   merge    — incrementalClusters against the persisted state
  *
  * plus stages/taskTime per phase, so fixed per-drain cost (query
  * lifecycle, offset/commit WAL, state-table re-resolution in the
  * stream's own session) separates from real distributed work.
  *
  * `sbt "runMain graft.ProfStream [sfDir] [reps]"` */
object ProfStream {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null) taskMs.addAndGet(t.taskMetrics.executorRunTime)
        ()
      }
    })
    def phase[A](name: String, rep: Int)(body: => A): A = {
      val (s0, t0, w0) = (stages.get(), taskMs.get(), System.nanoTime())
      val out = body
      val wall = (System.nanoTime() - w0) / 1e9
      Thread.sleep(300)
      println(f"[stp] rep $rep $name%-9s $wall%6.2f s  stages ${stages.get() - s0}%4d  " +
        f"taskTime ${(taskMs.get() - t0) / 1e3}%7.1f s-cpu")
      out
    }
    import graft.queries.CorpusQueries
    CorpusQueries.prepareClusterState(spark, d)
    CorpusQueries.prepareLshState(spark, d)
    val docs = Tables.documents(spark, d)
    val state = spark.read.parquet(CorpusQueries.clusterStatePath(spark, d))
    (1 to reps).foreach { r =>
      val cands = phase("drain", r) {
        graft.streaming.LshProbe.candidatesOnce(spark, d,
          CorpusQueries.lshStateTable(d))
      }
      val settled = phase("readback", r) {
        val c = cands.select(col("state_id").as("id1"), col("inc_id").as("id2"))
        c.count(); c
      }
      val pairs = phase("verify", r) {
        val p = graft.dedup.Dedup.verifyIncrementPairs(settled,
          docs.filter(col("doc_id") % 3 === 2),
          docs.filter(col("doc_id") % 3 =!= 2),
          "doc_id", "text", numHashes = 32, rowsPerBand = 4,
          shingleN = 2, threshold = 0.5)
        p.count(); p
      }
      phase("merge", r) {
        graft.dedup.Dedup.incrementalClusters(state, pairs).count()
      }
    }
    spark.stop()
  }
}
