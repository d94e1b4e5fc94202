package perfbench

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of one traced run, filled by the listeners below.
  *
  * Listener callbacks run on Spark's listener-bus threads. Each record is
  * stamped with the pass that was current when it was delivered; the
  * harness calls [[flush]] after every pass, so all events of a pass are
  * delivered before the pass number changes. While `pass` is -1 nothing
  * is recorded, which is how untraced passes of a traced run are kept
  * out of the record.
  */
object Trace {
  /** Local property naming the rep a job belongs to: `pass/index/phase`,
    * phase being `build` or `action`. Threads inherit it, so stream
    * threads started inside a rep carry that rep's tag. */
  val RepKey = "perfbench.rep"
  private[perfbench] val MarkerKey = "perfbench.marker"

  @volatile var pass: Int = -1

  final class JobRec(val id: Int, val pass: Int, val tag: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  final class StageRec(val pass: Int, val job: Int) {
    var tasks, failedTasks, runMs, cpuNs, gcMs, inBytes, inRecords, outBytes,
      shuffleRead, shuffleWrite, spill, maxRunMs = 0L
  }
  final case class QeRec(pass: Int, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long, phases: Seq[(Long, Long)])
  final class StreamRec(val pass: Int, val rep: String, val start: Long) {
    var batches, inputRows, triggerMs, planningMs, walMs, addBatchMs,
      stateCommitMs, stateRows = 0L
    @volatile var terminated = false
  }
  final class MemoRec {
    val filled = ConcurrentHashMap.newKeySet[Int]()
    val unpersists, cachedBytes = new AtomicLong
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]
  val stages = new ConcurrentHashMap[Int, StageRec]
  val qes = new ConcurrentLinkedQueue[QeRec]
  val streams = new ConcurrentHashMap[UUID, StreamRec]
  val memo = new ConcurrentHashMap[Int, MemoRec]
  private val markerJobs = new ConcurrentHashMap[Int, Long]
  private val markerSeen = new AtomicLong
  private val markerSeq = new AtomicLong

  def memoOf(p: Int): MemoRec = memo.computeIfAbsent(p, _ => new MemoRec)

  /** Waits until every event posted before the call has been delivered:
    * a marker job's end event reaches the shared listener queue after all
    * earlier events on it (jobs, tasks, blocks, query executions), and a
    * stream's terminated event follows its progress events. */
  def flush(sc: SparkContext): Unit = {
    val id = markerSeq.incrementAndGet()
    sc.setLocalProperty(MarkerKey, id.toString)
    try sc.parallelize(Seq(1), 1).foreach(_ => ())
    finally sc.setLocalProperty(MarkerKey, null)
    val deadline = System.currentTimeMillis() + 10000
    def pending = markerSeen.get < id ||
      streams.values.stream.anyMatch(s => s.pass == pass && !s.terminated)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(markerSeen.get >= id, "listener bus did not drain within 10 s")
  }

  private[perfbench] def markerStarted(job: Int, id: String): Unit =
    markerJobs.put(job, id.toLong)

  /** True when `job` is a marker job; its end then marks the drain. */
  private[perfbench] def markerEnded(job: Int): Boolean =
    Option(markerJobs.remove(job)) match {
      case Some(id) => markerSeen.accumulateAndGet(id, (a, b) => math.max(a, b)); true
      case None => false
    }
}

/** Jobs, stages, tasks and persisted RDD blocks. */
class JobListener extends SparkListener {
  import Trace._

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(id) => markerStarted(e.jobId, id)
      case None if pass >= 0 =>
        val tag = props.flatMap(p => Option(p.getProperty(RepKey))).getOrElse("")
        jobs.put(e.jobId, new JobRec(e.jobId, pass, tag, e.time))
        e.stageIds.foreach(s => stages.putIfAbsent(s, new StageRec(pass, e.jobId)))
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (!markerEnded(e.jobId)) Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stages.get(e.stageId)
    if (st != null) st.synchronized {
      st.tasks += 1
      if (e.reason != Success) st.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.runMs += m.executorRunTime
        st.maxRunMs = math.max(st.maxRunMs, m.executorRunTime)
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.inBytes += m.inputMetrics.bytesRead
        st.inRecords += m.inputMetrics.recordsRead
        st.outBytes += m.outputMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (pass >= 0) {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { rdd =>
        if (b.storageLevel.isValid) {
          val m = memoOf(pass)
          m.filled.add(rdd.rddId)
          m.cachedBytes.addAndGet(b.memSize + b.diskSize)
        }
      }
    }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    if (pass >= 0) memoOf(pass).unpersists.incrementAndGet()
}

/** Catalyst phase times of every action, eager ones inside a frame build
  * included. Registered through `spark.sql.queryExecutionListeners`, so
  * child sessions (the streaming gates') report too. */
class PlanListener extends QueryExecutionListener {
  import Trace._

  private def record(qe: QueryExecution): Unit = if (pass >= 0) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    qes.add(QeRec(pass, ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING),
      ph.values.map(p => (p.startTimeMs, p.endTimeMs)).toSeq))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Micro-batch phases and state-store progress of every stream. Registered
  * through `spark.sql.streaming.streamingQueryListeners`: the gates run on
  * child sessions that a listener added to the base session never sees. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  import Trace._

  override def onQueryStarted(e: QueryStartedEvent): Unit = if (pass >= 0) {
    val rep = Option(SparkContext.getOrCreate().getLocalProperty(RepKey)).getOrElse("")
    streams.put(e.runId, new StreamRec(pass, rep, System.currentTimeMillis()))
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val s = streams.get(e.progress.runId)
    if (s != null) s.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      s.batches += 1
      s.inputRows += p.numInputRows
      s.triggerMs += d("triggerExecution")
      s.planningMs += d("queryPlanning")
      s.walMs += d("walCommit")
      s.addBatchMs += d("addBatch")
      s.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      s.stateRows = p.stateOperators.map(_.numRowsTotal).sum
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Option(streams.get(e.runId)).foreach(_.terminated = true)
}
