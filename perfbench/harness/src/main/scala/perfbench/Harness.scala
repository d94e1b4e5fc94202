package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a closed loop with one client that drives
  * `graft.SparkEntry.queries` one at a time.
  *
  *   java ... perfbench.Harness RUN.properties
  *
  * The properties file (written by run.py) names the workload, its query
  * claims and selection, the drops, the run's private directories and the
  * pass count.
  * The harness runs the untimed warm passes, then the timed passes, and
  * writes every rep and, when tracing, every traced pass's layer record
  * to the `out` JSON file. Query failures are recorded, not fatal; the
  * exit code is non-zero only when the run itself cannot be made.
  */
object Harness {
  private type Query = (SparkSession, String) => DataFrame

  final case class Rep(pass: Int, idx: Int, query: String, drop: String,
                       w0: Long, wb: Long, w1: Long,
                       wallS: Double, buildS: Double, actionS: Double,
                       err: Option[String])

  def main(args: Array[String]): Unit = {
    val cfg = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try cfg.load(in) finally in.close()
    def get(k: String): String =
      Option(cfg.getProperty(k)).getOrElse(sys.error(s"missing config key $k"))

    val workload = get("workload")
    val cores = get("cores").toInt
    val traced = get("trace") == "1"
    val passes = get("passes").toInt
    val warmDrop = get("warm_drop")
    val timedDrops = get("timed_drops").split(',').toSeq
    val resultDir = get("result_dir")
    val runDirs = Seq(get("warehouse_dir"), get("checkpoint_dir"), get("tmp_dir"))
    val claims = cfg.stringPropertyNames.asScala.toSeq.sorted
      .filter(_.startsWith("claim.")).map(k => k.stripPrefix("claim.") -> get(k).r)

    // Every registered query belongs to exactly one workload.
    val registered = graft.SparkEntry.queries
    val owners = registered.keys.toSeq.sorted.map(n => n -> claims.filter(_._2.findPrefixOf(n).isDefined).map(_._1))
    val unclaimed = owners.filter(_._2.size != 1)
    if (unclaimed.nonEmpty) {
      System.err.println("[perfbench] queries not claimed by exactly one workload: " +
        unclaimed.map { case (n, ws) => s"$n -> ${ws.mkString("[", ",", "]")}" }.mkString(", "))
      sys.exit(3)
    }
    val members = owners.collect { case (n, Seq(w)) if w == workload => n }
    val picks = get("picks").split(',').filter(_.nonEmpty).toSeq
    val strays = picks.filterNot(members.contains)
    if (strays.nonEmpty) {
      System.err.println(s"[perfbench] not members of $workload: ${strays.mkString(", ")}")
      sys.exit(3)
    }
    val order = new scala.util.Random(get("seed").toLong)
      .shuffle(if (picks.isEmpty) members else picks.sorted)
    require(order.nonEmpty, s"workload $workload has no queries")

    val sessionStart = System.currentTimeMillis()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", get("warehouse_dir"))
    if (traced) builder
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    sc.setCheckpointDir(get("checkpoint_dir"))
    if (traced) sc.addSparkListener(new JobListener)
    val sessionReady = System.currentTimeMillis()

    // Odd timed passes run the order reversed. Queries that share a memo
    // or a prepared table then take turns paying for it, so a query's
    // median over a pair of passes does not depend on which one the
    // seed put first.
    def runPass(pass: Int, drop: String): Seq[Rep] =
      (if (pass % 2 == 1) order.reverse else order).zipWithIndex.map { case (name, idx) =>
        val fn: Query = registered(name)
        val tag = s"$pass/$idx"
        var err: Option[String] = None
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var tb = t0
        var wb = w0
        sc.setLocalProperty(Trace.RepKey, s"$tag/build")
        try {
          val df = fn(spark, drop)
          tb = System.nanoTime(); wb = System.currentTimeMillis()
          sc.setLocalProperty(Trace.RepKey, s"$tag/action")
          // Writing evaluates every output column; count() would let
          // Catalyst prune the columns a product needs.
          df.write.mode("overwrite").parquet(s"$resultDir/$name")
        } catch {
          case e: Throwable =>
            err = Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        } finally sc.setLocalProperty(Trace.RepKey, null)
        val t1 = System.nanoTime()
        val w1 = System.currentTimeMillis()
        if (err.nonEmpty) { tb = t1; wb = w1 }
        Rep(pass, idx, name, drop, w0, wb, w1, (t1 - t0) / 1e9, (tb - t0) / 1e9, (t1 - tb) / 1e9, err)
      }

    val warmStart = System.currentTimeMillis()
    val warm = (-get("warm_passes").toInt until 0).flatMap(runPass(_, warmDrop))
    val warmEnd = System.currentTimeMillis()

    val layers = Seq.newBuilder[java.util.Map[String, AnyRef]]
    val timed = (0 until passes).flatMap { p =>
      val drop = timedDrops(p % timedDrops.size)
      // A traced run alternates untraced and traced passes, so the
      // tracing overhead is measured in the same JVM on the same drops.
      val tracePass = traced && p % 2 == 1
      if (!tracePass) runPass(p, drop)
      else {
        val probe = new Probe(runDirs)
        Trace.pass = p
        val reps = runPass(p, drop)
        Trace.flush(sc)
        val rec = Layers.of(p, reps, probe)
        Trace.pass = -1
        rec.putAll(Probe.tablesLoad(spark, drop, s"${get("probe_dir")}/$p"))
        layers += rec
        reps
      }
    }

    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
      .getOrElse(0L)
    spark.stop()

    val out = Json.obj(
      "workload" -> workload,
      "members" -> members.size,
      "queries" -> Json.arr(order.map(q => q: AnyRef)),
      "session_start_ms" -> sessionStart, "session_ready_ms" -> sessionReady,
      "warm_start_ms" -> warmStart, "warm_end_ms" -> warmEnd,
      "vm_hwm_kb" -> hwmKb,
      "reps" -> Json.arr((warm ++ timed).map(Json.rep)),
      "layers" -> Json.arr(layers.result()))
    val json = new ObjectMapper()
    // The output check (tools/oracle_check.py) reads the oracle SQL next
    // to the results, as it does for graft.Verify's output directory.
    json.writeValue(new File(s"$resultDir/oracle_sql.json"),
      Json.obj(order.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)): _*))
    json.writeValue(new File(get("out")), out)
  }

  /** File-system and JVM state at the start of a traced pass. */
  final class Probe(dirs: Seq[String]) {
    val startMs: Long = System.currentTimeMillis()
    val tmpDir: String = dirs.last
    val tmpEntries: Set[String] =
      Option(new File(tmpDir).list()).map(_.toSet).getOrElse(Set.empty)
    val gcMs: Long = Probe.gcMs
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

    /** Files under the run's warehouse, checkpoint and tmp directories
      * written since the pass started: (count, bytes) per directory. */
    def written: Seq[(Long, Long)] = dirs.map { d =>
      val root = Paths.get(d)
      if (!Files.exists(root)) (0L, 0L)
      else {
        val s = Files.walk(root)
        try {
          val fs = s.iterator.asScala.map(_.toFile)
            .filter(f => f.isFile && f.lastModified >= startMs).toSeq
          (fs.size.toLong, fs.map(_.length).sum)
        } finally s.close()
      }
    }
  }

  object Probe {
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

    def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0

    /** Times `graft.Tables.load` on a copy of `drop` at a path the JVM has
      * not read: the first call per table resolves the files and infers
      * the schema, the second repeats it. Sums over all tables, in ms. */
    def tablesLoad(spark: SparkSession, drop: String, copyTo: String): java.util.Map[String, AnyRef] = {
      val dst = Paths.get(copyTo)
      Files.createDirectories(dst)
      graft.Tables.all.foreach { t =>
        Files.copy(Paths.get(drop, s"$t.parquet"), dst.resolve(s"$t.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      def timeAll(): Double = graft.Tables.all.map { t =>
        val t0 = System.nanoTime()
        graft.Tables.load(spark, copyTo, t)
        (System.nanoTime() - t0) / 1e6
      }.sum
      val first = timeAll()
      val repeat = timeAll()
      graft.Tables.all.foreach(t => Files.delete(dst.resolve(s"$t.parquet")))
      Files.delete(dst)
      Json.obj("tables.load_first_ms" -> first, "tables.load_repeat_ms" -> repeat)
    }
  }
}
