package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional query-name regex (scale experiments: time a subset at a
    // fixture the full set would take hours on). Default: everything.
    val nameFilter: String => Boolean =
      sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
        case Some(re) => re.r.pattern.asPredicate.test(_)
        case None     => _ => true
      }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Bucketed sortBy metadata -> scan outputOrdering (GraftSession's
      // note: every ScaleOps bucketed CTAS writes one file per bucket,
      // so persisted-state sort-merge probes skip the state-side Sort).
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Durable-materializer path (Similarity.durableMaterialize): with a
    // checkpoint dir set the IVF queries bench reliable checkpoint() —
    // the configuration a cluster deployment runs — not localCheckpoint.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    // Warmup: drive every query once at the smallest SF so JIT, codegen
    // caches, and the parquet reader are hot before anything is timed —
    // otherwise whichever query happens to run first absorbs multiple
    // seconds of one-time JVM cost and the per-query numbers are noise.
    // Warmup state is LOGGED (stderr, away from the JSON line): numbers
    // from a skipped or failing warmup are cold-JVM numbers, and that
    // must be visible in the bench record, not silently absorbed.
    val warmAtSf = sys.env.getOrElse("SPARK_GRAFT_WARM_AT_SF", "1") != "0"
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (warmAtSf) {
      // The timed-SF warm pass below covers JIT/codegen AND at-scale
      // first-run effects; a second tiny-SF pass would only add wall
      // clock to the driver's run.
      System.err.println("[bench] tiny-SF warmup skipped: the timed-SF warm pass covers it")
    } else if (new java.io.File(warmDir).isDirectory) {
      var warmFailed = 0
      SparkEntry.queries.filter(q => nameFilter(q._1)).foreach { case (name, fn) =>
        try fn(spark, warmDir).count() catch {
          case e: Throwable =>
            warmFailed += 1
            System.err.println(s"[bench] warmup FAILED for $name: " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
        }
      }
      if (warmFailed > 0)
        System.err.println(s"[bench] $warmFailed warmup queries failed — their timings below are cold")
    } else {
      System.err.println(s"[bench] warmup SKIPPED: $warmDir is not a directory — all timings are cold-JVM")
    }
    // Page-cache pre-touch of the timed SF tree + thermal self-report
    // (round-12 triage: the driver record read 162 s where warm local
    // runs read 104 s, and every delta collapsed under warm reps — the
    // parquet tree had re-chilled between passes on the driver host).
    // The probe reads ONE file cold-ish and reports its MB/s (a cached
    // tree reads at GB/s, a cold disk at ~100-500 MB/s), then the sweep
    // pulls every byte of the tree through the page cache so the warm
    // pass below really is warm. Both numbers land in the bench record
    // header, so a hot-vs-cold record is self-describing instead of
    // burning a triage cycle per round.
    def sweepBytes(fs: Seq[java.io.File]): (Double, Long) = {
      val buf = new Array[Byte](1 << 20)
      val t0 = System.nanoTime()
      var n = 0L
      fs.foreach { f =>
        val in = new java.io.FileInputStream(f)
        try {
          var r = in.read(buf)
          while (r >= 0) { n += r; r = in.read(buf) }
        } finally in.close()
      }
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val sfFiles = Option(new java.io.File(sfDir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet")).toSeq
      .sortBy(_.getName)
    val (coldSec, coldBytes) = sweepBytes(sfFiles.take(1))
    val (sweepSec, sweepedBytes) = sweepBytes(sfFiles)
    def mbs(sec: Double, bytes: Long): Double =
      if (sec > 0) bytes / 1e6 / sec else 0.0
    val thermal = s""""pretouch":{"probe_mb_s":${mbs(coldSec, coldBytes).round},""" +
      s""""sweep_mb_s":${mbs(sweepSec, sweepedBytes).round},""" +
      s""""bytes":$sweepedBytes}"""
    System.err.println(s"[bench] pre-touch: probe ${mbs(coldSec, coldBytes).round} MB/s, " +
      s"sweep ${mbs(sweepSec, sweepedBytes).round} MB/s over $sweepedBytes bytes")
    // One-time layout prep at the TIMED SF (bucketed CTAS), outside the
    // timed bodies: the layout claim is "write once, join forever", so
    // the bench measures the steady state, not the one-time write.
    try SparkEntry.prepare(spark, sfDir) catch {
      case e: Throwable =>
        System.err.println(s"[bench] layout prepare failed (queries will self-prepare, timed): " +
          Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
    }
    // UNTIMED pass at the TIMED SF (on by default; set
    // SPARK_GRAFT_WARM_AT_SF=0 for the legacy tiny-SF-warmed single
    // pass): a tiny-SF warmup covers JIT/codegen, but
    // first-run-at-scale effects — page-cache fill, CacheOnce
    // materialization, size-specific codegen and GC shaping — still
    // landed on whichever query ran first, so run-order shifts
    // masqueraded as 2-6x per-query regressions (round-11 triage burned
    // a cycle on exactly this; warm Prof reps are the stated arbiter,
    // so the recorded pass now measures the same steady state Prof
    // does).
    if (warmAtSf) {
      var warmFailed = 0
      SparkEntry.queries.filter(q => nameFilter(q._1)).foreach { case (name, fn) =>
        try fn(spark, sfDir).count() catch {
          case e: Throwable =>
            warmFailed += 1
            System.err.println(s"[bench] timed-SF warm pass FAILED for $name: " +
              Option(e.getMessage).getOrElse(e.getClass.getName).take(160))
        }
      }
      if (warmFailed > 0)
        System.err.println(s"[bench] $warmFailed timed-SF warm queries failed — their timings below are cold")
    } else System.err.println("[bench] timed-SF warm pass disabled — timings are first-run")
    // Job-timeline listener for driver-gap attribution (folded into
    // the record): jobId -> (startMs, endMs).
    // One listener for the whole bench; per-rep gaps are computed
    // OFFLINE from time windows after a single drain sleep, so the
    // per-rep cost is zero (a per-rep drain sleep would add ~8 min
    // across 225 x 3 reps). Streaming gates run on child sessions of
    // the same SparkContext, so their jobs land here too.
    // Jobs are TAGGED to their rep via a local property (r16 verdict
    // task 6): the bench thread stamps "query#rep" before each timed
    // body, the listener reads it back from the job's properties, and
    // gap attribution filters on the tag — so a regression is
    // attributable from the record alone, without assuming job
    // wall-clock windows nest inside rep windows. Streaming gates run
    // their micro-batch jobs on OTHER threads; local properties are
    // INHERITABLE-thread-local (ADVICE r17), so a stream-execution
    // thread CREATED inside a tagged rep inherits that rep's tag at
    // creation and keeps it for the stream's lifetime — its jobs
    // attribute tag-exact to the rep that STARTED the stream, even
    // when a later rep's work lands on the long-lived stream thread.
    // That can shift GAP attribution between adjacent reps of the
    // same query (never across queries, never results); stream
    // threads created OUTSIDE any rep (the warm pass) carry no tag
    // and fall back to wall-clock overlap — tagged-exact where
    // possible, never losing coverage.
    val repTagKey = "graft.bench.rep"
    val jobLog = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tag = Option(j.properties).flatMap(p =>
          Option(p.getProperty(repTagKey))).getOrElse("")
        jobLog.put(j.jobId, (j.time, -1L, tag)); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobLog.computeIfPresent(j.jobId, (_, v) => (v._1, j.time, v._3)); ()
      }
    })
    // DECISION-GRADE timING: >= 3 back-to-back reps per query (the
    // SCALE.md warm-rep protocol applied to the grading record), median
    // as the headline number, min/max as the recorded spread — a single
    // timed pass swung the r15 round total +21.7% on ambient noise
    // alone, with same-tree per-query lines swinging 2.3x between runs.
    // Failures are recorded explicitly (never timed as if they ran — a
    // broken query must not look like a fast query); the first failing
    // rep stops the query's remaining reps.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val results: Map[String, Either[String, (Seq[Double], Seq[(Long, Long, String)])]] =
      SparkEntry.queries.filter(q => nameFilter(q._1)).map { case (name, fn) =>
        var err: String = null
        val times = Seq.newBuilder[Double]
        val windows = Seq.newBuilder[(Long, Long, String)]
        var r = 0
        while (r < reps && err == null) {
          val tag = s"$name#$r"
          spark.sparkContext.setLocalProperty(repTagKey, tag)
          val w0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            times += (System.nanoTime() - t0) / 1e9
            windows += ((w0, System.currentTimeMillis(), tag))
          } catch {
            case e: Throwable =>
              err = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          } finally spark.sparkContext.setLocalProperty(repTagKey, null)
          r += 1
        }
        name -> (if (err != null) Left(err)
                 else Right((times.result(), windows.result())))
      }
    Thread.sleep(700) // drain async listener delivery once, for ALL reps
    import scala.jdk.CollectionConverters._
    val allJobs = jobLog.asScala.values.toSeq
      .map { case (s, e, tag) => (s, if (e < 0) s else e, tag) }.sortBy(_._1)
    // Driver gap of one rep window = wall minus the union of job
    // intervals inside it: Catalyst analysis, AQE re-planning and
    // broadcast hash-relation builds all happen with NO job running —
    // the cost class task metrics are blind to and the class that hid
    // the r15 triangle stall. Jobs carrying this rep's tag attribute
    // EXACTLY (local-property stamp, r16 task 6); untagged jobs
    // (streaming micro-batch threads) fall back to time overlap.
    def gapSec(w: (Long, Long, String)): Double = {
      val (w1, w2, tag) = w
      var cursor = w1
      var covered = 0L
      allJobs.foreach { case (js, je, jtag) =>
        val mine = if (jtag.nonEmpty) jtag == tag else je > w1 && js < w2
        if (mine && je > w1 && js < w2) {
          covered += math.max(0L, math.min(je, w2) - math.max(js, cursor))
          cursor = math.max(cursor, math.min(je, w2))
        }
      }
      math.max(0L, (w2 - w1) - covered) / 1e3
    }
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      }
    // Millisecond precision: sub-ms digits are pure noise at these
    // scales and triple the line's footprint in tail-truncated logs.
    def fmt(sec: Double): String = BigDecimal(sec)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val medians: Map[String, Double] = results.collect {
      case (k, Right((ts, _))) => k -> med(ts)
    }
    // Self-reported round-over-round regression check: compare this
    // run's medians against the prior BENCH_FULL.json (same sf only —
    // cross-fixture comparison is meaningless) BEFORE overwriting it.
    // A >20% AND >0.3 s median move lands in the record under
    // "regressed" so the attribution note has a machine-found worklist.
    val prior: Map[String, Double] = try {
      val f = new java.io.File("BENCH_FULL.json")
      if (!f.isFile) Map.empty
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(f)
        val sameSf = root.has("sf") && root.get("sf").asText == sfDir
        val qn = root.get("queries")
        if (!sameSf || qn == null) Map.empty
        else qn.properties().asScala.flatMap { e =>
          val v = e.getValue
          if (v.isNumber) Some(e.getKey -> v.asDouble)
          else if (v.has("med")) Some(e.getKey -> v.get("med").asDouble)
          else None
        }.toMap
      }
    } catch { case _: Throwable => Map.empty }
    val regressed = medians.toSeq.sortBy(_._1).flatMap { case (k, m) =>
      prior.get(k).filter(p => m > p * 1.2 && m - p > 0.3).map(p => (k, p, m))
    }
    regressed.foreach { case (k, p, m) =>
      System.err.println(f"[bench] REGRESSED >20%%: $k ${p}%.2f -> ${m}%.2f s median")
    }
    val regJson =
      if (regressed.isEmpty) ""
      else regressed.map { case (k, p, m) =>
        s""""${esc(k)}":{"prev":${fmt(p)},"med":${fmt(m)}}"""
      }.mkString(""","regressed":{""", ",", "}")
    val qs = results.toSeq.sortBy(_._1).map {
      case (k, Right((ts, ws))) =>
        s""""${esc(k)}":{"med":${fmt(med(ts))},"min":${fmt(ts.min)},""" +
          s""""max":${fmt(ts.max)},"gap":${fmt(med(ws.map(gapSec)))}}"""
      case (k, Left(err)) => s""""${esc(k)}":{"err":"${esc(err)}"}"""
    }.mkString("{", ",", "}")
    val nFailed = results.values.count(_.isLeft)
    // Headline total = sum of per-query MEDIANS: the statistic a rerun
    // reproduces, not whichever single pass the scheduler happened to
    // perturb.
    val total = medians.values.sum
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,$thermal,"queries":$qs,"failed":$nFailed$regJson,"sf":"$sfDir"}"""
    // Log capture tail-truncates stdout in practice, so the full record
    // is ALSO written durably — to the env-pointed path AND to
    // BENCH_FULL.json in the working directory, where a repo checkout
    // keeps the latest full per-query map under version control even
    // when the captured stdout window cuts the line.
    val targets = Seq(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json"),
      "BENCH_FULL.json")
    targets.foreach { t =>
      try {
        val out = java.nio.file.Paths.get(t)
        if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
        System.err.println(s"[bench] full per-query record written to $out")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] could not write $t: ${e.getMessage}")
      }
    }
    // The JSON line goes LAST: nothing this process prints may follow
    // it, so a last-line / tail-window parser has the best chance of
    // seeing the complete record. The driver's capture window is ~2000
    // chars — a 167-query map is ~5KB, so a full line parses as
    // truncated garbage (BENCH_r10.json: parsed=null). When the full
    // line exceeds the window, print a COMPACT record instead: headline
    // totals plus as many of the slowest per-query entries as fit
    // (failures always included — a broken query must stay visible),
    // with a pointer to the durable full map written above.
    // 2000-char driver window minus sbt's trailing "[success] Total
    // time: ..." line (~70 chars, printed AFTER this line by the sbt
    // logger) and a safety margin for an interleaved stderr fragment.
    val tailBudget = 1800
    val printed =
      if (line.length <= tailBudget) line
      else {
        // Compact line keeps per-query values NUMERIC (the median) so
        // the driver's existing {"queries":{name:sec}} parser still
        // reads it; spread + gap live in the durable full record.
        val frags = results.toSeq.sortBy {
          case (_, Left(_)) => Double.NegativeInfinity  // failures first
          case (_, Right((ts, _))) => -med(ts)          // then slowest
        }.map {
          case (k, Right((ts, _))) => s""""${esc(k)}":${fmt(med(ts))}"""
          case (k, Left(err)) => s""""${esc(k)}":{"err":"${esc(err)}"}"""
        }
        val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"n_queries":${results.size},"failed":$nFailed,$thermal,"full":"BENCH_FULL.json","sf":"$sfDir","queries":{"""
        val sb = new StringBuilder(head)
        var first = true
        frags.foreach { f =>
          val sep = if (first) 0 else 1
          if (sb.length + sep + f.length + 2 <= tailBudget) {
            if (!first) sb.append(',')
            sb.append(f); first = false
          }
        }
        sb.append("}}").toString
      }
    println(printed)
    spark.stop()
    graft.ops.ScaleOps.deleteLocal(ckptDir)
  }
}
