package graft.streaming

import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The stream's 8-partition state layout must never leak into the
  * caller's session: dailyTallyOnce runs on a cloned session, so a batch
  * query planned WHILE the stream is live keeps the caller's
  * shuffle-partition setting. */
class StreamingIsolationSpec extends SparkSpec {

  test("batch query concurrent with the stream keeps its shuffle partitions") {
    val sfDir = "/root/testdata/sf0.001"
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // Run the stream on another thread; while it is live, plan and run a
    // batch aggregate on the caller's session and inspect its exchange.
    val streamResult = scala.concurrent.Future {
      StreamingTallies.dailyTallyOnce(spark, sfDir)
    }(scala.concurrent.ExecutionContext.global)
    // AQE wraps the exchange until execution; turn it off for the probe
    // query only, so the static plan exposes its ShuffleExchange.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val parts = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val batch = graft.Tables.events(spark, sfDir).groupBy("event_type").count()
      assert(batch.count() > 0)
      batch.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeLike => s.numPartitions
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(parts.nonEmpty && parts.forall(_ == before.toInt),
      s"batch shuffle partitions $parts != session setting $before")
    val settled = scala.concurrent.Await.result(streamResult,
      scala.concurrent.duration.Duration(120, "s"))
    assert(settled.count() > 0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
      "stream mutated the caller session conf")
  }

  test("extraConf gets a private session; the shared stream session is never mutated") {
    val shared = Gate.session(spark)
    // empty extraConf → the shared session itself (the memoized fast path)
    assert(Gate.session(spark, extraConf = Map.empty) eq shared)
    // non-empty extraConf → a DIFFERENT session carrying the conf, while
    // the shared session's contract conf is untouched (the r15 bug:
    // ingestOnce applied RocksDbStateSpec's provider conf to the shared
    // session and silently switched every later gate in the JVM).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val priv = Gate.session(spark, extraConf =
      Map(key -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
          "spark.sql.shuffle.partitions" -> "5"))
    assert(priv ne shared)
    assert(priv.conf.get("spark.sql.shuffle.partitions") == "5")
    assert(shared.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(shared.conf.getOption(key).isEmpty ||
      shared.conf.get(key) != priv.conf.get(key),
      "extraConf leaked onto the shared stream session")
    // and the shared session still passes its own drift contract
    assert(Gate.session(spark) eq shared)
  }

  test("child stream session holds no field reference to its base session") {
    // The WeakHashMap memo in Gate is leak-free ONLY under this
    // invariant (value→key would pin entries forever); assertNoBaseRef
    // runs at construction, and this pins it against Spark upgrades
    // changing newSession()'s internals.
    Gate.assertNoBaseRef(spark, spark.newSession())
  }
}
