package graft.corpus

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.similarity.Similarity

/** The IVF candidate-set materializer must fail SAFE by default:
  * reliable checkpoint() whenever a checkpoint dir is configured (the
  * cluster deployment), localCheckpoint only as the warned single-node
  * fallback. Bench/Verify set a checkpoint dir, so the registered IVF
  * queries run the durable path — this spec pins the selection logic
  * and the end-to-end result equivalence of both paths. */
class MaterializerSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = (0L until 40L)
    .map(i => (i, Array.tabulate(8)(j => (math.sin(i * 13 + j) * 10).toFloat)))
    .toDF("vec_id", "embedding")

  test("durable materializer: local fallback without a checkpoint dir, reliable with one") {
    val d = vecs
    // The shared test session starts with no checkpoint dir (no other
    // suite sets one before this assertion orders them explicitly here).
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      assert(Similarity.materializerChoice(d) == "local")
      val local = Similarity.ivfTopK(d, "vec_id", "embedding", 3,
        numCells = 4, nprobe = 2)
      assert(local.count() > 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-spec")
    spark.sparkContext.setCheckpointDir(dir.toString)
    // The shared session keeps this checkpoint dir until it stops, so
    // the dir goes when the JVM does.
    sys.addShutdownHook(graft.ops.ScaleOps.deleteLocal(dir.toFile))
    assert(Similarity.materializerChoice(d) == "reliable")
    // checkpoint() must actually write into the configured dir.
    val ck = Similarity.durableMaterialize(d)
    assert(ck.count() == 40)
    val walk = java.nio.file.Files.walk(dir)
    val files = try walk.count() finally walk.close()
    assert(files > 1, s"reliable checkpoint left nothing under $dir")
    // End to end: the durable default yields the same top-k as an
    // explicit localCheckpoint materializer.
    val durable = Similarity.ivfTopK(d, "vec_id", "embedding", 3,
      numCells = 4, nprobe = 2)
    val localEx = Similarity.ivfTopK(d, "vec_id", "embedding", 3,
      numCells = 4, nprobe = 2, materialize = _.localCheckpoint(false))
    assert(durable.except(localEx).count() == 0 && localEx.except(durable).count() == 0)
  }
}
