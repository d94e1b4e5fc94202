package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming embedding gate — the cosine family's streamed front,
  * completing the probe symmetry (MinHash: st_lsh_probe, SimHash:
  * st_simhash_probe, ER keys: st_er_probe): arriving vectors bucket
  * per row through the SAME packed sign-LSH keys the persisted state
  * was built with (Dedup.cosineBucketKeys — a narrow posexplode over
  * one nested plane literal, zero aggregation state), probe the
  * bucketed state stream-static, then verify cosine IN-STREAM against
  * a second static join (the state vectors keyed by id) — like the
  * SimHash gate, no batch verify tail, because everything verification
  * needs is static. */
object CosineProbe {

  private val embSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"

  /** One AvailableNow drain of the increment (vec_id % 3 = 2) against
    * `stateTable` ((vec_id, tb_key) bucketed on tb_key) with state
    * vectors from `stateVecs`. Returns settled DISTINCT verified pairs
    * (state_id, inc_id, cosine >= threshold). `bucketCap` is the
    * budget-path fixed cap (bounded per-drain cost is the gate's
    * semantics). Verified pairs land in the gate's [[GateLineage]] sink
    * (keyed on embeddings.parquet, the state table's generation, the
    * threshold and the cap; `stateVecs` must derive from the same
    * embeddings file). A re-run on an unchanged generation commits no
    * micro-batch. */
  def verifiedOnce(spark: SparkSession, sfDir: String, stateTable: String,
                   stateVecs: DataFrame, threshold: Double,
                   bucketCap: Option[Int] = None): DataFrame = {
    import graft.similarity.Similarity
    GateLineage.drainDistinct(spark, graft.ops.PersistedState.StCosineProbe, sfDir,
      stateTable, s"v1;t=$threshold;cap=${bucketCap.getOrElse("none")}",
      org.apache.spark.sql.types.StructType.fromDDL(
        "state_id BIGINT, inc_id BIGINT, cosine DOUBLE")) { ss =>
      // NO spreadNarrow here (measured negative, r19): the per-row plane
      // dots are cheap next to the redistribute's embedding shuffle plus
      // the extra exchange into the state join (warm drain 1.5 -> 2.2 s).
      val inc = Gate.file(ss, sfDir, "embeddings.parquet", embSchema)
        .filter(col("vec_id") % 3 === 2)
        .filter(Similarity.l2norm(col("embedding")) > 0)
      // the stream row carries its own embedding THROUGH the key
      // explosion (a self-join back to the stream would be a
      // stream-stream join); keys from the ONE shared builder
      // (Dedup.cosineTbKeys — same defaults, per-table seeds and packing
      // as the persisted state), so the probe cannot drift from the
      // state's sketch parameters.
      val keyed = inc.select(col("vec_id").as("inc_id"),
          col("embedding").as("_v2"),
          Similarity.l2norm(col("embedding")).as("_n2"),
          explode(graft.dedup.Dedup.cosineTbKeys(col("embedding"))).as("tb_key"))
        .select(col("inc_id"), col("tb_key"), col("_v2"), col("_n2"))

      val st = graft.ops.ScaleOps.capBuckets(ss.table(stateTable)
        .select(col("vec_id").as("state_id"), col("tb_key")), "tb_key", bucketCap)
      val sv = stateVecs.select(col("vec_id").as("state_id"),
        col("embedding").as("_v1"), Similarity.l2norm(col("embedding")).as("_n1"))

      keyed
        .join(st, Seq("tb_key"))
        .join(sv, Seq("state_id"))
        .select(col("state_id"), col("inc_id"),
          round(Similarity.dot(col("_v1"), col("_v2")) / (col("_n1") * col("_n2")), 4)
            .as("cosine"))
        .filter(col("cosine") >= threshold)
    }
  }
}
