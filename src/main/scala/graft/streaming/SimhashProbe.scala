package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming SimHash front gate — st_lsh_probe's shape over the Manku
  * key state of dd_incremental_simhash, with the family's structural
  * twist carried all the way into the stream: the 64-bit signature IS
  * the verification payload and rides in the state rows, so the gate
  * emits VERIFIED near-dup pairs, not candidates — Hamming <= maxHamming
  * filters inside the stateless stream-static join and there is no
  * downstream batch verify stage at all (the MinHash gate must hand its
  * collisions to an exact-Jaccard batch tail).
  *
  * The signer ([[graft.dedup.Dedup.simhashMd5]]) is the native codegen
  * SimHashMd5Packed expression — strictly per-row, one primitive loop
  * per document — so the stream carries NO aggregation state; the only
  * stateful thing is the append sink. Keys explode through the SAME
  * [[graft.dedup.Dedup.simhashMankuKeysMd5]] the persisted state was
  * built with — sketch parameters are one unit, never mixed. */
object SimhashProbe {

  /** One AvailableNow drain of the increment (doc_id % 3 = 2) against
    * `stateTable` (written by prepareSimhashState: (doc_id, sig_hi,
    * sig_lo, mkey) bucketed on mkey). Returns the settled DISTINCT
    * verified pairs (state_id, inc_id, hamming).
    *
    * `bucketCap` is the BUDGET-path fixed collision cap (st_lsh_probe's
    * policy: bounded per-drain cost IS the gate's semantics) — state
    * Manku buckets over the cap are dropped once on the static side,
    * before the stream ever joins. Verified pairs land in the gate's
    * [[GateLineage]] sink (keyed on documents.parquet, the state table's
    * generation, `maxHamming`, `blocks` and the cap). A re-run on an
    * unchanged generation commits no micro-batch. */
  def verifiedOnce(spark: SparkSession, sfDir: String, stateTable: String,
                   maxHamming: Int = 3, blocks: Int = 6,
                   bucketCap: Option[Int] = None): DataFrame = {
    GateLineage.drainDistinct(spark, graft.ops.PersistedState.StSimhashProbe, sfDir,
      stateTable, s"v1;k=$maxHamming;b=$blocks;cap=${bucketCap.getOrElse("none")}",
      org.apache.spark.sql.types.StructType.fromDDL(
        "state_id BIGINT, inc_id BIGINT, hamming BIGINT")) { ss =>
      // NO spreadNarrow here (measured negative, r19): the native one-pass
      // SimHashMd5Packed signer is cheap per row, and the redistribute's
      // text shuffle + extra exchange into the state join cost more than
      // the single-task signer it relieved (warm drain 1.8 -> 2.2-2.4 s).
      val sigs = graft.dedup.Dedup.simhashMd5(
        Gate.documents(ss, sfDir).filter(col("doc_id") % 3 === 2),
        "doc_id", "text")
      graft.dedup.Dedup
        .simhashMankuKeysMd5(sigs, "doc_id", maxHamming, blocks)
        .select(col("doc_id").as("inc_id"), col("sig_hi").as("h2"),
          col("sig_lo").as("l2"), col("mkey"))
        .join(graft.ops.ScaleOps.capBuckets(ss.table(stateTable)
          .select(col("doc_id").as("state_id"), col("sig_hi").as("h1"),
            col("sig_lo").as("l1"), col("mkey")), "mkey", bucketCap), Seq("mkey"))
        .select(col("state_id"), col("inc_id"),
          graft.dedup.Dedup.hammingHiLo(col("h1"), col("l1"),
            col("h2"), col("l2")).as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }
  }
}
