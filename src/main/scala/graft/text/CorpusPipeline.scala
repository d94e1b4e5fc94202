package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** End-to-end corpus cleaning — the composed pipeline a training-data
  * deployment actually runs over raw documents, built entirely from the
  * operators in this library:
  *
  *   1. quality gate   (Gopher-style score >= minQuality)
  *   2. language gate  (drop unidentifiable docs)
  *   3. exact dedup    (content digest, min-id survivor)
  *   4. near-dup removal (MinHash+LSH + exact Jaccard verify; greedy
  *      min-id survivor: every id that appears as the larger member of
  *      a >= threshold pair is dropped)
  *
  * Scale shape: two narrow filters, one digest-keyed aggregate + semi
  * join, then the bucketed MinHash pipeline — no stage is all-pairs, no
  * stage collects. The greedy survivor rule is deterministic (pairs are
  * ordered id1 < id2), so the surviving set is reproducible — and,
  * since every sketch hashes with md5, recomputable by an independent
  * SQL engine.
  */
object CorpusPipeline {

  /** Per-source quality CALIBRATION: a raw quality score is not
    * comparable across sources (a forum dump and an encyclopedia dump
    * have different score distributions, so one global threshold
    * over-prunes one and under-prunes the other). `percent_rank` of the
    * score WITHIN each source turns the threshold into "keep the top
    * X% of every source" — the per-source quantile gate large corpus
    * builds apply before global mixing. Ties break by id, so the rank
    * (and any downstream gate) is deterministic and oracle-
    * reproducible. One window keyed by source; nothing global. */
  def calibratedQuality(docs: DataFrame, idCol: String, textCol: String,
                        srcCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(srcCol))
      .orderBy(TextFunctions.qualityScoreFast(col(textCol)), col(idCol))
    docs.select(col(idCol), col(srcCol),
      TextFunctions.qualityScoreFast(col(textCol)).as("quality"),
      round(percent_rank().over(w), 6).as("quality_pctl"))
  }

  def cleanCorpus(df: DataFrame, idCol: String, textCol: String,
                  minQuality: Double = 0.6667, dropUnidentified: Boolean = true,
                  jaccardThreshold: Double = 0.5, shingleN: Int = 2): DataFrame = {
    val langGate: Column =
      if (dropUnidentified) TextFunctions.langIdFast(col(textCol)) =!= "und" else lit(true)
    // The gate expressions (marker-count language ID, quality ratios)
    // are the most expensive narrow work in the pipeline, and the gated
    // set feeds three plan branches (digest aggregate, shingle pipeline,
    // final survivor join) — persist it once. At cluster scale this is
    // the parquet-checkpoint seam, same as the shingle set.
    val gated = graft.ops.CacheOnce.swap("corpus-clean-gated",
      df.filter(TextFunctions.qualityScoreFast(col(textCol)) >= minQuality)
        .filter(langGate))
    val groups = Dedup.exactGroups(gated, idCol, textCol)
    val exactKept = gated.join(
      groups.select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")
    val pairs = Dedup.minhashNearDupsMd5(exactKept, idCol, textCol,
      numHashes = 32, rowsPerBand = 4, shingleN = shingleN,
      threshold = jaccardThreshold)
    exactKept.join(pairs.select(col("id2").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Quality-aware near-duplicate survivor selection: where
    * [[cleanCorpus]] keeps the min-id member of each near-dup pair,
    * this keeps the HIGHER-QUALITY member (Gopher-style quality score;
    * ties fall back to the min-id rule) — the policy production corpus
    * dedup actually wants, since duplicate clusters often mix a clean
    * original with mangled re-crawls. Returns surviving (id, quality)
    * rows. Same scale shape as the pipeline it extends: the only
    * additions are two broadcast-friendly joins of the pair set against
    * a narrow (id, quality) projection. */
  def keepBestByQuality(df: DataFrame, idCol: String, textCol: String,
                        jaccardThreshold: Double = 0.5, shingleN: Int = 2,
                        precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val q = df.select(col(idCol),
      TextFunctions.qualityScoreFast(col(textCol)).as("quality"))
    // `precomputedPairs`: callers that already hold the verified pair
    // set (the registry's shared truncated minhash-md5 feed) pass it in
    // instead of re-deriving the whole chain — the cosineTopKExcluding
    // precedent.
    val pairs = precomputedPairs.getOrElse(
      Dedup.minhashNearDupsMd5(df, idCol, textCol,
        numHashes = 32, rowsPerBand = 4, shingleN = shingleN,
        threshold = jaccardThreshold))
    val losers = pairs
      .join(q.select(col(idCol).as("id1"), col("quality").as("_q1")), Seq("id1"))
      .join(q.select(col(idCol).as("id2"), col("quality").as("_q2")), Seq("id2"))
      .select(when(col("_q1") < col("_q2"), col("id1"))
        .when(col("_q2") < col("_q1"), col("id2"))
        .otherwise(greatest(col("id1"), col("id2"))).as(idCol))
      .distinct()
    q.join(losers, Seq(idCol), "left_anti")
  }
}
