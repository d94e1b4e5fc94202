package graft.ops

import java.nio.file.{Files, Path}
import graft.SparkSpec

/** Every persisted-state family keeps the name and freshness key it
  * had before the descriptor existed: a changed name or fingerprint
  * would rebuild every warehouse's states and move them out from
  * under [[StateGc]]'s keep rule. The expected values are spelled out
  * here as literals, from the source files' own `len:mtime`, over a
  * temp copy of the fixture vendored with the benchmark. */
class PersistedStateSpec extends SparkSpec {

  private def copyFixture(): Path = {
    val src = java.nio.file.Paths.get("perfbench/data/sf0.01")
    val dst = SparkSpec.tempDir("graft-ps-sf")
    val ls = Files.list(src)
    try ls.iterator().forEachRemaining { f =>
      if (Files.isRegularFile(f)) Files.copy(f, dst.resolve(f.getFileName))
    } finally ls.close()
    dst
  }

  test("every descriptor's name and fingerprint equal the pinned literals") {
    val root = copyFixture()
    try {
      val d = root.toString
      val tag = d.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
      def fp(file: String): String = {
        val f = root.resolve(file).toFile
        s"${f.length}:${f.lastModified}"
      }
      val docs = fp("documents.parquet")
      val emb = fp("embeddings.parquet")
      val events = fp("events.parquet")
      val cust = fp("customer.parquet")
      val orders = fp("orders.parquet")
      val lineitem = fp("lineitem.parquet")
      val nation = fp("nation.parquet")
      val expected: Map[String, String] = Map(
        "graft_dd_state_" -> docs,
        "graft_km_state_" -> emb,
        "graft_cc_state_" -> docs,
        "graft_dd_lshstate_" -> docs,
        "graft_dd_simhashstate_" -> docs,
        "graft_dd_contamstate_" -> s"$docs|v2",
        "graft_dd_contambloom_" -> s"$docs|v2",
        "graft_dd_cosinestate_" -> emb,
        "graft_dq_profcnt_" -> docs,
        "graft_dq_profregs_" -> docs,
        "graft_pg_edges_" -> docs,
        "graft_pg_pairs_" -> docs,
        "graft_pg_ranks_" -> docs,
        "graft_pg_tris_" -> docs,
        "graft_st_cc_capped_" -> docs,
        "graft_st_cc_cands_" -> docs,
        "graft_ivm_tally_" -> events,
        "graft_ivm_metrics_" -> events,
        "graft_ivm_users_" -> events,
        "graft_ivm_bottomk_" -> events,
        "graft_ivm_hll_" -> events,
        "graft_ivm_quant_" -> events,
        "graft_ivm_joinagg_" -> s"$orders|$lineitem",
        "graft_ivm_scd2_" -> s"$orders|$cust:synthoff=1e12",
        "graft_er_keys_" -> s"$cust|v2",
        "graft_er_cc_" -> cust,
        "graft_er_cc_full_" -> cust,
        "graft_er_surv_" -> cust,
        "graft_b_orders_" -> orders,
        "graft_b_lineitem_" -> lineitem,
        "graft_p_events_" -> events,
        "graft_s_events_" -> events,
        "graft_z_events_" -> events,
        "graft_h_events_" -> events,
        "graft_h3_events_" -> events,
        "graft_d_events_" -> events,
        "graft_f_events_" -> events,
        "graft_c_events_" -> events,
        "graft_sf_events_" -> events,
        "graft_stage_late_tally_" -> events,
        "graft_stage_sessions_" -> events,
        "graft_stage_bounded_dedup_" -> events,
        "graft_stage_funnel_" -> events,
        "graft_stage_sj_clicks_" -> events,
        "graft_stage_sj_purchases_" -> events,
        "graft_stage_upsert_src_" -> events,
        "graft_st_upsert_src_" -> events,
        "graft_stage_scd2_feed_" -> s"$cust:v2v3feed:v2",
        "graft_st_scd2_feed_" -> s"$cust:v2v3feed:v2",
        "graft_st_lsh_probe_" -> docs,
        "graft_st_simhash_probe_" -> docs,
        "graft_st_cosine_probe_" -> emb,
        "graft_st_er_probe_" -> cust,
        "graft_st_file_sink_" -> events,
        "graft_st_compact_live_" -> events,
        "graft_geojson_rt_" -> events,
        "graft_geojson_mp_" -> events,
        "graft_geojson_bands_" -> nation,
        "graft_src_rt_" -> nation)
      val got = PersistedState.all.map(st => st.name(d) -> st.fingerprint(d)).toMap
      assert(PersistedState.all.map(_.family).distinct.size == PersistedState.all.size,
        "two descriptors share a family")
      assert(got == expected.map { case (p, f) => (p + tag) -> f },
        s"descriptor names/fingerprints drifted:\n" +
          (got.toSet diff expected.map { case (p, f) => (p + tag) -> f }.toSet)
            .mkString("\n"))
      val wh = PersistedState.warehouse(spark)
      PersistedState.all.foreach(st => assert(st.path(spark, d) ==
        new java.io.File(wh, st.name(d)).toString))
      // Runtime suffixes append verbatim.
      assert(PersistedState.OrdersBuckets.fingerprint(d, "|nb=32") == s"$orders|nb=32")
      assert(PersistedState.StCcCapped.fingerprint(d, "|cap=16") == s"$docs|cap=16")
      assert(PersistedState.StageLateTally.fingerprint(d,
        ":Australia/Perth:1day:4batches:v1") == s"$events:Australia/Perth:1day:4batches:v1")
    } finally ScaleOps.deleteLocal(root.toFile)
  }
}
