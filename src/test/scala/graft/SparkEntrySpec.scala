package graft

import graft.queries.Query

/** The driver's smoke contract: `SparkEntry.entry` must run on the
  * sf0.001 slice and return rows. r15 routed the flagship through the
  * live wire-v3 endpoint and r16 added the distributed fact leg, so
  * this is no longer a pure-plan smoke — it covers server start/stop,
  * DDL, RETURNING head, COPY (driver-side for the dim, distributed
  * exactly-once for the fact), and the typed read-backs on the
  * smallest scale, exactly what the driver checks. */
class SparkEntrySpec extends SparkSpec {

  "SparkEntry.entry" should "return rows on the sf0.001 slice" in {
    val out = SparkEntry.entry(spark)
    out.count() should be > 0L
    // r16 flagship shape: the sampled fact head joined to the dim
    // read-back — every value crossed the wire on one of the two legs
    out.columns.toSeq shouldBe
      Seq("o_orderkey", "customer_id", "o_orderstatus", "c_name", "c_key")
    val rows = out.collect()
    rows.length should be <= 100 // the explicit head sample
    // the head is ordered by its unique order key
    val keys = rows.map(_.getLong(0))
    keys.toSeq shouldBe keys.sorted.toSeq
    // customer ids resolved against the dim's dense wire-assigned ids
    all(rows.map(_.getInt(1))) should be >= 1
  }

  "SparkEntry.registry" should "reject two records with the same name" in {
    val q = Query("q_twice", (s, _) => s.emptyDataFrame, "SELECT 1")
    the[IllegalArgumentException] thrownBy
      SparkEntry.registryOf(Seq(q, q.copy(oracleSql = "SELECT 2"))) should
      have message "requirement failed: duplicate query names: q_twice"
  }

  it should "key queries and oracleSql by the same names" in {
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
    SparkEntry.queries.size shouldBe SparkEntry.registry.size
  }

  it should "mark the listed harnesses and every stream query as gates" in {
    val listed = Set(
      "q_events_late_data", "q_dedup_compaction", "q_dedup_incremental",
      "q_dedup_exact_incremental", "q_ann_index", "q_ann_recall",
      "q_ann_recall_sampled", "q_bloom_persisted", "q_semdedup_incremental",
      "q_text_decontam_incremental", "q_epoch_prep", "q_epoch_evolution",
      "q_matview_incremental", "q_join_bucketed",
      "q_scd2_upsert_bucketed", "q_snapshot_diff_bucketed",
      "q_text_lm_persisted", "q_dsir_persisted", "q_text_lm_incremental",
      "q_text_search_persisted", "q_text_search_incremental",
      "q_corpus_overlap_persisted", "q_corpus_drift_incremental")
    val streams = SparkEntry.registry.map(_.name).filter(_.contains("stream")).toSet
    (listed.size, streams.size) shouldBe ((23, 12))
    SparkEntry.registry.filter(_.gate).map(_.name).toSet shouldBe listed ++ streams
  }
}
