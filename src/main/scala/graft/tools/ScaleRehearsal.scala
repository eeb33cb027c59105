package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal (round-4/5 verdict item 5): generate a 10× "sf1"
  * slice from sf0.1 and measure the engine's scaling on the linear
  * (banded / sampled / partial-agg) query paths — turning the
  * 100 TB design arguments into a measured data point (docs/SCALE.md).
  *
  * Generation, 10 shifted copies per table under target/sf1:
  *  - documents: copy c remaps doc_id += c·10⁷ and ROTATES the (31
  *    word) vocabulary by 7c positions — a per-copy bijection, so
  *    within-copy token/shingle structure (dedup clusters, frequency
  *    shape, the stopword ratios the corpus-prep filter keys on, the
  *    global vocabulary the heavy-hitter gate keys on) matches
  *    sf0.1's, while cross-copy texts differ everywhere (identical
  *    copies would inflate every near-dup cluster 10× and measure a
  *    data artifact, not the engine; token SUFFIXING would 10× the
  *    vocabulary and zero the stopword ratios — tried, rejected).
  *  - embeddings: copy c remaps vec_id += c·10⁷ and adds a
  *    deterministic per-(id, dim) perturbation of ~1e-3 (xxhash64
  *    derived) — keeps the corpus geometry while avoiding 20 000
  *    exact-duplicate vectors whose cos = 1 ties would again measure
  *    an artifact.
  *
  * Measured queries are the expensive LINEAR-PATH ones from the bench
  * (corpus_prep, bm25, tfidf, minhash dedup, IVF/LSH ANN, heavy
  * hitters, simhash signatures); the brute-force recall gates are
  * quadratic BY DESIGN (labeled oracle baselines) and are excluded —
  * their scale story is the sampled gate's cost shape, not wall clock.
  */
object ScaleRehearsal {

  private val Copies = 10
  private val Offset = 10000000L

  def genSf1(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .filter(col("t") =!= "").distinct().as[String].collect().sorted
    val idx = vocab.zipWithIndex.toMap
    val bcV = spark.sparkContext.broadcast((vocab, idx))
    val docCopies = (0 until Copies).map { c =>
      docs.select(col("doc_id"), col("text"), col("lang"), col("source"))
        .as[(Long, String, String, String)]
        .map { case (id, text, lang, source) =>
          val (v, ix) = bcV.value
          val mapped =
            if (text == null) null
            else text.trim.split("\\s+").map { t =>
              ix.get(t.toLowerCase) match {
                case Some(i) => v((i + 7 * c) % v.length)
                case None => t
              }
            }.mkString(" ")
          (id + c * Offset, mapped, lang, source,
            if (mapped == null) 0L else mapped.length.toLong)
        }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionAll _)
    docCopies
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val embCopies = (0 until Copies).map { c =>
      emb.select(
        (col("vec_id") + lit(c * Offset)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + (pmod(xxhash64(col("vec_id") + lit(c * Offset), i), lit(2001)) - 1000)
            .cast("double") / lit(1000000.0d)).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)
    embCopies.repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    // orders (r11, for the SCD2 rehearsals): keys offset per copy, so
    // data AND key count grow 10× while per-key history depth stays
    // sf0.1's — the linear regime a warehouse grows in
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    (0 until Copies).map { c =>
      ord.select(
        (col("o_orderkey") + lit(c * Offset)).as("o_orderkey"),
        (col("o_custkey") + lit(c * Offset)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    // lineitem (round-13, for the zone-map/z-order rehearsals): keys
    // offset per copy, dates/measures unchanged — file-pruning
    // selectivity per zone column stays sf0.1's while data grows 10×
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    (0 until Copies).map { c =>
      li.select(
        (col("l_orderkey") + lit(c * Offset)).as("l_orderkey"),
        (col("l_partkey") + lit(c * Offset)).as("l_partkey"),
        // suppkey offset like custkey: the interaction graph grows 10×
        // in nodes AND edges at sf0.1's per-node degree (the graph
        // rehearsal regime)
        (col("l_suppkey") + lit(c * Offset)).as("l_suppkey"),
        col("l_shipdate"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    // events (round-13, for the as-of rehearsals): ids/users offset per
    // copy — 10× the users at sf0.1's per-user event depth, the linear
    // regime a clickstream grows in; timestamps unchanged so the asof
    // window sort depth per key stays constant
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    (0 until Copies).map { c =>
      ev.select(
        (col("event_id") + lit(c * Offset)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(c * Offset)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // customer (round-15, for the wire-protocol rehearsals): keys
    // offset per copy; names get a per-copy suffix so hash keys stay
    // UNIQUE (ref_medallion's DDL declares c_key UNIQUE — identical
    // names across copies would violate it, an artifact not a finding)
    // while the segment dimension stays 5 values at any scale
    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
    (0 until Copies).map { c =>
      cust.select(
        (col("c_custkey") + lit(c * Offset)).as("c_custkey"),
        (if (c == 0) col("c_name")
         else concat(col("c_name"), lit(s"#$c"))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.reduce(_ unionAll _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
  }

  /** Measured paths: driver-query names for the text/dedup pipelines;
    * the ANN OPERATORS are timed directly (their driver queries are now
    * recall GATES whose dominant cost is the sampled exact truth —
    * sample·corpus by design, the documented gate shape — which would
    * mask the production scan being rehearsed). */
  private val measured: Seq[(String, (SparkSession, String) => Long)] =
    Seq("q_corpus_prep", "q_text_bm25", "q_text_tfidf", "q_dedup_minhash",
      "q_dedup_spans", "q_dedup_excise",
      "q_text_heavy_hitters", "q_dedup_simhash", "q_text_exact_dedup",
      "q_embed_dimstats", "q_text_pii", "q_text_decontam", "q_mix_sample",
      "q_curation_pipeline", "q_source_cap", "q_pack_sequences",
      "q_pack_shards", "q_bloom_membership", "q_bloom_persisted",
      "q_sample_reservoir", "q_shard_manifest",
      "q_epoch_prep", "q_mix_repeats",
      // round-10 additions (documents/embeddings, linear paths)
      "q_mix_temperature", "q_select_budget", "q_bloom_exact",
      "q_semdedup", "q_semdedup_incremental", "q_text_vocab",
      // round-11 additions: per-key SCD2 windows + the incremental
      // fold (orders; one hash exchange each) and the bigram-LM scorer
      // (documents; one occurrence-stream pass after the collapse)
      "q_scd2_history", "q_scd2_apply", "q_text_lm_score",
      // round-13 additions: the K-bounded LM census cut, DSIR's two
      // model builds + weight kernel, the seeded span-corruption
      // sweep, and the real-codec decode/phash pipelines (all
      // documents-table linear paths)
      "q_text_lm_score_topk", "q_dsir_weights", "q_text_span_corrupt",
      "q_multimodal_decode", "q_multimodal_phash",
      // round-13 additions (second batch): the trained quality
      // scorer (census + driver GD + scan-fused scoring) and BPE
      // encode (census + capped driver merge loop + broadcast replay)
      "q_text_quality_trained", "q_text_bpe_tokens",
      // round-13 (third batch): tokenizer-integrated packing (word
      // census + length join + 16-byte pack exchange) and greedy
      // k-center (k scans + TakeOrdered argmax per round)
      "q_pack_bpe", "q_embed_kcenter",
      // round-13 (fourth batch): zone-map write+serve (one clustering
      // exchange + pruned scan), z-order (adds the interleave
      // Project), OR/hybrid retrieval (candidate-sized), MMR (k
      // scans), curriculum (LM score + doc-count window), JSONL
      // round-trip (write + schema-first scan)
      "q_zonemap_scan", "q_zonemap_incremental", "q_zorder_scan",
      "q_text_search_or", "q_text_search_hybrid", "q_embed_mmr",
      "q_text_curriculum", "q_io_jsonl_roundtrip",
      // round-13 (fifth batch): NPMI board (census + marginals +
      // TakeOrdered) and the PRF lexical→vector cascade
      "q_text_collocations", "q_text_search_semantic",
      // round-13 (sixth batch): corpus-comparison statistics (bottom-k
      // sketch + PSI — distinct-agg / bucket-census exchanges), the
      // cluster-atomic split (the minhash graph + one pair-sized
      // audit join), the data card (one partial agg), and hard-negative
      // mining (anchor-count × corpus, the bruteForceTopK shape)
      "q_corpus_overlap", "q_corpus_drift", "q_split_leakage",
      "q_data_card", "q_embed_hard_negatives", "q_text_novelty",
      "q_text_search_phrase",
      // round-13 (seventh batch): the WAV decode pipeline (partition-
      // local codec work, zero shuffle), ORC round-trip (write + scan),
      // quarantine routing (one PERMISSIVE scan, both routes), and the
      // one-scan expectation suite
      "q_multimodal_audio", "q_io_orc_roundtrip", "q_io_jsonl_quarantine",
      "q_dq_expectations",
      // round-13 (eighth batch): the merge_asof variants (one key
      // exchange, window fills), the Fisher diagnostic (one posexplode
      // scan + (label, dim) partial agg), and phrase BM25's twin gates
      "q_join_asof_forward", "q_join_asof_nearest", "q_embed_fisher",
      // round-13 (ninth batch): HITS (per half-step one broadcast
      // score join + partial agg over the persisted edges), the real
      // resize/frame kernels (partition-local codec work), novelty's
      // retrieval twin gates
      "q_graph_hits", "q_multimodal_resize", "q_multimodal_audio_frames",
      // round-14: the weighted-census count-min gate (one tokenize
      // pass + vocab-sized sketch fold — was two full token scans),
      // and the exact distributed global rank (range partition +
      // offset census — the GlobalRank primitive)
      "q_text_countmin", "q_rank_global",
      // round-15 (VERDICT r14 task 2): the ntile variant (same frozen
      // range partitioning + one driver-side tile arithmetic pass),
      // the wire-protocol gates — COPY bulk load at 10× rows (the
      // reference's dominant cost, BASELINE.md rows 2-10), the
      // RETURNING/SERIAL runtime miniature (dimension-sized at any
      // scale), and the flagship's full wire round trip
      "q_rank_global_ntile", "ref_pg_copy", "ref_pg_runtime",
      "ref_medallion",
      // the 8-connection distributed COPY vs the single-socket twin:
      // the scale story is the RATIO GAP between this row and
      // ref_pg_copy's (per-partition connections amortize the wire leg)
      "ref_pg_copy_distributed",
      // round-16: the staged exactly-once variant (per-attempt stage
      // tables + one-transaction publish) — the commit discipline's
      // overhead vs the at-least-once row above is the story
      "ref_pg_copy_exactly_once",
      // round-16 (second batch): the binary-format distributed COPY —
      // typed field encodings instead of text escaping; the story is
      // the serialization-cost gap vs ref_pg_copy_distributed's text
      // framing at the same connection count (different frame: orders
      // slice with timestamps/doubles, so compare RATIOS not absolutes)
      "ref_pg_copy_binary",
      // round-16 (third batch): the READ side — single-socket export
      // (both formats), the range-partitioned distributed scan, and
      // its DSv2 face; the scan pair's story is the same ratio gap the
      // COPY pair showed (per-partition connections amortize the wire)
      "ref_pg_copy_out", "ref_pg_scan_distributed", "ref_pg_dsv2_scan",
      // the DSv2 sink: the staged exactly-once discipline as Spark's
      // official commit protocol — compare to ref_pg_copy_exactly_once
      // (same discipline, hand-rolled)
      "ref_pg_dsv2_write",
      // round-16 (fourth batch): the CSV-format COPY (quote-aware
      // framing instead of text escapes — same single-socket shape as
      // ref_pg_copy, so compare that pair's ratios), and the DSv2
      // TOP-N pushdown (per-range ORDER BY…LIMIT k on the wire: the
      // per-connection payload is k rows at ANY scale, so the ratio
      // should be the protocol fixed cost, not the data growth)
      "ref_pg_copy_csv", "ref_pg_dsv2_topn",
      // the DSv2 AGGREGATE pushdown: per-range GROUP BY partials on
      // the wire — group-count rows per connection at ANY scale, so
      // like topn the ratio should be protocol fixed cost, not data
      "ref_pg_dsv2_agg",
      // round-17: filter pushdown COMPOSED with range partitioning
      // (the N-conjunction grammar) — the filter evaluates server-side
      // inside every range, so the wire payload is the SELECTIVITY
      // share of the table, not the table
      "ref_pg_dsv2_filter",
      // round-17 second batch: the prefix-LIKE pushdown (same
      // selectivity story as the IN filter row), and the STREAMING
      // source draining the table in rate-limited micro-batches —
      // its wall is micro-batch machinery + range scans, so the
      // ratio should sit in the scan family band
      "ref_pg_dsv2_like", "ref_pg_stream_source")
      .map(n => n -> ((s: SparkSession, d: String) =>
        graft.SparkEntry.queries(n)(s, d).count())) ++ Seq(
      // round-16 (VERDICT r15 task 7): the flagship's PROTOCOL-FIDELITY
      // residue alone — the dim + RETURNING head through one socket,
      // exactly r15's ref_medallion shape — so ref_medallion minus this
      // row IS the distributed fact leg's cost at each scale
      "op_medallion_dim_leg" -> ((s: SparkSession, d: String) => {
        val engine = graft.queries.RefQueries.medallionEngineDim(s, d)
        val (server, _) = graft.io.pg.PgLiteServer.start()
        try {
          val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try {
            c.query(graft.io.Sinks.createSchemaDdl("gold"))
            graft.pipeline.PgGold.writeTable(
              c, engine, "gold", "customer_dim", "id",
              unique = Seq("c_key")).count()
          } finally c.close()
        } finally server.stop()
      })) ++ Seq(
      // round-17 (VERDICT r16 task 1): the gold MAIN table at the
      // corpus size class — k-row RETURNING probe + exactly-once
      // explicit-id distributed COPY + setval continuation + fully
      // distributed signed-count read-back verification. The frame is
      // the flagship's engine dim (corpus-shaped: one row per distinct
      // customer), so ref_medallion's dim leg and this row bracket the
      // two write disciplines on the same data shape.
      "op_gold_main_distributed" -> ((s: SparkSession, d: String) => {
        val engine = graft.queries.RefQueries.medallionEngineDim(s, d)
        val (server, _) = graft.io.pg.PgLiteServer.start()
        try {
          val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try {
            c.query(graft.io.Sinks.createSchemaDdl("gold"))
            graft.pipeline.PgGold.writeMainDistributed(
              c, engine, "127.0.0.1", server.port,
              "gold", "customer_main", "id",
              unique = Seq("c_key")).count()
          } finally c.close()
        } finally server.stop()
      }),
      // round-17 (VERDICT r16 task 3): ADAPTIVE partition planning —
      // rowsPerPartition=10000 makes the census the partition driver
      // (sf0.1 customer ~15k rows → the floor of 8 holds; sf1 ~150k →
      // ~10-15 ranges: the r18 equi-depth packer closes each range at
      // ≤ 1.5× the row target, so the exact count follows the
      // keyspace's bucket layout), printed counts ARE the scaling claim
      "op_pg_scan_adaptive" -> ((s: SparkSession, d: String) => {
        val cleaned = graft.etl.Clean.clean(
            s.read.parquet(s"$d/customer.parquet"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        val (server, _) = graft.io.pg.PgLiteServer.start()
        try {
          val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try {
            c.query(graft.io.Sinks.createSchemaDdl("silver"))
            c.query(graft.io.Sinks.createTableDdl(
              cleaned.schema, "silver", "customer_adp"))
          } finally c.close()
          graft.io.pg.PgWire.copyDistributed(
            cleaned, "127.0.0.1", server.port, "silver.customer_adp", 8)
          val got = graft.io.pg.PgWire.readDistributed(
            s, "127.0.0.1", server.port, "silver.customer_adp",
            cleaned.schema, "c_custkey",
            numPartitions = 8, rowsPerPartition = 10000L)
          println(s"[scale] adaptive wire-scan partitions at $d: " +
            got.rdd.getNumPartitions)
          got.count()
        } finally server.stop()
      }),
      // round-18 (VERDICT r17 task 1): the WRITE-side mirror — the
      // distributed COPY's connection count follows the frame's row
      // census toward rowsPerConnection instead of a fixed 8 (sf0.1
      // ~15k rows → the floor of 8; sf1 ~150k → 15 connections), and
      // the printed counts ARE the scaling claim. Exactly-once path,
      // so the stage grammar is exercised at the scaled fan-out too.
      "op_pg_copy_adaptive" -> ((s: SparkSession, d: String) => {
        // .repartition(32) models the upstream a corpus-shaped frame
        // actually has (a join/agg stage at shuffle parallelism) — the
        // testdata's single-file parquet would otherwise arrive in 1
        // partition and the count follows the frame's own layout
        val cleaned = graft.etl.Clean.clean(
            s.read.parquet(s"$d/customer.parquet"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .repartition(32)
        val n = cleaned.count()
        val conns = graft.io.pg.PgWire.writeConnections(
          cleaned.rdd.getNumPartitions, 8, Some(n), 10000L)
        println(s"[scale] adaptive wire-COPY connections at $d: $conns")
        val (server, _) = graft.io.pg.PgLiteServer.start()
        try {
          val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try {
            c.query(graft.io.Sinks.createSchemaDdl("silver"))
            c.query(graft.io.Sinks.createTableDdl(
              cleaned.schema, "silver", "customer_wadp"))
          } finally c.close()
          graft.io.pg.PgWire.copyDistributedExactlyOnce(
            cleaned, "127.0.0.1", server.port, "silver.customer_wadp",
            rowsHint = Some(n), rowsPerConnection = 10000L)
        } finally server.stop()
      }),
      // round-18 (VERDICT r17 task 6): the DSv2 sink stages one table
      // per input partition — sized upstream by the same census, the
      // stage fan-out follows the data (printed: 8 at sf0.1 → 15 at
      // sf1) instead of whatever default partitioning arrived
      "op_pg_dsv2_write_fanout" -> ((s: SparkSession, d: String) => {
        val cleaned = graft.etl.Clean.clean(
            s.read.parquet(s"$d/customer.parquet"))
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        val n = cleaned.count()
        // the caller sizes the sink's upstream with the same census
        // rule (src = 32, a corpus-shaped stage at shuffle
        // parallelism); the DSv2 sink then stages one table per
        // arriving partition — fan-out follows the data
        val target = graft.io.pg.PgWire.writeConnections(
          32, 8, Some(n), 10000L)
        println(s"[scale] dsv2 sink stage fan-out at $d: $target")
        val (server, _) = graft.io.pg.PgLiteServer.start()
        try {
          val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try {
            c.query(graft.io.Sinks.createSchemaDdl("silver"))
            c.query(graft.io.Sinks.createTableDdl(
              cleaned.schema, "silver", "customer_fan"))
          } finally c.close()
          cleaned.repartition(target).write.format("pglite")
            .option("host", "127.0.0.1").option("port", server.port)
            .option("table", "silver.customer_fan")
            .mode("append").save()
          val back = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          back.connect()
          try back.query("SELECT count(*) FROM silver.customer_fan")
            .rows.head.head.get.toLong
          finally back.close()
        } finally server.stop()
      }),
      // round-18 (VERDICT r17 task 2): EQUI-DEPTH range boundaries on
      // an id-offset HOLLOW keyspace (every real key plus a far
      // cluster at +5·10⁸ — 99.99 % of the key span is empty, the r17
      // streaming-source incident shape). The even key-space split
      // puts every real row in range 1 and scans the rest near-empty;
      // the histogram planner prints near-even per-range row counts
      // at BOTH scales — min/max/parts are the claim.
      "op_pg_scan_equidepth" -> ((s: SparkSession, d: String) => {
        val keys = s.read.parquet(s"$d/customer.parquet")
          .select(col("c_custkey").cast("long").as("k"))
        val sparse = keys.union(
          keys.limit(100).select((col("k") + 500000000L).as("k")))
        val schema = sparse.schema
        val (server, _) = graft.io.pg.PgLiteServer.start()
        try {
          val c = new graft.io.pg.PgLiteClient("127.0.0.1", server.port)
          c.connect()
          try {
            c.query(graft.io.Sinks.createSchemaDdl("ed"))
            c.query(graft.io.Sinks.createTableDdl(schema, "ed", "t"))
          } finally c.close()
          graft.io.pg.PgWire.copyDistributed(
            sparse, "127.0.0.1", server.port, "ed.t")
          val got = graft.io.pg.PgWire.readDistributed(
            s, "127.0.0.1", server.port, "ed.t", schema, "k",
            numPartitions = 8, rowsPerPartition = 10000L)
          val sizes = got.rdd
            .mapPartitions(it => Iterator.single(it.size.toLong))
            .collect().toSeq
          println(s"[scale] equi-depth per-range rows at $d: " +
            s"min=${sizes.min} max=${sizes.max} parts=${sizes.length}")
          sizes.sum
        } finally server.stop()
      })) ++ Seq(
      // round-15: the memoized graph family COLD (first entry derives
      // the checkpointed edge list + the 6-round pagerank iterate once
      // per dir) vs WARM (second entry re-reports from the memos) —
      // the bench-vs-rehearsal gap attribution made a standing number.
      // Run cold before warm; each sums all four family gates.
      "op_graph_family_cold" -> ((s: SparkSession, d: String) =>
        Seq("q_graph_degrees", "q_graph_hits", "q_graph_pagerank",
          "q_graph_pagerank_mass")
          .map(n => graft.SparkEntry.queries(n)(s, d).count()).sum),
      "op_graph_family_warm" -> ((s: SparkSession, d: String) =>
        Seq("q_graph_degrees", "q_graph_hits", "q_graph_pagerank",
          "q_graph_pagerank_mass")
          .map(n => graft.SparkEntry.queries(n)(s, d).count()).sum),
      "op_ann_ivf_top1" -> ((s: SparkSession, d: String) =>
        graft.ops.Similarity.ivfAnnTop1(
          s.read.parquet(s"$d/embeddings.parquet")).count()),
      // the DEPLOYMENT configurations: index parameters grow with the
      // corpus so per-query candidate work stays ~constant — fixed
      // parameters are n²-shaped and only look sub-linear while the
      // absolute numbers are small (Similarity.{ivfListsFor,
      // lshPlanesFor} scaladoc)
      "op_ann_ivf_scaledk" -> ((s: SparkSession, d: String) => {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        val k = graft.ops.Similarity.ivfListsFor(e.count())
        graft.ops.Similarity.ivfAnnTop1(e, k = k, nprobe = 4).count()
      }),
      "op_ann_lsh_scaled" -> ((s: SparkSession, d: String) => {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        val planes = graft.ops.Similarity.lshPlanesFor(e.count())
        graft.ops.Similarity.lshAnnTopK(e, k = 3, planes = planes, tables = 8).count()
      }),
      "op_ann_lsh_topk" -> ((s: SparkSession, d: String) =>
        graft.ops.Similarity.lshAnnTopK(
          s.read.parquet(s"$d/embeddings.parquet"), k = 3).count()),
      "op_simhash_pairs" -> ((s: SparkSession, d: String) =>
        graft.ops.Dedup.simhashNearDups(
          s.read.parquet(s"$d/documents.parquet"), "text", "doc_id",
          maxHamming = 3).count()),
      // the epoch shuffle itself: full-corpus deal-out into the sharded
      // training layout (one hash exchange + in-task sort + hive write)
      "op_shard_write" -> ((s: SparkSession, d: String) => {
        val out = "target/rehearse_shards"
        graft.ops.Sharding.writeShards(
          s.read.parquet(s"$d/documents.parquet"), "doc_id", 2, out)
        s.read.parquet(out).count()
      }),
      // skew-join rehearsal: a deliberately Zipf-hot key (half the
      // corpus on key 0, the rest spread over 10⁴ cold keys — 10× the
      // hot rows at 10× data). The census threshold scales ∝ corpus,
      // so the broadcast hot set stays EXACTLY {key 0} at both scales
      // (asserted) and only detected keys pay the ×saltBuckets small-
      // side explosion — the classic 100× failure mode, measured
      "op_skew_join" -> ((s: SparkSession, d: String) => {
        val big = s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit(0L))
              .otherwise(pmod(col("doc_id"), lit(10000L))).as("k"))
        val n = big.count()
        val small = big.select(col("k")).distinct()
          .withColumn("payload", md5(col("k").cast("string")))
        val thr = math.max(100L, n / 100)
        val hot = graft.operators.SkewJoin.hotKeyCensus(big, "k", thr)
          .collect().map(_.getLong(0)).toSet
        require(hot == Set(0L),
          s"hot census should detect exactly key 0, got $hot")
        graft.operators.SkewJoin
          .adaptiveSaltedJoin(big, small, "k", saltBuckets = 32,
            hotThreshold = thr)
          .count()
      }),
      // diameter-independent components rehearsal: ONE chain over every
      // doc id (diameter = corpus size — the topology the propagation
      // path provably cannot converge on) at 10× the length; prints
      // the measured star rounds so the O(log²) growth claim is a
      // number, not a citation
      "op_components_stars" -> ((s: SparkSession, d: String) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
        val chain = s.read.parquet(s"$d/documents.parquet")
          .select(col("doc_id"))
          .withColumn("nxt", lead(col("doc_id"), 1).over(w))
          .filter(col("nxt").isNotNull)
        val (labels, rounds) = graft.ops.Dedup
          .connectedComponentsStarsWithRounds(chain, "doc_id", "nxt", 50)
        val nComp = labels.select(col("comp")).distinct().count()
        require(nComp == 1L, s"chain must collapse to one component, got $nComp")
        println(s"[scale] stars rounds on full-corpus chain: $rounds")
        labels.count()
      }))

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    // 32 shuffle partitions whatever the core count: docs/SCALE.md's
    // sf0.1-vs-sf1 table was measured at local[32], and its ratios only
    // reproduce at that partitioning
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    val sf1Dir = "target/sf1"
    if (!new java.io.File(s"$sf1Dir/embeddings.parquet").exists() ||
        !new java.io.File(s"$sf1Dir/orders.parquet").exists() ||
        !new java.io.File(s"$sf1Dir/lineitem.parquet").exists() ||
        !new java.io.File(s"$sf1Dir/events.parquet").exists() ||
        !new java.io.File(s"$sf1Dir/customer.parquet").exists()) {
      println("[scale] generating sf1 slice under target/sf1 ...")
      genSf1(spark, "/root/testdata/sf0.1", sf1Dir)
    }
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    println(f"${"query"}%-22s ${"sf0.1_s"}%9s ${"sf1_s"}%9s ${"ratio"}%7s ${"rows0.1"}%9s ${"rows1"}%9s")
    // same isolation hygiene as graft.Bench: without the cache-drop +
    // GC nudge between measurements, retained checkpoint/broadcast
    // blocks from earlier paths surface as 3-5× spikes in later ones
    // (measured: identical ivfAnnTop1 calls swung 6.4 → 29.7 s)
    def isolate(): Unit = { spark.catalog.clearCache(); System.gc() }
    measured.filter { case (name, _) => graft.Session.selected(name) }
      .foreach { case (name, run) =>
      // warm each path once at the small scale so JIT/codegen noise
      // doesn't land in the sf0.1 numbers
      run(spark, "/root/testdata/sf0.01")
      isolate()
      val (t01, n01) = time(run(spark, "/root/testdata/sf0.1"))
      isolate()
      val (t1, n1) = time(run(spark, sf1Dir))
      isolate()
      println(f"$name%-22s $t01%9.2f $t1%9.2f ${t1 / t01}%7.2f $n01%9d $n1%9d")
    }
    spark.stop()
  }
}
