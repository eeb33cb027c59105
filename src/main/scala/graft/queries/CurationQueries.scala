package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Membership, Packing, Sampling, Sharding, Text}
import graft.tools.Ckpt._

/** Corpus-curation operators beyond the round-6 surface: per-source
  * caps, sequence packing, and Bloom-filter membership — each with a
  * driver-visible oracle (exact SQL where expressible, the invariant-
  * gate pattern where the artifact is partitioning-shaped).
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** Per-source cap — keep the top 10 docs per source under
    * (n_chars desc, doc_id asc) via the bounded-heap aggregate
    * ([[graft.ops.Sampling.capPerStratum]]). EXACT value oracle: the
    * kept set is definitionally `row_number() OVER (PARTITION BY
    * source ORDER BY n_chars DESC, doc_id) <= 10`, so every kept row
    * hash-matches DuckDB — a full value check of the aggregate's
    * top-N semantics, not just an invariant. */
  def sourceCapQ(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerStratum(docs(s, dir), "source", "doc_id", "n_chars", 10)
      .orderBy(col("source"), col("n_chars").desc, col("doc_id"))

  /** Sequence-packing gate — pack every document's token count into
    * 256-token bins over 32 deterministic buckets
    * ([[graft.ops.Packing.packNextFit]]) and emit the checkable
    * invariants as ONE row: exact totals (hash-checked against
    * DuckDB's sum — proves token conservation), every doc assigned
    * exactly once, no multi-doc bin over budget, oversized docs
    * isolated, and the next-fit bin-count bound. The oracle REPLAYS
    * the next-fit recurrence with a recursive CTE and derives every
    * boolean from its own reconstruction — independent verification,
    * not echoed literals (and the per-bin manifest of the same sweep
    * is value-matched label-for-label by q_pack_shards). `buckets` is
    * the parallelism knob — 32 here and in the layout gate, scaled ∝
    * corpus/task budget at 100 TB; it also bounds the oracle's
    * recursion depth (= largest bucket). */
  def packQ(s: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val buckets = 32
    // checkpoint the tokenized (id, tok) frame ONCE: it feeds both the
    // independent input-totals aggregate and the packing sweep, so the
    // regex tokenize runs a single pass over the corpus
    val dd = docs(s, dir).select(col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("toks"))
      .checkpointLinted()
    // consumed by three aggregates below — the doc-level frame is
    // (id, tok, bucket, bin) at 32 bytes/doc, checkpointed once
    val packed = Packing.packNextFit(dd, "doc_id", "toks", budget, buckets)
      .checkpointLinted()
    val input = dd.agg(
      count(lit(1)).as("c_in"), sum(col("toks")).as("t_in"))
    val perDoc = packed.agg(
      count(lit(1)).as("assigned"),
      countDistinct(col("doc_id")).as("assigned_distinct"),
      sum(col("toks")).as("t_packed"))
    val perBin = packed
      .groupBy(col("bin_id"))
      .agg(sum(col("toks")).as("bt"), count(lit(1)).as("bn"),
        max(col("toks")).as("bmax"))
      .agg(
        count(lit(1)).as("bins_used"),
        sum(when(col("bn") > 1 && col("bt") > budget, 1L).otherwise(0L))
          .as("overfull"),
        coalesce(expr(s"bool_and(CASE WHEN bmax > $budget THEN bn = 1 END)"),
          lit(true)).as("oversized_iso"))
    input.crossJoin(perDoc).crossJoin(perBin)
      .select(
        col("c_in").as("docs_total"),
        col("t_in").as("tokens_total"),
        (col("assigned") === col("c_in") &&
          col("assigned_distinct") === col("c_in") &&
          col("t_packed") === col("t_in")).as("all_assigned_once"),
        col("overfull").as("overfull_bins"),
        col("oversized_iso").as("oversized_isolated"),
        (col("bins_used") <=
          lit(2L) * expr(s"(t_in + ${budget - 1}) DIV $budget") +
          lit(2L * buckets)).as("bins_bounded"))
  }

  /** Tokenizer-integrated packing — the composition a batch-assembly
    * pipeline actually runs: train BPE on the corpus
    * ([[graft.ops.Bpe.train]]), measure every document in TRAINED
    * tokens (word occurrences joined to the broadcast-replay per-word
    * lengths — the corpus is scanned, the merge replay runs on
    * distinct words), then next-fit-pack those lengths
    * ([[graft.ops.Packing.packNextFit]], 320-token budget, 32
    * buckets) and emit the per-bin manifest. EXACT end-to-end oracle:
    * DuckDB re-derives the merges (K unrolled rounds), recomputes
    * every document's token count, and replays the next-fit
    * recurrence with a recursive CTE — tokenizer drift, length drift,
    * and assignment drift each break the hash. Scale shape: the two
    * corpus-scale stages are the word census and the doc-length join;
    * packing moves 16-byte (id, tok) pairs only. */
  def packBpeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val budget = 320L
    val buckets = 32
    val d = docs(s, dir)
    val merges = graft.ops.Bpe.train(d)
    val bc = s.sparkContext.broadcast(merges)
    val wl = graft.ops.Bpe.wordCensus(d).as[(String, Long)]
      .map { case (w, _) =>
        (w, graft.ops.Bpe.applyMerges(w, bc.value).length.toLong) }
      .toDF("word", "n_tok")
    val dl = d
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("word"))
      .where(col("word") =!= "")
      .join(wl, "word")
      .groupBy("doc_id").agg(sum("n_tok").as("tok"))
    Packing.packNextFit(dl, "doc_id", "tok", budget, buckets)
      .groupBy(col("bucket"),
        col("bin_id").bitwiseAND(lit(0xFFFFFFFFL)).as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tok_sum"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("bucket"), col("bin"))
  }

  /** Cross-epoch SCHEMA-EVOLUTION gate ([[graft.io.Evolve]]): epoch 0
    * (even doc ids) is written WITHOUT a token-count column; epoch 1
    * (odd ids) adds it — the layout a long-lived pipeline accretes.
    * The merged read must union the schemas, surface epoch-0's missing
    * column as null, and backfill it with the reference's -1 sentinel;
    * the per-(epoch, lang) aggregate of the result is EXACT-value
    * checked against DuckDB reconstructing the same evolution directly
    * from `documents` — a wrong merge, a dropped epoch, or a backfill
    * that misses rows all shift a count or a sum. The staged layout is
    * re-written per run (two codegen'd projections of the gate corpus;
    * hive `epoch=N` dirs so epoch-pruned reads skip old files). */
  def epochEvolutionQ(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = s"target/tmp-evolve-$slug"
    graft.io.Fs.deleteRecursive(s, root)
    val d = docs(s, dir)
    d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"))
      .write.parquet(s"$root/epoch=0")
    d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"),
        size(Text.tokens(col("text"))).cast("long").as("tok"))
      .write.parquet(s"$root/epoch=1")
    graft.io.Evolve.readMerged(s, root, Map("tok" -> -1L))
      .groupBy(col("epoch").cast("int").as("epoch"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("tok")).as("tok_sum"))
      .orderBy(col("epoch"), col("lang"))
  }

  /** Temperature-flattened mixture gate (α = 1/2, [[graft.ops
    * .Sampling.temperatureRepeats]]): per-language repeat plan where
    * stratum weights are ⌊√cnt⌋ instead of hand-written targets —
    * rare languages repeat, the dominant one thins, total budget
    * preserved within quantization. EXACT value oracle: DuckDB
    * recomputes the weights (IEEE sqrt is correctly rounded, so
    * ⌊√n⌋ agrees bit-for-bit), replays the integer base/tail plan in
    * HUGEINT, and re-derives every doc's md5-threshold extra copy —
    * the same independent-reconstruction contract as q_mix_repeats. */
  def temperatureQ(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureRepeats(docs(s, dir), "lang", "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_copies")).as("n_copies_total"),
        sum(when(col("n_copies") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("lang"))

  /** Token-budget selection gate ([[graft.ops.Sampling
    * .selectByBudget]]): score every document by integer stopword
    * density (10000·n_stop DIV n_tokens — a crude-but-deterministic
    * quality proxy), then keep the best-scored prefix whose running
    * token sum fits a budget of ¼ of the corpus' tokens. The kept set
    * and every `cum_tokens` value are EXACT-value checked: DuckDB
    * re-scores, re-ranks, and replays the running sum with a plain
    * ORDER BY-only window — which is precisely the single-task shape
    * the Spark side's distributed two-pass prefix sum exists to
    * avoid, so the oracle doubles as a semantics proof of the
    * distributed decomposition. */
  def selectBudgetQ(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("tok"),
        Text.stopwordCount(col("text"), Text.langMarkers("en")).cast("long")
          .as("n_stop"))
      .withColumn("score", expr("(10000 * n_stop) DIV tok"))
      .select(col("doc_id"), col("score"), col("tok"))
    val budget = scored.agg(sum(col("tok")).as("t")).head().getLong(0) / 4
    Sampling.selectByBudget(scored, "doc_id", "score", "tok", budget)
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Bloom-membership gate — build the filter over every doc_id
    * ([[graft.ops.Membership.bloomBits]], m ≥ 16n bits so expected
    * FPR ≈ 0.14 % at k = 5), then probe three ways: every present key
    * through the broadcast kernel and through the distributed join
    * kernel (both MUST all-hit — the zero-false-negative guarantee,
    * and a two-kernel agreement check), and a disjoint absent key set
    * (doc_id + 10^12) through broadcast with the false-positive rate
    * bounded at 2 % (> 10× the expected rate — margin, not luck; the
    * rate is DETERMINISTIC for a fixed corpus because the filter is
    * an abelian bit_or). */
  def bloomQ(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val d = docs(s, dir).select(col("doc_id"))
    val n = d.count()
    var m = 1L << 17
    while (m < 16L * n) m <<= 1
    // m/64 rows — metadata-sized; checkpointed so the two probe paths
    // and the collect don't re-run the build aggregation
    val bitsDf = Membership.bloomBits(d, "doc_id", m, k).checkpointLinted()
    val bits = Membership.collectBits(bitsDf, m)
    val presentBc = Membership.probeBroadcast(d, "doc_id", bits, m, k)
      .agg(count(lit(1)).as("n_probes"),
        expr("bool_and(bloom_hit)").as("ok"))
      .select(lit("present_bc").as("side"), col("n_probes"), col("ok"))
    val presentJoin = Membership.probeJoin(d, "doc_id", bitsDf, m, k)
      .agg(count(lit(1)).as("n_probes"),
        expr("bool_and(bloom_hit)").as("ok"))
      .select(lit("present_join").as("side"), col("n_probes"), col("ok"))
    val absentBc = Membership.probeBroadcast(
        d.select((col("doc_id") + lit(1000000000000L)).as("doc_id")),
        "doc_id", bits, m, k)
      .agg(count(lit(1)).as("n_probes"),
        (sum(when(col("bloom_hit"), 1L).otherwise(0L)).cast("double") <=
          lit(0.02) * count(lit(1)).cast("double")).as("ok"))
      .select(lit("absent_bc").as("side"), col("n_probes"), col("ok"))
    absentBc.unionByName(presentBc).unionByName(presentJoin)
      .orderBy(col("side"))
  }

  /** EXACT-VALUE Bloom gate (round-10: upgrades the membership oracle
    * from invariant booleans to independent reconstruction). The
    * production draw (xxhash64) cannot be replayed in DuckDB — XXH64
    * needs wrapping 64-bit multiplies that SQL integer ops refuse — so
    * this gate runs the SAME production kernels ([[Membership
    * .bloomBits]]/[[Membership.probeBroadcast]]/[[Membership
    * .probeJoin]], hash-agnostic by construction) under the md5 draw
    * both engines compute bit-identically. The oracle replays the
    * whole mechanism in SQL: md5 hex → 5-char windows → positions mod
    * m → the built position set → per-key ∀-hit — so the EXACT
    * deterministic false-positive count of the absent side (not a
    * bound) and the zero-false-negative present side are both
    * value-checked, through both probe kernels, and any corruption in
    * the word/mask bit packing shows up as a count drift. The
    * xxhash64-backed gates (q_bloom_membership / q_bloom_persisted)
    * stay as invariant checks — that hash is the 100 TB path; this
    * gate proves the machinery around it. */
  def bloomExactQ(s: SparkSession, dir: String): DataFrame = {
    val k = 5 // 5 windows × 5 hex chars = 25 ≤ 32 md5 hex chars
    val d = docs(s, dir).select(col("doc_id"))
    val n = d.count()
    // m grows with n but is CAPPED at 2^20: md5Hash positions are
    // 20-bit draws, so a larger m would leave the upper bits
    // unreachable (Membership.md5Limits would reject it). Past
    // n = 65,536 the replayed FP rate grows with n — acceptable for
    // this oracle-parity gate; the production path (xxhash64) has no
    // such cap. The oracle SQL mirrors the same capped recursion.
    var m = 1L << 17
    while (m < 16L * n && m < (1L << 20)) m <<= 1
    val bitsDf = Membership
      .bloomBits(d, "doc_id", m, k, Membership.md5Hash).checkpointLinted()
    val bits = Membership.collectBits(bitsDf, m)
    val absent = d.select((col("doc_id") + lit(1000000000000L)).as("doc_id"))
    def agg(side: String, kernel: String, probed: DataFrame): DataFrame =
      probed.agg(count(lit(1)).as("n_probes"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_hits"))
        .select(lit(side).as("side"), lit(kernel).as("kernel"),
          col("n_probes"), col("n_hits"))
    agg("absent", "bc",
        Membership.probeBroadcast(absent, "doc_id", bits, m, k, Membership.md5Hash))
      .unionByName(agg("absent", "join",
        Membership.probeJoin(absent, "doc_id", bitsDf, m, k, Membership.md5Hash)))
      .unionByName(agg("present", "bc",
        Membership.probeBroadcast(d, "doc_id", bits, m, k, Membership.md5Hash)))
      .unionByName(agg("present", "join",
        Membership.probeJoin(d, "doc_id", bitsDf, m, k, Membership.md5Hash)))
      .orderBy(col("side"), col("kernel"))
  }

  /** Packed-bin layout gate — the FULL batch-assembly path with an
    * EXACT value oracle: document bodies flow through
    * [[graft.ops.Packing.writePackedBins]] (the bodies-carried next-fit
    * sweep — ONE bucket exchange moves the corpus, no skinny-assignment
    * join-back) into a hive layout partitioned by pack bucket, and the
    * per-bin manifest is read back FROM THE WRITTEN FILES and
    * hash-checked against a DuckDB recursive-CTE replay of the
    * next-fit recurrence itself — (bucket, bin, n_docs, tok_sum,
    * min_id, max_id), every value independently reconstructed. This
    * upgrades packing from the invariant gate (q_pack_sequences) to
    * independent reconstruction, and proves the assignment survives
    * the parquet round-trip. 32 buckets keeps the oracle's recursion
    * depth (= largest bucket) shallow and is the parallelism knob the
    * packing scaladoc documents — at 100 TB, buckets scales with the
    * corpus so each bucket's pairs sort within one task's budget. */
  def packShardsQ(s: SparkSession, dir: String): DataFrame = {
    val budget = 256L
    val buckets = 32
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = s"target/tmp-packbins-$slug"
    val d = docs(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
      .withColumn("tok", size(Text.tokens(col("text"))).cast("long"))
    Packing.writePackedBins(d, "doc_id", "tok", budget, buckets, root)
    s.read.parquet(root)
      .groupBy(col("bucket").cast("int").as("bucket"),
        col("bin_id").bitwiseAND(lit(0xffffffffL)).as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("tok_sum"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("bucket"), col("bin"))
  }

  /** Persisted-Bloom epoch gate — the disk path of
    * [[graft.ops.Membership]] end-to-end, driver-visible (it was
    * spec-only through round 7). Two epoch halves are built
    * independently (even/odd doc_id), merged
    * ([[graft.ops.Membership.mergeBits]]), and persisted
    * ([[graft.ops.Membership.writeBloom]]); probes then run through
    * BOTH [[graft.ops.Membership.probeBloom]] kernels — broadcast
    * (filter fits the default threshold) and distributed join (forced
    * with `broadcastMaxBits = 0`) — for a present and an absent key
    * set. One row per check:
    *  - `merge_eq_joint`: the merged sparse frame is word-for-word
    *    identical to a joint single-pass build — the abelian-bit_or
    *    epoch-fold claim, checked on the exact frames that hit disk;
    *  - `present_bc` / `present_join`: every present key hits through
    *    the persisted filter in both kernels (zero false negatives
    *    survive the parquet round-trip) AND each persisted verdict
    *    equals the in-memory kernel's verdict per key;
    *  - `absent_bc` / `absent_join`: both kernels agree with the
    *    in-memory verdicts per key (same bits ⇒ same deterministic
    *    false-positive pattern) and the FP rate stays ≤ 2 %.
    * The filter is metadata-sized (m/64 words); probes are the same
    * zero-shuffle / skinny-join shapes the in-memory gate audits, plus
    * one parquet scan of the bits. */
  def bloomPersistedQ(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val root = s"target/tmp-bloom-$slug"
    graft.io.Fs.deleteRecursive(s, root)
    val d = docs(s, dir).select(col("doc_id"))
    val n = d.count()
    var m = 1L << 17
    while (m < 16L * n) m <<= 1
    // the merged (two-half) and joint builds are independent eager
    // cuts over the same scan — overlap them (guide §2.6)
    val builds = graft.tools.Par.run(2)(Seq(
      () => Membership.mergeBits(
          Membership.bloomBits(d.filter(pmod(col("doc_id"), lit(2)) === 0),
            "doc_id", m, k),
          Membership.bloomBits(d.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", m, k))
        .checkpointLinted(),
      () => Membership.bloomBits(d, "doc_id", m, k).checkpointLinted()))
    val (merged, joint) = (builds.head, builds(1))
    val mergeEq = merged.withColumnRenamed("bits", "mb")
      .join(joint.withColumnRenamed("bits", "jb"), Seq("word"), "full_outer")
      .agg(coalesce(
        expr("bool_and(mb IS NOT NULL AND jb IS NOT NULL AND mb = jb)"),
        lit(true)).as("ok"))
      .select(lit("merge_eq_joint").as("side"), lit(n).as("n_probes"),
        col("ok"))
    Membership.writeBloom(merged, m, k, s"$root/idx")
    val bits = Membership.collectBits(joint, m)
    val absent = d.select((col("doc_id") + lit(1000000000000L)).as("doc_id"))
    // persisted verdicts through one kernel vs the in-memory broadcast
    // twin, folded to (all-agree, hit-count) per probe set
    def sideRow(name: String, probes: DataFrame, bcMax: Long,
        okOf: (Column, Column) => Column): DataFrame =
      Membership.probeBloom(probes, "doc_id", s"$root/idx",
          broadcastMaxBits = bcMax)
        .withColumnRenamed("bloom_hit", "p_hit")
        .join(Membership.probeBroadcast(probes, "doc_id", bits, m, k)
          .withColumnRenamed("bloom_hit", "m_hit"), Seq("doc_id"))
        .agg(count(lit(1)).as("n_probes"),
          expr("bool_and(p_hit = m_hit)").as("agree"),
          sum(when(col("p_hit"), 1L).otherwise(0L)).as("hits"))
        .select(lit(name).as("side"), col("n_probes"),
          (col("agree") && okOf(col("hits"), col("n_probes"))).as("ok"))
    val rows = Seq(
      sideRow("present_bc", d, 1L << 28, (h, np) => h === np),
      sideRow("present_join", d, 0L, (h, np) => h === np),
      sideRow("absent_bc", absent, 1L << 28,
        (h, np) => h.cast("double") <= lit(0.02) * np.cast("double")),
      sideRow("absent_join", absent, 0L,
        (h, np) => h.cast("double") <= lit(0.02) * np.cast("double")))
    rows.reduce(_.unionByName(_)).unionByName(mergeEq).orderBy(col("side"))
  }

  /** Per-stratum deterministic uniform sample — 16 docs per source by
    * the md5-rank rule ([[graft.ops.Sampling.uniformPerStratum]]).
    * EXACT value oracle: the kept set is `row_number()` over the
    * md5-prefix DESC ordering, so every kept (source, doc_id) row
    * hash-matches DuckDB. */
  def reservoirQ(s: SparkSession, dir: String): DataFrame =
    Sampling.uniformPerStratum(docs(s, dir), "source", "doc_id", 16)
      .orderBy(col("source"), col("doc_id"))

  /** Epoch-shuffle shard manifest — 256 md5-prefix shards
    * ([[graft.ops.Sharding.manifest]]), per-shard count / size / id
    * range. EXACT value oracle (plain SQL group-by); the physical
    * writer twin ([[graft.ops.Sharding.writeShards]]) is spec-gated
    * (layout, pruning, global-permutation order). */
  def shardManifestQ(s: SparkSession, dir: String): DataFrame =
    Sharding.manifest(docs(s, dir), "doc_id", "n_chars", 2)
      .orderBy(col("shard"))

  /** Epoch-preparation composition — the layout half of the training
    * pipeline, end-to-end and fully value-oracled: token-count quality
    * gate (5 ≤ n_words ≤ 10000) → per-source cap (top 50 by n_words,
    * [[graft.ops.Sampling.capPerStratum]]) → 16-shard epoch manifest
    * ([[graft.ops.Sharding.manifest]]). Composition cost = the cap's
    * single pairs exchange + the manifest's shard-count aggregate; the
    * quality gate and shard key are scan-fused projections, so
    * documents never shuffle — the same per-stage shapes the operators
    * gate individually, proven to survive composition. */
  def epochPrepQ(s: SparkSession, dir: String): DataFrame = {
    val t = docs(s, dir).select(col("source"), col("doc_id"),
      size(Text.tokens(col("text"))).cast("long").as("n_words"))
    val q = t.filter(col("n_words").between(5, 10000))
    val c = Sampling.capPerStratum(q, "source", "doc_id", "n_words", 50)
    Sharding.manifest(c, "doc_id", "n_words", 1).orderBy(col("shard"))
  }

  /** Streamed-shard epoch gate, driver-visible (the streamed layout
    * was spec-only through round 7): the corpus flows through the REAL
    * streaming ingest ([[graft.streaming.DocStreams.shardIngest]] over
    * a file-stream source with maxFilesPerTrigger=1, so multiple
    * micro-batches land as `batch=<id>` partitions), the accumulated
    * epochs are compacted ([[graft.ops.Sharding.compactShards]] —
    * including the type-inference pin that keeps hex shard names
    * stable), and the gate emits the per-shard manifest FROM THE
    * COMPACTED FILES with an EXACT DuckDB oracle (shard key and ranges
    * are pure md5 SQL), plus `stream_match`: per shard, the compacted
    * streamed layout holds exactly the (doc_id, shard_order) rows of a
    * one-shot [[graft.ops.Sharding.writeShards]] of the same corpus —
    * how the stream batched the data leaves no trace. Byte-ORDER
    * identity of the files is additionally pinned in
    * ShardingSpec/DocStreamsSpec. */
  def shardStreamQ(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val base = s"target/tmp-shard-stream-$slug"
    graft.io.Fs.deleteRecursive(s, base)
    val hexChars = 1
    val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
    d.write.parquet(s"$base/in")
    val stream = s.readStream.schema(d.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    val q = graft.streaming.DocStreams
      .shardIngest(stream, "doc_id", hexChars, s"$base/layout")
    try q.processAllAvailable() finally q.stop()
    Sharding.compactShards(s, "doc_id", s"$base/layout")
    Sharding.writeShards(d, "doc_id", hexChars, s"$base/oneshot")
    val streamed = s.read.parquet(s"$base/layout").drop("batch")
      .select(col("shard").cast("string").as("shard"), col("doc_id"),
        col("n_chars"), col("shard_order"))
    val oneshot = s.read.parquet(s"$base/oneshot")
      .select(col("shard").cast("string").as("shard"), col("doc_id"),
        col("shard_order").as("order_one"))
    streamed
      .join(oneshot, Seq("shard", "doc_id"), "full_outer")
      .groupBy(col("shard"))
      .agg(count(col("n_chars")).as("n_docs"),
        sum(col("n_chars")).as("size_sum"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"),
        expr("bool_and(n_chars IS NOT NULL AND order_one IS NOT NULL " +
          "AND shard_order = order_one)").as("stream_match"))
      .orderBy(col("shard"))
  }

  /** Epoch repeat-factor plan — per-language upsampling
    * ([[graft.ops.Sampling.epochRepeats]]): de at 2/5 (base-2 repeats),
    * en at 1/10 (pure fractional tail), zh at 3/5 (base 3), es/fr
    * dropped. EXACT value oracle: base/tail arithmetic and the md5
    * tail membership are both reproduced in DuckDB integer SQL, so
    * per-stratum copy totals hash-match — every branch (multi-epoch,
    * fractional-only, dropped) exercised on real data. */
  def repeatsQ(s: SparkSession, dir: String): DataFrame = {
    val planned = Sampling.epochRepeats(docs(s, dir), "lang", "doc_id",
      Map("de" -> (2, 5), "en" -> (1, 10), "zh" -> (3, 5)))
    planned.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_copies")).as("n_copies_total"),
        sum(when(col("n_copies") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("lang"))
  }

  /** The DATA CARD every published corpus ships (Datasheets for
    * Datasets, Gebru et al. 2021): one profile row per (lang, source)
    * slice — document count, character/token volume, length envelope,
    * distinct-content count and the duplicate rate it implies. All
    * integer aggregates except the final IEEE division, so DuckDB
    * value-matches every cell. One partial-agg exchange over slice
    * rows; the corpus never shuffles. */
  def dataCardQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy(col("lang"), col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      sum(Text.tokenCount(col("text")).cast("long")).as("sum_tokens"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      countDistinct(md5(col("text"))).as("n_unique"))
    .withColumn("dup_rate",
      (col("n_docs") - col("n_unique")).cast("double") /
        col("n_docs").cast("double"))
    .orderBy(col("lang"), col("source"))

  val queries: Seq[Query] = Seq(
    // plain integer replay; the only double is one IEEE division
    Query("q_data_card", dataCardQ,
      """SELECT lang, source, count(1) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\s+')))
             AS BIGINT) AS sum_tokens,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           count(DISTINCT md5(text)) AS n_unique,
           CAST(count(1) - count(DISTINCT md5(text)) AS DOUBLE) /
             CAST(count(1) AS DOUBLE) AS dup_rate
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2"""),
    Query("q_mix_repeats", repeatsQ,
      """WITH w(lang, num, den) AS (
           VALUES ('de', 2, 5), ('en', 1, 10), ('zh', 3, 5)),
         c AS (SELECT lang, count(1) AS cnt FROM documents GROUP BY 1),
         tot AS (SELECT count(1) AS n FROM documents),
         plan AS (
           SELECT c.lang, c.cnt, w.num, w.den,
             (CAST(w.num AS HUGEINT) * n) // (CAST(w.den AS HUGEINT) * cnt)
               AS base,
             ((CAST(w.num AS HUGEINT) * n -
               ((CAST(w.num AS HUGEINT) * n) //
                (CAST(w.den AS HUGEINT) * cnt)) *
               (CAST(w.den AS HUGEINT) * cnt)) * 65536) //
             (CAST(w.den AS HUGEINT) * cnt) AS tail
           FROM c JOIN w USING (lang), tot),
         kb AS (
           SELECT lang, cnt, base,
             CASE WHEN tail >= 65536 THEN 'g'
                  ELSE printf('%04x', CAST(tail AS INT)) END AS tail_below
           FROM plan),
         per_doc AS (
           SELECT d.lang,
             k.base + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                                < k.tail_below THEN 1 ELSE 0 END AS n_copies
           FROM documents d JOIN kb k USING (lang))
         SELECT lang, count(1) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_copies_total,
           CAST(sum(CASE WHEN n_copies = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
         FROM per_doc
         GROUP BY 1
         ORDER BY lang"""),
    Query("q_epoch_evolution", epochEvolutionQ,
      """WITH e0 AS (
           SELECT 0 AS epoch, lang, CAST(NULL AS BIGINT) AS tok
           FROM documents WHERE doc_id % 2 = 0),
         e1 AS (
           SELECT 1 AS epoch, lang,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS BIGINT) AS tok
           FROM documents WHERE doc_id % 2 = 1),
         u AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1)
         SELECT epoch, lang, count(1) AS n,
           CAST(sum(coalesce(tok, -1)) AS BIGINT) AS tok_sum
         FROM u GROUP BY 1, 2 ORDER BY epoch, lang""", gate = true),
    Query("q_mix_temperature", temperatureQ,
      """WITH c AS (SELECT lang, count(1) AS cnt FROM documents GROUP BY 1),
         w AS (SELECT lang, cnt, CAST(floor(sqrt(cnt)) AS BIGINT) AS wt
               FROM c),
         sw AS (SELECT sum(wt) AS den FROM w),
         tot AS (SELECT count(1) AS n FROM documents),
         plan AS (
           SELECT w.lang, w.cnt, w.wt,
             (CAST(w.wt AS HUGEINT) * n) // (CAST(den AS HUGEINT) * cnt)
               AS base,
             ((CAST(w.wt AS HUGEINT) * n -
               ((CAST(w.wt AS HUGEINT) * n) //
                (CAST(den AS HUGEINT) * cnt)) *
               (CAST(den AS HUGEINT) * cnt)) * 65536) //
             (CAST(den AS HUGEINT) * cnt) AS tail
           FROM w, sw, tot),
         kb AS (
           SELECT lang, base,
             CASE WHEN tail >= 65536 THEN 'g'
                  ELSE printf('%04x', CAST(tail AS INT)) END AS tail_below
           FROM plan),
         per_doc AS (
           SELECT d.lang,
             k.base + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                                < k.tail_below THEN 1 ELSE 0 END AS n_copies
           FROM documents d JOIN kb k USING (lang))
         SELECT lang, count(1) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_copies_total,
           CAST(sum(CASE WHEN n_copies = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero
         FROM per_doc
         GROUP BY 1
         ORDER BY lang"""),
    Query("q_select_budget", selectBudgetQ,
      """WITH m AS (
           SELECT doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS BIGINT) AS tok,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|data|table)\b')) AS BIGINT) AS n_stop
           FROM documents),
         sc AS (SELECT doc_id, (10000 * n_stop) // tok AS score, tok FROM m),
         b AS (SELECT sum(tok) // 4 AS budget FROM m),
         o AS (
           SELECT doc_id, score, tok,
             CAST(sum(tok) OVER (ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
           FROM sc)
         SELECT doc_id, score, tok, cum_tokens FROM o, b
         WHERE cum_tokens <= budget
         ORDER BY score DESC, doc_id"""),
    Query("q_source_cap", sourceCapQ,
      """SELECT source, doc_id, n_chars FROM (
           SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents)
         WHERE rn <= 10
         ORDER BY source, n_chars DESC, doc_id"""),
    Query("q_pack_sequences", packQ,
      """WITH toks AS (
           SELECT CAST(doc_id % 32 AS INT) AS bucket, doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS BIGINT) AS tok
           FROM documents),
         t AS (
           SELECT bucket, doc_id, tok,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY tok DESC, doc_id) AS rn
           FROM toks),
         s AS NOT MATERIALIZED (
           WITH RECURSIVE rec AS (
             SELECT bucket, rn, doc_id, tok,
               CAST(0 AS BIGINT) AS bin, tok AS fill
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.bucket, t.rn, t.doc_id, t.tok,
               CASE WHEN rec.fill > 0 AND rec.fill + t.tok > 256
                    THEN rec.bin + 1 ELSE rec.bin END,
               CASE WHEN rec.fill > 0 AND rec.fill + t.tok > 256
                    THEN t.tok ELSE rec.fill + t.tok END
             FROM rec JOIN t ON t.bucket = rec.bucket AND t.rn = rec.rn + 1)
           SELECT * FROM rec),
         bins AS (
           SELECT bucket, bin, sum(tok) AS bt, count(1) AS bn,
             max(tok) AS bmax
           FROM s GROUP BY 1, 2),
         inp AS (
           SELECT count(1) AS c_in, CAST(sum(tok) AS BIGINT) AS t_in
           FROM toks),
         asg AS (
           SELECT count(1) AS assigned,
             count(DISTINCT doc_id) AS assigned_distinct,
             CAST(sum(tok) AS BIGINT) AS t_packed
           FROM s),
         pb AS (
           SELECT count(1) AS bins_used,
             CAST(coalesce(sum(CASE WHEN bn > 1 AND bt > 256
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS overfull,
             coalesce(bool_and(CASE WHEN bmax > 256 THEN bn = 1 END), true)
               AS oversized_iso
           FROM bins)
         SELECT c_in AS docs_total, t_in AS tokens_total,
           (assigned = c_in AND assigned_distinct = c_in AND
            t_packed = t_in) AS all_assigned_once,
           overfull AS overfull_bins,
           oversized_iso AS oversized_isolated,
           (bins_used <= 2 * ((t_in + 255) // 256) + 64) AS bins_bounded
         FROM inp, asg, pb"""),
    // full-stack composition oracle: BPE merges re-derived (K
    // unrolled rounds from graft.ops.Bpe), per-doc token counts
    // recomputed, next-fit recurrence replayed recursively
    Query("q_pack_bpe", packBpeQ,
      (graft.ops.Bpe.docLensOraclePrefix("documents") +
        s""",
         ptoks AS (
           SELECT CAST(doc_id % 32 AS INT) AS bucket, doc_id, tok FROM dl),
         pt AS (
           SELECT bucket, doc_id, tok,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY tok DESC, doc_id) AS rn
           FROM ptoks),
         psx AS NOT MATERIALIZED (
           WITH RECURSIVE rec AS (
             SELECT bucket, rn, doc_id, tok,
               CAST(0 AS BIGINT) AS bin, tok AS fill
             FROM pt WHERE rn = 1
             UNION ALL
             SELECT pt.bucket, pt.rn, pt.doc_id, pt.tok,
               CASE WHEN rec.fill > 0 AND rec.fill + pt.tok > 320
                    THEN rec.bin + 1 ELSE rec.bin END,
               CASE WHEN rec.fill > 0 AND rec.fill + pt.tok > 320
                    THEN pt.tok ELSE rec.fill + pt.tok END
             FROM rec JOIN pt ON pt.bucket = rec.bucket AND pt.rn = rec.rn + 1)
           SELECT * FROM rec)
         SELECT bucket, bin, count(1) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tok_sum,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM psx
         GROUP BY 1, 2
         ORDER BY bucket, bin""")),
    Query("q_pack_shards", packShardsQ,
      """WITH toks AS (
           SELECT CAST(doc_id % 32 AS INT) AS bucket, doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
               AS BIGINT) AS tok
           FROM documents),
         t AS (
           SELECT bucket, doc_id, tok,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY tok DESC, doc_id) AS rn
           FROM toks),
         s AS NOT MATERIALIZED (
           WITH RECURSIVE rec AS (
             SELECT bucket, rn, doc_id, tok,
               CAST(0 AS BIGINT) AS bin, tok AS fill
             FROM t WHERE rn = 1
             UNION ALL
             SELECT t.bucket, t.rn, t.doc_id, t.tok,
               CASE WHEN rec.fill > 0 AND rec.fill + t.tok > 256
                    THEN rec.bin + 1 ELSE rec.bin END,
               CASE WHEN rec.fill > 0 AND rec.fill + t.tok > 256
                    THEN t.tok ELSE rec.fill + t.tok END
             FROM rec JOIN t ON t.bucket = rec.bucket AND t.rn = rec.rn + 1)
           SELECT * FROM rec)
         SELECT bucket, bin, count(1) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS tok_sum,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM s
         GROUP BY 1, 2
         ORDER BY bucket, bin"""),
    // q_bloom_membership / q_bloom_persisted keep invariant-gate
    // oracles (documented no, round-10): their xxhash64 positions are
    // not reproducible in DuckDB — XXH64 needs wrapping 64-bit
    // multiplies, and DuckDB integer arithmetic errors on overflow —
    // so the compensating exact-value check is q_bloom_exact below,
    // which replays the identical kernels under an md5 draw.
    Query("q_bloom_membership", bloomQ,
      """WITH n AS (SELECT count(1) AS c FROM documents)
         SELECT 'absent_bc' AS side, c AS n_probes, true AS ok FROM n
         UNION ALL SELECT 'present_bc', c, true FROM n
         UNION ALL SELECT 'present_join', c, true FROM n
         ORDER BY side"""),
    Query("q_bloom_exact", bloomExactQ,
      """WITH nn AS (SELECT count(1) AS c FROM documents),
         mrec AS (
           WITH RECURSIVE mm(m) AS (
             SELECT CAST(131072 AS BIGINT)
             UNION ALL SELECT m * 2 FROM mm, nn
             WHERE m < 16 * c AND m < 1048576)
           SELECT max(m) AS m FROM mm),
         pk AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
                FROM documents),
         ak AS (SELECT doc_id + 1000000000000 AS doc_id,
                  md5(CAST(doc_id + 1000000000000 AS VARCHAR)) AS h
                FROM documents),
         pw AS (SELECT doc_id, substr(h, 1 + 5 * i, 5) AS s
                FROM pk, range(0, 5) t(i)),
         aw AS (SELECT doc_id, substr(h, 1 + 5 * i, 5) AS s
                FROM ak, range(0, 5) t(i)),
         ppos AS (
           SELECT doc_id,
             ((instr('0123456789abcdef', substr(s, 1, 1)) - 1) * 65536
            + (instr('0123456789abcdef', substr(s, 2, 1)) - 1) * 4096
            + (instr('0123456789abcdef', substr(s, 3, 1)) - 1) * 256
            + (instr('0123456789abcdef', substr(s, 4, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(s, 5, 1)) - 1)) % m AS pos
           FROM pw, mrec),
         apos AS (
           SELECT doc_id,
             ((instr('0123456789abcdef', substr(s, 1, 1)) - 1) * 65536
            + (instr('0123456789abcdef', substr(s, 2, 1)) - 1) * 4096
            + (instr('0123456789abcdef', substr(s, 3, 1)) - 1) * 256
            + (instr('0123456789abcdef', substr(s, 4, 1)) - 1) * 16
            + (instr('0123456789abcdef', substr(s, 5, 1)) - 1)) % m AS pos
           FROM aw, mrec),
         built AS (SELECT DISTINCT pos FROM ppos),
         phit AS (
           SELECT p.doc_id, bool_and(b.pos IS NOT NULL) AS hit
           FROM ppos p LEFT JOIN built b USING (pos) GROUP BY 1),
         ahit AS (
           SELECT a.doc_id, bool_and(b.pos IS NOT NULL) AS hit
           FROM apos a LEFT JOIN built b USING (pos) GROUP BY 1),
         pagg AS (SELECT count(1) AS n_probes,
                    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_hits FROM phit),
         aagg AS (SELECT count(1) AS n_probes,
                    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_hits FROM ahit)
         SELECT 'absent' AS side, 'bc' AS kernel, n_probes, n_hits FROM aagg
         UNION ALL SELECT 'absent', 'join', n_probes, n_hits FROM aagg
         UNION ALL SELECT 'present', 'bc', n_probes, n_hits FROM pagg
         UNION ALL SELECT 'present', 'join', n_probes, n_hits FROM pagg
         ORDER BY side, kernel"""),
    Query("q_bloom_persisted", bloomPersistedQ,
      """WITH n AS (SELECT count(1) AS c FROM documents)
         SELECT 'absent_bc' AS side, c AS n_probes, true AS ok FROM n
         UNION ALL SELECT 'absent_join', c, true FROM n
         UNION ALL SELECT 'merge_eq_joint', c, true FROM n
         UNION ALL SELECT 'present_bc', c, true FROM n
         UNION ALL SELECT 'present_join', c, true FROM n
         ORDER BY side""", gate = true),
    Query("q_sample_reservoir", reservoirQ,
      """SELECT source, doc_id FROM (
           SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) DESC,
                        doc_id) AS rn
           FROM documents)
         WHERE rn <= 16
         ORDER BY source, doc_id"""),
    Query("q_shard_manifest", shardManifestQ,
      """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS shard,
           count(1) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS size_sum,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents
         GROUP BY 1
         ORDER BY shard"""),
    Query("q_shard_stream", shardStreamQ,
      """SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
           count(1) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS size_sum,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           true AS stream_match
         FROM documents
         GROUP BY 1
         ORDER BY shard""", gate = true),
    Query("q_epoch_prep", epochPrepQ,
      """WITH t AS (
           SELECT source, doc_id,
             len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_words
           FROM documents),
         q AS (SELECT * FROM t WHERE n_words BETWEEN 5 AND 10000),
         c AS (
           SELECT source, doc_id, n_words FROM (
             SELECT source, doc_id, n_words,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_words DESC, doc_id) AS rn
             FROM q)
           WHERE rn <= 50)
         SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
           count(1) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS size_sum,
           min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM c
         GROUP BY 1
         ORDER BY shard""", gate = true)
  )
}
