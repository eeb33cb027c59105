package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tools.Ckpt._

/** Document deduplication for training-data pipelines (build brief):
  * exact (hash-groupBy), MinHash + LSH banding, SimHash, and exact
  * n-gram Jaccard verification.
  *
  * Scale design:
  *  - Exact dedup is a single hash aggregate on sha256(text) — map-side
  *    partial, one shuffle of 16-byte keys, never of the documents.
  *  - MinHash signatures are computed with ONE explode + ONE groupBy:
  *    the shingle→doc stream shuffles (doc_id, 64 longs), not text.
  *  - LSH banding shuffles (band, bandHash) pairs; candidate pairs are
  *    generated per-bucket (bucket sizes are bounded by near-dup cluster
  *    size, not corpus size), then verified with exact Jaccard on the
  *    candidates only — the classic way the O(n²) pair space is avoided
  *    at 100 TB.
  *  - All hash functions are Spark's codegen'd `xxhash64` with distinct
  *    integer salts — deterministic across runs and cluster layouts.
  */
object Dedup {

  /** Exact-duplicate groups: sha256 over normalized text. */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("text_hash", sha2(lower(trim(col(textCol))), 256))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, shingles) pairs, shingles distinct 64-bit HASHES via the
    * native [[graft.functions.WordShingleHashes]] expression — one
    * compiled, allocation-free loop per row. Every consumer (minhash,
    * banding, the shingle self-join, exact-Jaccard verify) treats
    * shingles as opaque set elements, so hashing at the source shrinks
    * the cache, the explode shuffle, the persisted index, and every
    * array_intersect ~3-4× with identical set semantics (each hash ==
    * `xxhash64(shingle_string)`, collision odds ~1e-13/doc — see the
    * expression scaladoc). The string form ([[graft.functions
    * .WordShingles]], SQL `word_shingles`) remains for display/audit. */
  def docShingles(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
      graft.functions.WordShingleHashes.wordShingleHashes(textCol, n).as("shingles"))
  }

  /** LONGEST SHARED TOKEN SPAN per candidate pair — the substring-dedup
    * measurement of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022), restricted to an already-mined
    * candidate pair set (near-dups from [[minhashNearDups]], exact dups
    * — any pair source): for each (doc_a, doc_b), the maximum number of
    * CONSECUTIVE tokens the two documents share. Curation pipelines use
    * the span (not just the Jaccard) to decide between dropping a
    * document and excising the duplicated region.
    *
    * Entirely declarative: positional n-gram hashes (posexplode of the
    * ordered gram array — NOT the distinct set the minhash path uses),
    * a per-pair hash-equality join, and the classic gaps-and-islands
    * reduction — matches at the same positional offset (pa − pb) whose
    * positions are consecutive form one island; island length + n − 1
    * is the span in tokens.
    *
    * Scale shape: everything after the scan is (pair, pos) tuples —
    * payloads never move. Cost is ∝ Σ_pairs (gram matches), bounded in
    * practice because the pair list comes from banded candidate
    * mining (cluster-sized, not corpus-sized); a degenerate pair of
    * repeated-token spam docs can go quadratic in ITS OWN length —
    * the same bound as the exact-verify step that admitted the pair. */
  def sharedSpans(
      docs: DataFrame, pairs: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n=$n out of range")
    val idxs = when(size(col("__w")) >= n, sequence(lit(0), size(col("__w")) - n))
      .otherwise(array().cast("array<int>"))
    val gram = (i: Column) =>
      (1 until n).foldLeft(element_at(col("__w"), i + 1)) { (acc, k) =>
        concat(acc, lit(" "), element_at(col("__w"), i + k + 1))
      }
    val sh = docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__w"))
      .select(col("doc_id"), posexplode(transform(idxs, gram)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("gh"))
    val matched = pairs.select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("pos").as("pa"),
        col("gh")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("pos").as("pb"),
        col("gh")), Seq("doc_b", "gh"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("delta")).orderBy(col("pa"))
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("span").desc, col("start_a"), col("start_b"))
    matched
      .withColumn("delta", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("delta"), col("grp"))
      .agg((count(lit(1)) + lit(n - 1)).cast("long").as("span"),
        min(col("pa")).cast("long").as("start_a"))
      .withColumn("start_b", col("start_a") - col("delta"))
      .withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("doc_a"), col("doc_b"), col("span").as("span_tokens"),
        col("start_a"), col("start_b"))
  }

  /** SPAN EXCISION — the "cut the duplicated region, keep the rest"
    * alternative to whole-document dropping: for every document that
    * appears as the LOWER-PRIORITY side (`doc_b`) of a
    * [[sharedSpans]] row, remove its single best shared span
    * (longest; ties broken by smallest start, then smallest partner
    * id — fully deterministic) and re-emit the token-normalized text.
    * Output: one (doc_id, n_removed, excised_text) row per excised
    * document; callers union the untouched corpus back.
    *
    * The rebuilt text is over the engine's normalized tokens
    * (lower/trim/whitespace-split — the same convention every text
    * operator here uses), not the original byte string: excision is a
    * TRAINING-corpus transform, downstream of normalization.
    *
    * Scale shape: the spans frame is pair-bounded (candidate-mined),
    * the per-doc best-span reduction is a pairs-only window, and the
    * token-slice rebuild is a codegen'd projection on the one
    * documents scan — bodies never shuffle. */
  def exciseSpans(
      docs: DataFrame, spans: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val bestPerDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("span_tokens").desc, col("start_b"), col("doc_a"))
    val cuts = spans
      .select(col("doc_b").as("doc_id"), col("doc_a"),
        col("span_tokens"), col("start_b"))
      .withColumn("__rn", row_number().over(bestPerDoc))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("span_tokens"), col("start_b"))
    val ws = col("__w")
    docs
      .select(col(idCol).as("doc_id"), Text.tokens(col(textCol)).as("__w"))
      .join(cuts, Seq("doc_id"))
      .select(col("doc_id"),
        col("span_tokens").as("n_removed"),
        concat_ws(" ", concat(
          slice(ws, lit(1), col("start_b").cast("int")),
          slice(ws, (col("start_b") + col("span_tokens") + 1).cast("int"),
            greatest(size(ws) - (col("start_b") + col("span_tokens"))
              .cast("int"), lit(0))))).as("excised_text"))
  }

  /** 64-minhash signature per document, computed by the native
    * [[graft.functions.MinHashSigs]] expression: one compiled pass per
    * document, ZERO shuffle (the round-2 form exploded to
    * (doc, shingle) and shuffled 64 min-buffers per doc — that
    * declarative twin survives as [[minhashSignaturesAgg]], asserted
    * bit-equal in DedupSpec). The signature projection now fuses into
    * the scan; the first exchange of the minhash pipeline is the band
    * join. */
  def minhashSignatures(shingled: DataFrame, numHashes: Int = 64): DataFrame = {
    shingled.filter(size(col("shingles")) > 0)
      .select(col("doc_id"),
        graft.functions.MinHashSigs.minhashSigs("shingles", numHashes).as("sig"))
  }

  /** Round-2 aggregate formulation of [[minhashSignatures]], kept
    * solely as the independent cross-check twin of the native
    * expression (same hash composition: xxhash64(salt, shingleHash)). */
  private[graft] def minhashSignaturesAgg(shingled: DataFrame, numHashes: Int = 64): DataFrame = {
    val exploded = shingled.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"mh_$i")): _*).as("sig"))
  }

  /** (doc_id, band, bh) LSH band table from signatures — the artifact
    * an INCREMENTAL dedup pipeline persists (parquet, bucketed on
    * (band, bh)): ingesting a new batch then joins the batch's bands
    * against this index instead of re-hashing the corpus. */
  def minhashBandTable(signatures: DataFrame, bands: Int = 16, numHashes: Int = 64): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
          .as("bh"))
    }
    signatures
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** LSH candidate pairs from banded signatures: `bands` bands of
    * `sig.length / bands` rows; docs sharing any (band, bandHash) bucket
    * become a candidate pair. */
  def lshCandidatePairs(signatures: DataFrame, bands: Int = 16, numHashes: Int = 64): DataFrame = {
    val buckets = minhashBandTable(signatures, bands, numHashes)
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard over shingle sets for the given pairs. */
  def verifyJaccard(pairs: DataFrame, shingled: DataFrame): DataFrame = {
    val sa = shingled.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash+LSH near-duplicate pairs, exact-verified at `threshold`.
    * With 16 bands × 4 rows, a pair at Jaccard 0.9 is missed with
    * probability (1 − 0.9⁴)¹⁶ ≈ 1.5e-8 — effectively exhaustive for
    * true near-dups, at a fraction of the all-pairs cost. */
  def minhashNearDups(
      docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8): DataFrame = {
    val shingled = docShingles(docs, textCol, idCol).cache()
    val sigs = minhashSignatures(shingled)
    val cands = lshCandidatePairs(sigs)
    // materialize the (small) verified pair set eagerly so the
    // corpus-sized shingle cache can be released before returning —
    // a session-lifetime `.cache()` here regressed every query that
    // ran after this one in the round-2 bench
    val out = verifyJaccard(cands, shingled)
      .filter(col("jaccard") >= threshold)
      .checkpointLinted()
    shingled.unpersist()
    out
  }

  /** All-pairs exact n-gram Jaccard WITHOUT a cross join: explode to
    * (doc, shingle), self-join on the shingle, and count-sum the
    * matches per pair — candidates are exactly the pairs that share at
    * least one shingle, intersection sizes fall out of the count, and
    * Jaccard follows from |A∩B| / (|A| + |B| − |A∩B|) with broadcast
    * size lookups. One shuffle keyed on the shingle; candidate volume
    * is bounded by shingle co-occurrence, never n². (A PPJoin-style
    * prefix filter — Xiao et al., WWW'08, public literature — was tried
    * and rejected: with this corpus's tiny shingle vocabulary, document
    * frequencies are so high that prefix candidates are ~all pairs
    * anyway, and the per-pair array_intersect verify costs more than
    * counting. The count-sum shape below is what ships.) */
  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val shingled = docShingles(docs, textCol, idCol).cache()
    val out = ngramJaccardFrame(shingled, threshold)
      // small result, materialized eagerly so the shingle cache is
      // released at return instead of leaking for the session lifetime
      .checkpointLinted()
    shingled.unpersist()
    out
  }

  /** The un-materialized ngram-Jaccard plan over a shingled frame —
    * split out so `graft.Explain` can capture the join shape that
    * `ngramJaccardPairs`'s eager checkpoint truncates to ExistingRDD. */
  private[graft] def ngramJaccardFrame(
      shingled: DataFrame, threshold: Double): DataFrame = {
    val ex = shingled.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // one row per document — broadcastable at harness scale but
    // corpus-sized at 100 TB, so the join strategy is left to AQE
    // (which broadcasts when it fits and shuffles when it doesn't)
    // instead of a forced broadcast hint that embeds a scale ceiling
    val sizes = shingled.select(col("doc_id"), size(col("shingles")).as("n"))
    val inter = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Benchmark DECONTAMINATION — the eval-overlap filter every serious
    * pretraining pipeline runs before training (the n-gram overlap
    * rule popularized by the GPT-3/PaLM appendices, public
    * literature): a candidate document is contaminated iff it shares
    * at least `minOverlap` distinct n-gram shingles with ANY document
    * of the held-out eval set. Output: one row per candidate —
    * (doc_id, n_overlap, contaminated) — negatives included, so the
    * gate proves clean docs clean.
    *
    * Shape at 100 TB: both sides reduce to 8-byte hashed shingles
    * ([[docShingles]] — the repo-wide shingle currency; documents
    * themselves never shuffle). The eval side is `eval-set ×
    * shingles/doc` rows — benchmark corpora are tiny relative to
    * training corpora, so AQE broadcasts it and the candidate side is
    * ONE scan + hash-join + partial-agg; if an eval set ever outgrew
    * broadcast the same plan degrades to a shuffle join keyed on the
    * shingle hash, still linear. Assumes id disjointness between the
    * two frames (callers split one corpus or pass separate tables). */
  def decontaminate(
      cands: DataFrame, evalDocs: DataFrame, textCol: String, idCol: String,
      n: Int = 4, minOverlap: Int = 1): DataFrame =
    decontaminateAgainst(cands,
      docShingles(evalDocs, textCol, idCol, n)
        .select(explode(col("shingles")).as("shingle")).distinct(),
      textCol, idCol, n, minOverlap)

  /** N-GRAM NOVELTY against a reference corpus — the freshness /
    * memorization-exposure metric next to [[decontaminate]]'s boolean:
    * per candidate, the fraction of its DISTINCT n-grams absent from
    * the reference corpus's distinct n-gram set (novelty 1 = nothing
    * shared, 0 = fully covered — the "how much of this batch is new
    * text" curve an ingest pipeline tracks per dump). Same machinery
    * as decontamination: both sides reduce to 8-byte hashed shingles,
    * the candidate side one explode + one hash join away from its
    * per-doc tally; the reference contributes one distinct-hash set
    * (persistable exactly like [[writeEvalShingleIndex]] when the
    * reference is a fixed prior epoch). Documents shorter than n
    * tokens carry zero n-grams and score novelty 0. */
  def noveltyScores(
      cands: DataFrame, reference: DataFrame, textCol: String,
      idCol: String, n: Int = 4): DataFrame = {
    val refShingles = docShingles(reference, textCol, idCol, n)
      .select(explode(col("shingles")).as("shingle")).distinct()
      .withColumn("seen", lit(true))
    val candShingled = docShingles(cands, textCol, idCol, n)
    val counts = candShingled
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(refShingles, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
    candShingled.select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_ngrams") === 0L, lit(0.0))
          .otherwise(col("n_novel").cast("double") /
            col("n_ngrams").cast("double")))
  }

  /** Persist an eval set's distinct shingle hashes — the decontam
    * INDEX. Benchmark suites are static relative to a training corpus,
    * so this is a write-once epoch artifact: every ingest batch
    * decontaminates against the stored hashes
    * ([[decontaminateIndexed]]) and the eval docs are never
    * re-shingled. Stored as plain parquet of 8-byte hashes — eval-set
    * sized, trivially scannable — plus a one-row `meta` frame pinning
    * the shingle width `n`, so a probe with a drifted width fails
    * loudly instead of silently producing wrong overlap counts. */
  def writeEvalShingleIndex(
      evalDocs: DataFrame, textCol: String, idCol: String, path: String,
      n: Int = 4): Unit = {
    val spark = evalDocs.sparkSession
    graft.io.Fs.deleteRecursive(spark, path)
    docShingles(evalDocs, textCol, idCol, n)
      .select(explode(col("shingles")).as("shingle")).distinct()
      .write.mode("overwrite").parquet(s"$path/shingles")
    spark.range(1).select(lit(n).as("n"))
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  /** [[decontaminate]] against a persisted eval index: identical
    * output for the same eval set (DedupSpec asserts equality and that
    * the executed plan reads the index path), cost ∝ batch + one
    * index scan. This is the production ingest shape — per batch,
    * nothing eval-sized is recomputed. The shingle width is DERIVED
    * from the index's stored meta — the index hashes are only
    * comparable to candidate shingles of the same width, so trusting a
    * caller-passed width risks silently-wrong verdicts on drift; pass
    * `n` only to cross-check (mismatch throws). */
  def decontaminateIndexed(
      cands: DataFrame, indexPath: String, textCol: String, idCol: String,
      n: Int = -1, minOverlap: Int = 1): DataFrame = {
    val storedN = cands.sparkSession.read.parquet(s"$indexPath/meta")
      .head().getAs[Int]("n")
    require(n == -1 || n == storedN,
      s"eval shingle index at $indexPath was built with n=$storedN " +
        s"but caller requested n=$n")
    decontaminateAgainst(cands,
      cands.sparkSession.read.parquet(s"$indexPath/shingles"),
      textCol, idCol, storedN, minOverlap)
  }

  private def decontaminateAgainst(
      cands: DataFrame, evalShingles: DataFrame, textCol: String,
      idCol: String, n: Int, minOverlap: Int): DataFrame = {
    val candShingled = docShingles(cands, textCol, idCol, n)
    val overlap = candShingled
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .join(evalShingles, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap")) // shingles are distinct per doc
    candShingled.select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= minOverlap)
  }

  /** INCREMENTAL MinHash near-dup: the pairs a NEW batch introduces —
    * batch-vs-corpus and batch-vs-batch — without re-mining the corpus
    * against itself. The corpus side contributes only its (persisted)
    * band index for candidate generation and the shingles of the few
    * candidate docs for exact verification, so ingesting a batch costs
    * ∝ batch size + band collisions, not corpus². Output is identical
    * to [[minhashNearDups]] on corpus ∪ batch restricted to pairs with
    * ≥ 1 batch-side doc (same banding, same exact-Jaccard verify) —
    * which is exactly what the DuckDB oracle for `q_dedup_incremental`
    * computes. Assumes `idCol` values are disjoint across the two
    * frames (true for any append-only ingest). */
  def minhashNearDupsIncremental(
      corpusDocs: DataFrame, newDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8): DataFrame = {
    val corpusShingled = docShingles(corpusDocs, textCol, idCol).cache()
    // production: this index is READ from storage ([[writeDedupIndex]] +
    // [[minhashNearDupsIndexed]]) — building it inline keeps THIS
    // operator self-contained for spec-level equivalence checks
    val corpusIndex = minhashBandTable(minhashSignatures(corpusShingled))
    val newShingled = docShingles(newDocs, textCol, idCol).cache()
    val newIndex = minhashBandTable(minhashSignatures(newShingled)).cache()
    val out = incrementalPairs(corpusIndex, newIndex,
        corpusShingled.union(newShingled), threshold)
      .checkpointLinted()
    corpusShingled.unpersist()
    newShingled.unpersist()
    newIndex.unpersist()
    out
  }

  /** Candidate generation + exact verify shared by the inline and
    * persisted-index incremental paths: batch-vs-corpus band collisions
    * plus batch-vs-batch collisions, exact-Jaccard verified against the
    * given shingle source (only candidate rows of which survive the
    * verify joins). */
  private[ops] def incrementalPairs(
      corpusIndex: DataFrame, newIndex: DataFrame,
      shingleSource: DataFrame, threshold: Double): DataFrame = {
    val straddle = newIndex.as("n").join(corpusIndex.as("c"),
        col("n.band") === col("c.band") && col("n.bh") === col("c.bh"))
      .select(least(col("n.doc_id"), col("c.doc_id")).as("doc_a"),
        greatest(col("n.doc_id"), col("c.doc_id")).as("doc_b"))
    val within = newIndex.as("a").join(newIndex.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val cands = straddle.union(within).distinct()
    verifyJaccard(cands, shingleSource)
      .filter(col("jaccard") >= threshold)
  }

  /** Persist the dedup-index artifacts an incremental ingest pipeline
    * keeps between batches: the corpus LSH band table (candidate
    * generation), the corpus shingle sets (exact verification of the
    * few candidate docs), and the corpus content-hash set (exact-dup
    * classification). Written once per corpus epoch; every subsequent
    * batch ingest reads these instead of re-shingling/re-hashing the
    * corpus — the whole point of the incremental path at 100 TB. On a
    * real deployment these land on the object store (same parquet
    * writes); band/hash tables are natural bucketing candidates
    * ([[graft.io.Layout.writeBucketed]]) so repeated ingest joins
    * co-locate without a shuffle. */
  def writeDedupIndex(
      corpusDocs: DataFrame, textCol: String, idCol: String,
      path: String): Unit =
    writeDedupIndexBatch(corpusDocs, textCol, idCol, path,
      batchId = -1L, overwrite = true)

  /** Extend a persisted dedup index with newly-ingested documents —
    * the per-batch write of a streaming/incremental ingest pipeline
    * ([[graft.streaming.DocStreams.dedupIngest]]). Same artifacts as
    * [[writeDedupIndex]], keyed by the micro-batch id
    * (`.../batch=<id>` + overwrite — the replay-idempotent layout the
    * ANN and phash indexes use): cost ∝ batch size only, and an
    * at-least-once replay of a batch overwrites its own partitions
    * instead of duplicating index rows. */
  def appendDedupIndex(
      batchDocs: DataFrame, textCol: String, idCol: String,
      path: String, batchId: Long): Unit =
    writeDedupIndexBatch(batchDocs, textCol, idCol, path,
      batchId, overwrite = false)

  /** One batch partition of the index. The corpus epoch is batch=-1;
    * ingested batches land beside it, all discovered as one
    * partitioned read. The hash table carries the minimum doc id per
    * hash (`hash_doc_id`) so [[exactGroupsIncremental]] can exclude a
    * REPLAYED document's match against its own stored hash — the
    * missing piece of text-path replay idempotence. */
  private def writeDedupIndexBatch(
      docs: DataFrame, textCol: String, idCol: String, path: String,
      batchId: Long, overwrite: Boolean): Unit = {
    // overwrite semantics are identical for the bootstrap (fresh dir)
    // and a batch replay (rewrites its own partition); `overwrite` only
    // gates clearing SIBLING epochs on a corpus rebuild — via the
    // Hadoop FS of the path's own scheme so it also clears on the
    // object store, not just local disk ([[graft.io.Fs]])
    if (overwrite) graft.io.Fs.deleteRecursive(docs.sparkSession, path)
    val shingled = docShingles(docs, textCol, idCol).cache()
    // the three artifact families are independent writes to disjoint
    // dirs: overlap the hash write (reads `docs`, not the shingle
    // cache) with the shingle leg (guide §2.6); bands runs after
    // shingles so it reads the then-hot cache instead of racing its
    // fill
    graft.tools.Par.run(2)(Seq(
      () => {
        shingled.write.mode("overwrite")
          .parquet(s"$path/shingles/batch=$batchId")
        minhashBandTable(minhashSignatures(shingled))
          .write.mode("overwrite").parquet(s"$path/bands/batch=$batchId")
      },
      () => docs
        .select(col(idCol).as("doc_id"),
          sha2(lower(trim(col(textCol))), 256).as("text_hash"))
        .groupBy(col("text_hash"))
        .agg(min(col("doc_id")).as("hash_doc_id"))
        .write.mode("overwrite").parquet(s"$path/hashes/batch=$batchId")))
    shingled.unpersist()
  }

  /** EPOCH COMPACTION for a streamed dedup index: fold every
    * `batch=<id>` partition of the three artifact families into a
    * single fresh `batch=-1` epoch, in place. A long-running ingest
    * accumulates one partition (≥ 3 files) per micro-batch; every
    * incremental read lists and scans all of them, so file count —
    * not data size — eventually dominates ingest latency. Compaction
    * is pure maintenance: shingle and band rows are merged unchanged
    * (each document's rows live in exactly one batch — the
    * replay-idempotent overwrite contract), and the content-hash table
    * folds to the (min, max) holder rows per hash — up to two rows
    * where the per-batch layout had one per batch. Keeping BOTH
    * extremes (not just the global min) preserves
    * [[exactGroupsIncremental]]'s replay detection byte-for-byte: its
    * cmin/cmax re-aggregation over the stored rows yields identical
    * values before and after compaction, so a replayed document that
    * happens to be the min holder of a hash shared with another batch
    * still sees "some corpus holder ≠ me" and keeps its
    * `dup_of_corpus` status. Each family is written complete to a
    * sibling `.compact` dir and swapped in via
    * [[graft.io.Fs.replaceDir]] — run it from the maintenance role
    * that owns the index, not concurrently with readers. */
  def compactDedupIndex(spark: SparkSession, path: String): Unit = {
    // the three families compact independently (disjoint dirs, one
    // read→write→swap each): overlap them (guide §2.6) — same swaps,
    // same resulting epochs, one family's scheduling gaps back-filled
    // by the others
    graft.tools.Par.run(3)(Seq(
      () => compactFamily(spark, s"$path/shingles")(identity),
      () => compactFamily(spark, s"$path/bands")(identity),
      () => compactFamily(spark, s"$path/hashes")(
        _.groupBy(col("text_hash"))
          .agg(min(col("hash_doc_id")).as("mn"),
            max(col("hash_doc_id")).as("mx"))
          .select(col("text_hash"),
            explode(array_distinct(array(col("mn"), col("mx"))))
              .as("hash_doc_id")))))
    ()
  }

  /** Read every batch of one artifact family, apply `transform` to the
    * batch-stripped rows, write the result as the sole `batch=-1`
    * epoch of a `.compact` sibling, and swap it into place. */
  private[ops] def compactFamily(spark: SparkSession, famPath: String)(
      transform: DataFrame => DataFrame): Unit = {
    val tmp = s"$famPath.compact"
    transform(spark.read.parquet(famPath).drop("batch"))
      .write.mode("overwrite").parquet(s"$tmp/batch=-1")
    graft.io.Fs.replaceDir(spark, tmp, famPath)
  }

  /** Batch-vs-corpus MinHash near-dup pairs against a PERSISTED index
    * (see [[writeDedupIndex]]): the corpus contributes only its stored
    * band table (one parquet scan of (doc_id, band, bh)) and its stored
    * shingle sets (scanned once per verify side, with only candidate
    * rows surviving the join) — the corpus text is never re-read and
    * never re-shingled, so ingest cost is ∝ batch size + band
    * collisions. Output is identical to [[minhashNearDupsIncremental]]
    * (asserted in DedupSpec, plus a plan-shape check that no shingle
    * expression touches the corpus side). */
  def minhashNearDupsIndexed(
      indexPath: String, newDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8): DataFrame = {
    val newShingled = docShingles(newDocs, textCol, idCol).cache()
    val newIndex = minhashBandTable(minhashSignatures(newShingled)).cache()
    val out = minhashNearDupsIndexedPre(indexPath, newShingled, newIndex,
      threshold,
      // id set straight off the batch scan: routing it through the
      // (lazy) shingle cache costs extra materialization jobs for the
      // same distinct set
      newIds = Some(newDocs.select(col(idCol).as("doc_id")).distinct()))
    newShingled.unpersist()
    newIndex.unpersist()
    out
  }

  /** [[minhashNearDupsIndexed]] over PRE-BUILT batch-side artifacts —
    * for harnesses that mine the SAME batch against an index more than
    * once (e.g. before/after a compaction): the caller shingles and
    * bands the batch exactly once and each call re-reads only the
    * INDEX side fresh. `newShingled`/`newIndex` must be
    * [[docShingles]] / [[minhashBandTable]]∘[[minhashSignatures]] of
    * the same batch (the batch id set is derived from `newShingled`,
    * which carries every batch row). `eager = false` skips the
    * verified-pair checkpoint — safe only when the index dirs are not
    * mutated between this call and the consumption of the result.
    * Output is identical to [[minhashNearDupsIndexed]] for the same
    * batch (same expressions over the same frames).
    *
    * The batch's OWN ids are excluded from the corpus view (anti-join
    * on a batch-sized id set): on an at-least-once REPLAY the index
    * already holds the batch's survivors, and without the exclusion
    * their stored bands/shingles would self-pair with the replayed
    * docs and double-count shingles in the Jaccard verify. With it, a
    * replay sees exactly the pre-batch index and re-derives
    * byte-identical pairs. `batch` is the partition column of the
    * epoch layout ([[writeDedupIndex]]), dropped on read. */
  def minhashNearDupsIndexedPre(
      indexPath: String, newShingled: DataFrame, newIndex: DataFrame,
      threshold: Double, eager: Boolean = true,
      newIds: Option[DataFrame] = None): DataFrame = {
    val spark = newShingled.sparkSession
    val newIds0 = newIds.getOrElse(newShingled.select(col("doc_id")).distinct())
    val corpusIndex = spark.read.parquet(s"$indexPath/bands")
      .drop("batch").join(newIds0, Seq("doc_id"), "left_anti")
    val corpusShingles = spark.read.parquet(s"$indexPath/shingles")
      .drop("batch").join(newIds0, Seq("doc_id"), "left_anti")
    val out = incrementalPairs(corpusIndex, newIndex,
      corpusShingles.union(newShingled), threshold)
    if (eager) out.checkpointLinted() else out
  }

  /** INCREMENTAL exact dedup: classify a new batch against the corpus'
    * persisted content-hash set — `dup_in_batch` (a smaller batch id
    * holds the same text; first occurrence wins by min id),
    * `dup_of_corpus` (hash already ingested), or `new`. One
    * broadcast-or-shuffle join on 32-byte hashes plus one batch-local
    * aggregate; the corpus is never rescanned.
    *
    * Replay idempotence: when `corpusHashes` carries the
    * `hash_doc_id` column ([[writeDedupIndex]]'s schema), a document
    * matching ONLY its own stored hash (an at-least-once replay after
    * its first ingest) is NOT a corpus dup — it re-derives its original
    * status, so a replayed micro-batch rewrites byte-identical
    * decisions. The batch-local check runs FIRST for the same reason:
    * a replayed in-batch dup must re-label as `dup_in_batch`, not flip
    * to `dup_of_corpus` against its survivor's stored hash. An id-less
    * hash frame (legacy/ad-hoc) keeps the plain membership semantics. */
  def exactGroupsIncremental(
      corpusHashes: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val hashed = newDocs.select(col(idCol).as("doc_id"),
      sha2(lower(trim(col(textCol))), 256).as("text_hash"))
    val known =
      if (corpusHashes.columns.contains("hash_doc_id"))
        corpusHashes.groupBy(col("text_hash"))
          .agg(min(col("hash_doc_id")).as("cmin"),
            max(col("hash_doc_id")).as("cmax"))
          .withColumn("in_corpus", lit(true))
      else corpusHashes.select(col("text_hash")).distinct()
        .withColumn("cmin", lit(null).cast("long"))
        .withColumn("cmax", lit(null).cast("long"))
        .withColumn("in_corpus", lit(true))
    val firstInBatch = hashed.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("first_id"))
    // "some corpus holder of this hash is NOT me" — null-safe true for
    // the id-less legacy frame
    val corpusOther = coalesce(
      col("cmin") =!= col("doc_id") || col("cmax") =!= col("doc_id"),
      lit(true))
    hashed
      .join(known, Seq("text_hash"), "left")
      .join(firstInBatch, "text_hash")
      .select(col("doc_id"), col("text_hash"),
        when(col("doc_id") =!= col("first_id"), lit("dup_in_batch"))
          .when(col("in_corpus") && corpusOther, lit("dup_of_corpus"))
          .otherwise(lit("new")).as("status"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit weighted vote of
    * xxhash64(token) bits, computed per row by the native
    * [[graft.functions.SimHash64]] expression — no explode, no shuffle,
    * one compiled pass per document (the round-1 explode + 64-way
    * conditional-sum plan was the bench's slowest query; its semantics
    * live on as [[simhashAgg]], asserted equal in DedupSpec). */
  def simhash(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    docs.select(col(idCol).as("doc_id"),
      graft.functions.SimHash64.simhash64(textCol).as("simhash"))
  }

  /** Round-1 aggregate formulation of [[simhash]], kept solely as the
    * independent cross-check twin for the native expression (identical
    * output by construction: same tokens, same xxhash64 seed-42 token
    * hashes, same ±1 votes-per-bit rule — EXCEPT null text, where the
    * explode drops the row entirely while the expression keeps it with
    * a null signature; the engine's definition is the expression's). */
  def simhashAgg(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tokenHashes = docs
      .select(col(idCol).as("doc_id"), explode(Text.tokens(col(textCol))).as("tok"))
      .withColumn("th", xxhash64(col("tok")))
    val votes = (0 until 64).map { bit =>
      sum(when(shiftright(col("th"), bit).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$bit")
    }
    val voted = tokenHashes.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
    val sim = (0 until 64).map { bit =>
      when(col(s"v_$bit") > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col("doc_id"), sim.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs at Hamming distance ≤ `maxHamming`,
    * by BANDED candidate generation (the classic Charikar-style trick):
    * the 64-bit signature splits into `maxHamming + 1` bands, and by
    * pigeonhole two signatures within the distance bound must agree
    * EXACTLY on at least one band — so candidates are docs sharing any
    * (band, band-bits) bucket, found with one shuffle keyed on band
    * values (same scale shape as the MinHash LSH join: candidate volume
    * is bounded by per-band collisions, never corpus²). Every candidate
    * is then verified with the exact bit_count distance. Recall is 1.0
    * within the bound by construction — unlike MinHash banding there is
    * no probabilistic miss. Default 4 bands ⇒ exhaustive for hamming ≤ 3.
    *
    * Scale note: 16-bit bands give 65k buckets per band — ample at
    * millions of docs, collision-heavy at billions. The knobs, in
    * order: tighten maxHamming (7 bands × 9 bits is NOT valid — bands
    * must divide 64 — but 2 bands × 32 bits covers hamming ≤ 1), widen
    * the signature (SimHash128 doubles band width at the same bound) —
    * and, built in below, hot band values split into bounded
    * block-pair tasks exactly as `Similarity.blockedLocalBests` does for
    * LSH buckets: any (band, bits) bucket beyond `maxGroup` members becomes
    * nb² tasks of ≤ 2·maxGroup signatures instead of one quadratic
    * straggler. The bucket census is JOINED back, never collected —
    * bucket count grows with the corpus, unlike the ANN group census. */
  def simhashNearDups(
      docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxGroup: Int = 4096): DataFrame =
    hammingNearDups(simhash(docs, textCol, idCol), "doc_id", "simhash",
      maxHamming, maxGroup)

  /** The banded hamming-ball pair miner behind [[simhashNearDups]],
    * generalized to ANY 64-bit signature column — SimHash, perceptual
    * blockhash ([[Multimodal]]), or any future fingerprint: signatures
    * within `maxHamming` agree exactly on one of `maxHamming + 1`
    * bands (pigeonhole ⇒ recall 1.0 within the bound), candidates are
    * mined with one shuffle on band values, hot buckets split into
    * bounded block-pair tasks, and every candidate is verified with
    * the exact bit_count distance. Output: (doc_a, doc_b, hamming),
    * doc_a < doc_b. See [[simhashNearDups]] for the full scale notes. */
  def hammingNearDups(
      sigFrame: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxGroup: Int = 4096): DataFrame =
    hammingNearDupsImpl(
      sigFrame.select(col(idCol).as("doc_id"), col(sigCol).as("simhash"),
        lit(true).as("is_new")),
      maxHamming, maxGroup)

  /** INCREMENTAL banded hamming mining: pairs introduced by a new
    * batch against a persisted corpus signature set (plus pairs within
    * the batch) — the perceptual twin of [[minhashNearDupsIndexed]].
    * Corpus-only buckets are pruned BEFORE task fan-out (the census
    * counts batch members per bucket), so shuffle and pair-scan work
    * is ∝ buckets the batch actually touches; the corpus contributes
    * one pass over its 8-byte signatures — never payloads, never
    * re-hashing. Corpus–corpus pairs are NOT emitted (they were mined
    * when those docs were ingested). */
  def hammingNearDupsIncremental(
      corpusSigs: DataFrame, newSigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, maxGroup: Int = 4096): DataFrame =
    hammingNearDupsImpl(
      corpusSigs.select(col(idCol).as("doc_id"), col(sigCol).as("simhash"),
          lit(false).as("is_new"))
        .unionByName(newSigs.select(col(idCol).as("doc_id"),
          col(sigCol).as("simhash"), lit(true).as("is_new"))),
      maxHamming, maxGroup)

  private def hammingNearDupsImpl(
      sigs0: DataFrame, maxHamming: Int, maxGroup: Int): DataFrame = {
    val spark = sigs0.sparkSession
    import spark.implicits._
    val bands = maxHamming + 1
    require(64 % bands == 0, s"maxHamming+1=$bands must divide 64")
    val width = 64 / bands
    // width == 64 (maxHamming = 0, exact-signature dedup): 1L << 64
    // wraps to 1 and the mask would be 0 → every doc in ONE bucket →
    // accidental all-pairs join. The full-width mask is -1.
    val mask = if (width == 64) -1L else (1L << width) - 1
    // null signature (e.g. null text): excluded from pair mining (null
    // band bits would otherwise co-bucket all null docs)
    val sigs = sigs0.filter(col("simhash").isNotNull)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND(lit(mask)).as("bits"))
    }
    val buckets = sigs
      .select(col("doc_id"), col("simhash"), col("is_new"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("is_new"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    // census: total members (drives hot-band splitting) AND new members
    // (ng = 0 ⇒ the bucket can't produce a pair involving a new doc —
    // pruned before any fan-out)
    val census = buckets.groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("gn"),
        sum(when(col("is_new"), 1).otherwise(0)).as("ng"))
    val sized = buckets.join(census, Seq("band", "bits"))
      .filter(col("ng") > 0)
    // block-pair fan-out (same scheme as Similarity.cosineNearDupPairsBlocked):
    // a member of block b joins every task (i ≤ j) with i == b or j == b;
    // each cross-block pair meets in exactly one task, each within-block
    // pair in exactly one diagonal task. nb == 1 ⇒ one task per bucket
    // (the common case); only buckets beyond maxGroup fan out.
    val tasked = sized
      .select(col("band"), col("bits"), col("gn"), col("doc_id"),
        col("simhash"), col("is_new"))
      .as[(Int, Long, Long, Long, Long, Boolean)]
      .flatMap { case (band, bits, gn, id, sig, isNew) =>
        val nb = Similarity.numBlocks(gn, maxGroup)
        if (nb == 1) Iterator.single((band, bits, 0L, 0.toByte, id, sig, isNew))
        else {
          val b = Math.floorMod(
            org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 11),
            nb.toLong).toInt
          // Long task ids: nb² overflows Int once a single band bucket
          // passes ~46k blocks (the same ceiling Similarity's blocked
          // ANN kernel, blockedLocalBests, guards against)
          val left = (b until nb).iterator.map(j =>
            (band, bits, b.toLong * nb + j, 0.toByte, id, sig, isNew))
          val right = (0 until b).iterator.map(i =>
            (band, bits, i.toLong * nb + b, 1.toByte, id, sig, isNew))
          left ++ right
        }
      }
    val pairs = tasked
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (_: (Int, Long, Long), it: Iterator[(Int, Long, Long, Byte, Long, Long, Boolean)]) =>
        // diagonal tasks (i == j) receive only role 0 → all-pairs within;
        // off-diagonal tasks receive both roles → cross-block pairs only
        // (within-block pairs belong to that block's diagonal task)
        val ls = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
        val rs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
        it.foreach { case (_, _, _, role, id, sig, isNew) =>
          if (role == 0) ls += ((id, sig, isNew)) else rs += ((id, sig, isNew))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        def emit(a: (Long, Long, Boolean), b: (Long, Long, Boolean)): Unit =
          // at least one side must be NEW (full mining: every side is)
          if (a._1 != b._1 && (a._3 || b._3)) {
            val h = java.lang.Long.bitCount(a._2 ^ b._2)
            if (h <= maxHamming)
              out += ((math.min(a._1, b._1), math.max(a._1, b._1), h))
          }
        if (rs.isEmpty) {
          var i = 0
          while (i < ls.length) {
            var j = i + 1
            while (j < ls.length) { emit(ls(i), ls(j)); j += 1 }
            i += 1
          }
        } else {
          ls.foreach(a => rs.foreach(b => emit(a, b)))
        }
        out.iterator
      }
      .toDF("doc_a", "doc_b", "hamming")
    pairs.distinct()
  }

  /** Connected components of the undirected near-dup pair graph by
    * iterative min-label propagation: every node starts labeled with
    * its own id; each round every node takes the min of its own label
    * and its neighbors' labels; at fixpoint every node carries its
    * component's minimum id. Rounds needed = graph diameter — for
    * near-dup clusters that is a handful (they are dense clique-ish
    * blobs), and each round is one join + one aggregate on the EDGE
    * list, never on the corpus. Convergence is detected by the label
    * sum (strictly decreasing until fixpoint, summed in decimal so the
    * test is overflow-proof at any id range). Returns (id, comp) for
    * every node that appears in a pair.
    *
    * Each round ends in an EAGER lineage cut (`localCheckpoint`):
    * the label frame is referenced twice per round, so without the cut
    * the logical plan doubles every iteration — exponential
    * plan-compile blowup long before any data-size limit. On a real
    * cluster with a checkpoint dir configured, `checkpoint` (reliable
    * storage) is the drop-in hardening of the same cut.
    *
    * Edge lists at or below `maxLocalEdges` (post-mining pair counts
    * are bounded by near-dup cluster sizes, so this is the common case
    * even for large corpora) skip the rounds entirely: one bounded
    * task runs a min-root union-find over the pair list — no
    * symmetrize shuffle, no per-round jobs, identical output. Task
    * memory is a boxed HashMap entry per distinct id (~70 B with the
    * two boxed Longs; ≤ 2·maxLocalEdges ids), so the default 1e6
    * admits ~150 MB worst case — fine on a standard multi-GiB
    * executor, but size `maxLocalEdges` to YOUR executor, not to the
    * 16 B/entry of a primitive map. Billion-edge graphs take the
    * iterative path; `maxLocalEdges = -1` forces it (used by the
    * cross-path equality spec). */
  def connectedComponents(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIters: Int = 50, maxLocalEdges: Long = 1000000L,
      algorithm: String = "label", inputMaterialized: Boolean = false): DataFrame = {
    // materialize the pair frame BEFORE the symmetrize union: `fwd`
    // appears twice below, and without the cut the upstream pair-mining
    // pipeline (e.g. the whole MinHash DAG) would execute twice.
    // Callers whose pair frame is ALREADY an eager cut (checkpointed
    // verified pairs — the common mining output) declare it with
    // `inputMaterialized = true` and skip the redundant second
    // checkpoint job: re-projecting two long columns from a
    // materialized RDD per consumer is cheaper than materializing the
    // projection again.
    val proj = pairs.select(
      col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    val fwd = if (inputMaterialized) proj else proj.checkpointLinted()
    if (fwd.count() <= maxLocalEdges) return localComponents(fwd)
    // high-diameter graphs route to the O(log²) star contraction —
    // same output, rounds independent of diameter. `fwd` is stable and
    // cheap by here (checkpointed above, or a projection over the
    // caller's materialized pairs), so the stars path can re-derive its
    // node set lazily instead of eagerly checkpointing it.
    if (algorithm == "stars")
      return connectedComponentsStarsWithRounds(fwd, "src", "dst", maxIters,
        inputMaterialized = true)._1
    require(algorithm == "label", s"unknown components algorithm '$algorithm'")
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().checkpointLinted()
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")).checkpointLinted()
    def checksum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(30,0)"))).head().getDecimal(0)
    var prev = checksum(labels)
    var iter = 0
    var done = false
    while (!done && iter < maxIters) {
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("comp"))
        .groupBy(col("id")).agg(min(col("comp")).as("nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("comp"), col("nbr")).as("comp"))
        .checkpointLinted()
      val cur = checksum(next)
      done = java.util.Objects.equals(prev, cur)
      prev = cur
      labels.unpersist()
      labels = next
      iter += 1
    }
    edges.unpersist()
    // a silent exit at maxIters would return labels that are still
    // mid-propagation — wrong components with no signal. Fail loudly;
    // diameter > maxIters means the caller should raise the cap or
    // switch to the diameter-independent path (algorithm = "stars",
    // [[connectedComponentsStars]]).
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"(graph diameter exceeds maxIters); raise maxIters or use " +
          """algorithm = "stars"""")
    labels
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rounds — the round-halving variant [[connectedComponents]]'s
    * scaladoc points high-diameter graphs at. Where min-label
    * propagation needs one round per unit of graph DIAMETER (a
    * 10⁶-long chain of near-identical shingled spam pages needs 10⁶
    * rounds), the star operations contract paths multiplicatively and
    * converge in O(log² n) rounds on any topology (public algorithm:
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the shape that survives a 100 TB pathological chain.
    *
    * Each round is two grouped aggregations + joins over the EDGE
    * list only:
    *  - large-star: every node u computes m = min(u, neighbors) and
    *    re-points each STRICTLY LARGER neighbor v > u at m — long
    *    downward paths become shallow fans;
    *  - small-star: over the now child>parent-oriented edges, every
    *    node u re-points itself and all its smaller neighbors at its
    *    minimum neighbor — fans collapse into stars.
    * Both preserve connectivity and never raise any node's reachable
    * minimum, so the edge multiset strictly shrinks toward the unique
    * fixpoint: disjoint stars centered on each component's minimum id.
    * Convergence is detected by an (edge count, Σsrc, Σdst) decimal
    * checksum triple — the same overflow-proof eager-lineage-cut
    * pattern as the propagation path, one `localCheckpoint` per round.
    * Returns (id, comp) for every node that appears in a pair —
    * bit-identical to [[connectedComponents]] (asserted cross-path in
    * DedupSpec, including a chain graph the propagation path needs
    * >10 rounds for). */
  def connectedComponentsStars(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIters: Int = 50): DataFrame =
    connectedComponentsStarsWithRounds(pairs, aCol, bCol, maxIters)._1

  /** [[connectedComponentsStars]] plus the round count it converged in
    * — exposed so the scale rehearsal can MEASURE the O(log² n)
    * round-growth claim on a scaled high-diameter graph instead of
    * citing it. */
  private[graft] def connectedComponentsStarsWithRounds(
      pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
      maxIters: Int = 50, inputMaterialized: Boolean = false): (DataFrame, Int) = {
    // canonical child>parent orientation, self-loops dropped; eager cut
    // so the upstream pair-mining DAG runs once (the `fwd` pattern)
    val canon = pairs.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
    var edges = canon.distinct().checkpointLinted()
    // the node set is consumed ONCE (the final labels join), but it
    // must survive the loop (which reassigns AND unpersists `edges`),
    // so it cannot lazily reference the initial checkpointed edges.
    // With a lazy `pairs` it needs its own eager cut; when the caller
    // declares `pairs` materialized, one lazy distinct over the canon
    // projection at the end is cheaper than an up-front checkpoint job.
    val nodes =
      if (inputMaterialized)
        canon.select(col("a").as("id"))
          .union(canon.select(col("b").as("id"))).distinct()
      else // lazy pairs: read the checkpointed edges, not the raw DAG
        edges.select(col("a").as("id"))
          .union(edges.select(col("b").as("id"))).distinct()
          .checkpointLinted()
    def checksum(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("a").cast("decimal(30,0)")),
        sum(col("b").cast("decimal(30,0)"))).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    var prev = checksum(edges)
    var iter = 0
    var done = edges.isEmpty
    while (!done && iter < maxIters) {
      // large-star over the symmetric view: m(u) = min(u, min neighbor);
      // each neighbor v > u re-points at m(u). m ≤ u < v keeps the
      // output canonically oriented with no self-loops to filter.
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct().checkpointLinted()
      // small-star on the oriented edges: every node and its smaller
      // neighbors re-point at its minimum neighbor (all parents < a,
      // so outputs stay canonical; b === m rows would be self-loops)
      val pmins = large.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = large.join(pmins, Seq("a"))
        .filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(pmins.select(col("a"), col("m").as("b")))
        .distinct().checkpointLinted()
      large.unpersist()
      val cur = checksum(next)
      // checksum equality is necessary but NOT sufficient for a
      // fixpoint (a collision would exit mid-contraction with wrong
      // labels): confirm exactly with one set-difference job, paid on
      // the final round only. Both sides are distinct sets, so equal
      // counts + empty difference ⇒ set equality.
      done = prev == cur && next.except(edges).isEmpty
      prev = cur
      edges.unpersist()
      edges = next
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsStars did not converge in $maxIters rounds; " +
          "raise maxIters")
    // fixpoint = disjoint stars: every non-center appears as `a` with
    // its center as `b`; centers label themselves. The defensive
    // min-agg collapses the (impossible at fixpoint) multi-parent case
    // rather than silently duplicating a node row.
    val labels = edges.select(col("a").as("id"), col("b").as("comp"))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    (nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp")),
      iter)
  }

  /** Single-task min-root union-find over a (src, dst) pair list —
    * the `maxLocalEdges` fast path of [[connectedComponents]]. Always
    * attaching the larger root under the smaller means every root IS
    * its component's minimum id, so `find` yields the same (id, comp)
    * labeling the iterative propagation converges to. Runs as ONE
    * executor task (not on the driver): the edge list streams through
    * the partition iterator, only the id→parent map is held. */
  private def localComponents(fwd: DataFrame): DataFrame = {
    val spark = fwd.sparkSession
    import spark.implicits._
    fwd.as[(Long, Long)].coalesce(1).mapPartitions { it =>
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      it.foreach { case (a, b) =>
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size())
      parent.keySet().forEach { id => out += ((id, find(id))) }
      out.iterator
    }.toDF("id", "comp")
  }

  /** The actual dedup DECISION a training-data pipeline executes:
    * near-dup pairs → connected components → one deterministic survivor
    * per cluster (minimum doc id). Every document gets a row:
    * documents in no pair are their own singleton cluster. The
    * component labels are join-applied (no broadcast hint — the pair
    * graph can be a large fraction of the corpus at 100 TB; AQE picks
    * broadcast when it fits). */
  def dedupDecision(
      docs: DataFrame, pairs: DataFrame, idCol: String,
      aCol: String = "doc_a", bCol: String = "doc_b",
      maxLocalEdges: Long = 1000000L,
      algorithm: String = "label",
      pairsMaterialized: Boolean = false): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol,
        maxLocalEdges = maxLocalEdges, algorithm = algorithm,
        inputMaterialized = pairsMaterialized)
      .select(col("id").as("doc_id"), col("comp"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
  }
}
