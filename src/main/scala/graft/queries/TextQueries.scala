package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Dsir, Multimodal, Sampling, Similarity, Text}
import graft.functions.PolyHash64
import graft.tools.Ckpt._

/** Text-analysis, deduplication, and multimodal queries over the
  * `documents` table (build brief §extensions; SURVEY.md §7.5).
  *
  * Oracle notes: the corpus is verified ASCII-only, so byte length ==
  * char length and `ascii()` == first UTF-8 byte in the multimodal
  * stub's oracle. MinHash/SimHash/LSH internals hash with xxhash64
  * (not available in DuckDB): the MinHash query is still FULLY oracled
  * because its verified output equals the exact-Jaccard pair set (miss
  * probability ≈ 1.5e-8 per true pair at 16×4 banding); the SimHash
  * queries ship as fully-oracled INVARIANT gates instead (two-kernel
  * signature reproducibility; banded-vs-brute pair-set equality).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")

  /** The multimodal oracles rebuild payload BYTES from DuckDB CHARACTER
    * positions (`ascii(substr(text, …))`, `length(text)`) — sound only
    * while the corpus text is pure ASCII, where UTF-8 bytes and
    * characters coincide. Assert that invariant inside the plan itself
    * (octet_length == length iff every char encodes to one byte): a
    * non-ASCII doc fails the query loudly with its id instead of
    * silently hash-mismatching the oracle. */
  private def asciiAsserted(d: DataFrame): DataFrame =
    d.filter(
      when(col("text").isNull ||
        octet_length(col("text")) === length(col("text")), lit(true))
        .otherwise(raise_error(concat(
          lit("non-ASCII text breaks the byte-position oracle: doc_id = "),
          col("doc_id").cast("string")))))

  /** Exact dedup by content hash. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir), "text", "doc_id")
      .orderBy(col("text_hash"))

  /** VOCABULARY construction (round-10) — the term-census step every
    * tokenizer build starts with: distinct whitespace tokens ranked by
    * (count desc, token asc) with contiguous frequency-rank ids
    * 0..V−1. The census is one partial-agg exchange of (token, count)
    * partials; the top-V cut compiles to `TakeOrderedAndProject`
    * (per-partition top-V → driver merge — never a full sort), and the
    * id window runs on the V-row result, not the corpus. EXACT oracle:
    * DuckDB replays census, ranking, and id assignment. */
  def vocabQ(s: SparkSession, dir: String): DataFrame = {
    val ranked = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(256)
    ranked.withColumn("token_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("tok"))) - 1)
      .orderBy(col("token_id"))
  }

  /** Token statistics: whitespace + BPE-ish pre-tokenizer counts. */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      Text.tokenCount(col("text")).as("n_ws"),
      Text.alphaTokenCount(col("text")).as("n_alpha"),
      Text.digitTokenCount(col("text")).as("n_digit"),
      Text.punctCount(col("text")).as("n_punct"))
      .orderBy(col("doc_id"))

  /** Quality scoring: length/word/stopword/punctuation metrics. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val nWords = Text.tokenCount(col("text"))
    val nStop = Text.stopwordCount(col("text"), Text.langMarkers("en"))
    docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        nWords.as("n_words"),
        (length(col("text")).cast("double") / nWords.cast("double")).as("chars_per_word"),
        (Text.punctCount(col("text")).cast("double") / length(col("text")).cast("double"))
          .as("punct_ratio"),
        (nStop.cast("double") / nWords.cast("double")).as("stop_ratio"))
      .withColumn("quality",
        when(col("n_words") >= 5 && col("n_words") <= 10000 && col("stop_ratio") >= 0.01, "ok")
          .otherwise("low"))
      .orderBy(col("doc_id"))
  }

  /** REPETITION metrics — the Gopher/C4-style pretraining filters the
    * quality gate doesn't cover: duplicate-2/3-gram fraction
    * (1 − distinct/total, array-local — no shuffle for these) and
    * top-word fraction (most frequent token's share — one explode +
    * two partial aggs), with a composite `repetitive` flag. Every
    * ratio is a fixed-order chain of correctly-rounded double ops, so
    * values hash-match the oracle unquantized. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("ws", Text.tokens(col("text")))
    def dupFrac(g: org.apache.spark.sql.Column) =
      when(size(g) > 0,
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double"))
        .otherwise(lit(0.0))
    val base = d.select(
      col("doc_id"), size(col("ws")).as("n_words"),
      dupFrac(Text.ngramsAll(col("ws"), 2)).as("dup_2gram_frac"),
      dupFrac(Text.ngramsAll(col("ws"), 3)).as("dup_3gram_frac"))
    val topWord = d
      .select(col("doc_id"), explode(col("ws")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
        .as("top_word_frac"))
    // thresholds chosen to be NON-VACUOUS on the gate corpus (the
    // q_dq_outliers lesson): dup_2gram > 0.05 / top_word > 0.15 flag
    // 145/140/1463 of 500/500/5000 docs across sf0.001/0.01/0.1 —
    // both branches of the flag are genuinely exercised at every SF
    base.join(topWord, "doc_id")
      .withColumn("repetitive",
        col("dup_2gram_frac") > 0.05 || col("top_word_frac") > 0.15)
      .select(col("doc_id"), col("n_words"), col("dup_2gram_frac"),
        col("dup_3gram_frac"), col("top_word_frac"), col("repetitive"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language ID: marker-word scores + deterministic argmax. */
  def langIdQ(s: SparkSession, dir: String): DataFrame = {
    val (scores, guess) = Text.langId(col("text"))
    docs(s, dir).select(
      col("doc_id") +: col("lang") +:
        scores.map { case (l, c) => c.as(s"s_$l") } :+ guess.as("lang_guess"): _*)
      .orderBy(col("doc_id"))
  }

  /** Language-ID CONFUSION MATRIX — the eval every classifier ships:
    * the marker-heuristic prediction crossed with the corpus's lang
    * ground truth, one (true, predicted, n) cell per observed pair.
    * zh has no marker set, so its row is all misclassifications —
    * the honest confusion a confusion matrix exists to expose. */
  def langIdConfusionQ(s: SparkSession, dir: String): DataFrame = {
    val (_, guess) = Text.langId(col("text"))
    docs(s, dir)
      .select(col("lang").as("true_lang"), guess.as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  /** Near-dup CLUSTER-SIZE histogram — the dedup diagnostic a corpus
    * report publishes (how much mass sits in big duplicate families):
    * (cluster size, number of clusters), singletons included. */
  def dedupClusterSizesQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id", 0.8)
    Dedup.dedupDecision(d, pairs, "doc_id", pairsMaterialized = true)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("sz"))
  }

  /** Document fingerprint via the custom codegen'd PolyHash64
    * expression; oracled in DuckDB with a list_reduce over bytes. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir).select(
        col("doc_id"),
        PolyHash64.polyHash64("text").as("fp"))
      .orderBy(col("doc_id"))
  }

  /** MinHash + LSH near-dup pairs, exact-verified at 0.8. */
  def minhashDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(docs(s, dir), "text", "doc_id", 0.8)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Longest shared token span per near-dup pair
    * ([[graft.ops.Dedup.sharedSpans]] over the exact-verified minhash
    * pair set) — the substring-dedup measurement curation uses to
    * choose between dropping a document and excising the duplicated
    * region. EXACT value oracle: DuckDB replays the positional 3-gram
    * match, the gaps-and-islands reduction, AND the deterministic
    * best-island tie-break, so every (pair, span, start_a, start_b)
    * row hash-matches. */
  def dedupSpans(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.sharedSpans(d, Dedup.minhashNearDups(d, "text", "doc_id", 0.8),
        "text", "doc_id", 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Span excision ([[graft.ops.Dedup.exciseSpans]] over the same
    * span frame): every lower-priority near-dup doc re-emitted with
    * its best shared span cut out. EXACT value oracle — DuckDB
    * rebuilds the excised token text with list slicing, so the whole
    * string hash-matches per document. */
  def dedupExcise(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val spans = Dedup.sharedSpans(d,
      Dedup.minhashNearDups(d, "text", "doc_id", 0.8), "text", "doc_id", 3)
    Dedup.exciseSpans(d, spans, "text", "doc_id").orderBy(col("doc_id"))
  }

  /** All-pairs exact 3-gram Jaccard at 0.5 (brute-force baseline). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, dir), "text", "doc_id", 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  /** SimHash REPRODUCIBILITY gate — the oracle-checkable reshaping of
    * the old rows-only signature dump (round-4/5 verdict item 1): the
    * xxhash64-based signature itself is not DuckDB-expressible, but
    * the engine carries TWO independent implementations of the same
    * definition — the native codegen'd [[graft.functions.SimHash64]]
    * expression ([[Dedup.simhash]]) and the round-1 explode +
    * 64-way-vote aggregation ([[Dedup.simhashAgg]]) — so the per-doc
    * invariant "both kernels produce the same 64 bits" is
    * deterministic and fully oracled (one `sig_ok` row per document,
    * oracle = all true). A codegen or vote-rule regression in either
    * kernel flips rows. The agg twin drops tokenless docs (explode);
    * for those the expression's definition is a zero signature. */
  def simhashQ(s: SparkSession, dir: String): DataFrame = {
    val expr = Dedup.simhash(docs(s, dir), "text", "doc_id")
    val agg = Dedup.simhashAgg(docs(s, dir), "text", "doc_id")
      .withColumnRenamed("simhash", "simhash_agg")
    expr.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("simhash_agg").isNotNull,
          col("simhash_agg") === col("simhash"))
          .otherwise(col("simhash").isNull || col("simhash") === 0L)
          .as("sig_ok"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup COMPLETENESS gate — the oracle-checkable
    * reshaping of the old rows-only pair dump: banded candidate
    * generation ([[Dedup.simhashNearDups]], the production path) is
    * exhaustive within the hamming bound by pigeonhole, so its pair
    * set must equal the brute-force hamming-ball self-join over the
    * same signatures, with identical distances. The query emits one
    * row per document: `pairs_ok` = every banded pair touching this
    * doc exists in the brute set with the same hamming AND vice versa
    * (set equality + threshold + ordering in one check — a missed
    * band, a wrong distance, or a leaked out-of-bound pair flips the
    * docs it touches). Signatures are 8 bytes/doc, so the brute
    * baseline is metadata-scale here while the banded path stays the
    * one a 100 TB corpus runs. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.simhash(docs(s, dir), "text", "doc_id")
      .filter(col("simhash").isNotNull)
      .checkpointLinted() // 16 B per doc; feeds banded + brute sides
    val banded = Dedup.hammingNearDups(sigs, "doc_id", "simhash", maxHamming = 3)
    val a = sigs.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Dedup.hamming(col("sig_a"), col("sig_b")).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
    def edges(p: DataFrame, tag: String) =
      p.select(col("doc_a").as("doc"), col("doc_b").as("other"),
          col("hamming").as(s"h_$tag"))
        .unionAll(p.select(col("doc_b").as("doc"), col("doc_a").as("other"),
          col("hamming").as(s"h_$tag")))
    val mismatched = edges(banded, "band")
      .join(edges(brute, "brute"), Seq("doc", "other"), "full_outer")
      .filter(col("h_band").isNull || col("h_brute").isNull ||
        col("h_band") =!= col("h_brute"))
      .select(col("doc")).distinct()
      .withColumn("bad", lit(true))
    docs(s, dir).select(col("doc_id"))
      .join(mismatched, col("doc_id") === col("doc"), "left")
      .select(col("doc_id"), col("bad").isNull.as("pairs_ok"))
      .orderBy(col("doc_id"))
  }

  /** The complete dedup DECISION (round-1 verdict item 1): MinHash+LSH
    * verified pairs → connected components → min-id survivor per
    * cluster, one row per document. Oracled end-to-end: the DuckDB side
    * recomputes the exact-Jaccard pair graph and walks it with a
    * recursive CTE to the same component minima. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id", 0.8)
    Dedup.dedupDecision(d, pairs, "doc_id", pairsMaterialized = true)
      .orderBy(col("doc_id"))
  }

  /** [[dedupClusters]] routed through the DISTRIBUTED large-star/
    * small-star contraction ([[graft.ops.Dedup.connectedComponentsStars]],
    * `maxLocalEdges = -1` so the single-task union-find fast path can't
    * absorb the gate corpus) — the diameter-independent components
    * variant as its own driver row, against the SAME recursive-CTE
    * oracle as the label-propagation twin. */
  def dedupClustersStars(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id", 0.8)
    Dedup.dedupDecision(d, pairs, "doc_id",
        maxLocalEdges = -1L, algorithm = "stars", pairsMaterialized = true)
      .orderBy(col("doc_id"))
  }

  /** EPOCH-COMPACTION parity gate, driver-visible: build the persisted
    * dedup index as a corpus epoch plus two streamed batches, take the
    * incremental decisions for a probe batch (corpus docs replayed
    * under shifted ids — every probe is an exact dup of its original),
    * compact the index ([[graft.ops.Dedup.compactDedupIndex]] — three
    * `batch=*` families folded into fresh `batch=-1` epochs), and take
    * the SAME decisions again. Output: one row per probe doc with its
    * exact-dedup status (DuckDB-derivable from the documents table
    * alone), `compact_match` (status identical before/after), and
    * `pairs_match` (the minhash pair set against the index is
    * set-identical before/after). A compaction that loses rows,
    * duplicates them, or breaks the min-of-mins hash fold flips a
    * boolean the oracle expects true. */
  def dedupCompaction(s: SparkSession, dir: String): DataFrame = {
    val base = s"${Harness.scratch(s, "compact", dir)}/idx"
    val d = docs(s, dir)
    Dedup.writeDedupIndex(d.filter(col("doc_id") < 400), "text", "doc_id", base)
    // the two streamed batches write disjoint batch=<id> dirs after the
    // corpus epoch's overwrite has cleared the root: independent —
    // overlap them (guide §2.6)
    graft.tools.Par.run(2)(Seq(
      () => Dedup.appendDedupIndex(
        d.filter(col("doc_id") >= 400 && col("doc_id") < 450),
        "text", "doc_id", base, batchId = 1L),
      () => Dedup.appendDedupIndex(
        d.filter(col("doc_id") >= 450), "text", "doc_id", base, batchId = 2L)))
    val probe = d.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    // the probe's shingles and band table depend only on the probe —
    // not on the index — so both decision passes share ONE materialized
    // copy instead of re-shingling/re-hashing the probe per pass
    val probeShingled = Dedup.docShingles(probe, "text", "doc_id")
      .checkpointLinted()
    val probeBands = Dedup
      .minhashBandTable(Dedup.minhashSignatures(probeShingled))
      .checkpointLinted()
    def decisions(eager: Boolean): (DataFrame, DataFrame) = {
      // eager cuts on the FIRST pass: both frames must be MATERIALIZED
      // before compaction swaps the index dirs out from under their
      // lazy plans. The second pass runs after the last index mutation,
      // so its frames stay lazy and fold into the final output plan.
      val exact0 = Dedup.exactGroupsIncremental(
          s.read.parquet(s"$base/hashes"), probe, "text", "doc_id")
        .select(col("doc_id"), col("status"))
      val exact = if (eager) exact0.checkpointLinted() else exact0
      val pairs = Dedup.minhashNearDupsIndexedPre(
          base, probeShingled, probeBands, 0.8, eager = eager)
        .select(col("doc_a"), col("doc_b"))
      (exact, pairs)
    }
    val (e1, p1) = decisions(eager = true)
    Dedup.compactDedupIndex(s, base)
    val (e2, p2) = decisions(eager = false)
    val pairsMatch = p1.withColumn("l", lit(1))
      .join(p2.withColumn("r", lit(1)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(coalesce(min(col("l").isNotNull && col("r").isNotNull), lit(true))
        .as("pairs_match"))
    e1.join(e2.withColumnRenamed("status", "status2"), Seq("doc_id"), "full_outer")
      .crossJoin(pairsMatch)
      .select(col("doc_id"), col("status"),
        (col("status").isNotNull && col("status2").isNotNull &&
          col("status") === col("status2")).as("compact_match"),
        col("pairs_match"))
      .orderBy(col("doc_id"))
  }

  /** DSIR importance weights ([[graft.ops.Dsir]]): log p_target −
    * log p_raw per document under two add-α bigram LMs, target =
    * English documents. Exact-decimal arithmetic end-to-end, so the
    * oracle replays both model builds and the coalesce(model, unk,
    * floor) fallback ladder bit-for-bit. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    Dsir.importanceWeights(docs(s, dir), col("text"), col("doc_id"),
        col("lang") === "en")
      .orderBy(col("doc_id"))

  /** The open-vocabulary twin: BOTH models pruned to their top-256
    * bigrams (the 100 TB posture — distributed census cut, K-bounded
    * broadcast), pruned bigrams scoring through the per-context UNK
    * fallback the oracle replays via the CASE-0 count. */
  def dsirWeightsTopK(s: SparkSession, dir: String): DataFrame =
    Dsir.importanceWeights(docs(s, dir), col("text"), col("doc_id"),
        col("lang") === "en", topK = Some(256))
      .orderBy(col("doc_id"))

  /** DSIR selection: the 64 most-target-like non-target documents
    * (weight desc, doc_id asc) — TakeOrderedAndProject, never a full
    * sort; full value-checked against the oracle's replayed ranking. */
  def dsirResample(s: SparkSession, dir: String): DataFrame =
    Dsir.resampleTop(docs(s, dir), col("text"), col("doc_id"),
        col("lang") === "en", k = 64)
      .orderBy(col("w_sum").desc, col("doc_id"))

  /** PERSISTED-MODEL LM gate ([[graft.ops.LangModel.writeLmModel]]):
    * the model is trained and written as a parquet index, then the
    * corpus scores against the INDEX (broadcast joins, no retraining)
    * — and must land on exactly the q_text_lm_score oracle rows, so
    * the write→read→score round-trip preserves every quantized cost. */
  def lmPersisted(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // model build disk-memoized across processes (StageMemo, r14): a
    // pure function of the documents table — the once-per-epoch train
    // contract; the indexed scoring still runs per invocation
    val base = Harness.memo(s, "lm-index", dir, Seq("documents.parquet"),
        "lm-model-v1") { m =>
      graft.ops.LangModel.writeLmModel(d, col("text"), m)
    }
    graft.ops.LangModel.lmScoresIndexed(d, col("text"), col("doc_id"), base)
      .orderBy(col("doc_id"))
  }

  /** PERSISTED-MODEL DSIR gate: raw and target models written once as
    * indexes, weights computed purely from the persisted costs — must
    * equal the q_dsir_weights oracle bit-for-bit. */
  def dsirPersisted(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = Harness.memo(s, "dsir-index", dir, Seq("documents.parquet"),
        "dsir-models-v1") { m =>
      graft.ops.LangModel.writeLmModel(d, col("text"), s"$m/raw")
      graft.ops.LangModel.writeLmModel(
        d.filter(col("lang") === "en"), col("text"), s"$m/tgt")
    }
    Dsir.importanceWeightsIndexed(d, col("text"), col("doc_id"),
        col("lang") === "en", s"$base/raw", s"$base/tgt")
      .orderBy(col("doc_id"))
  }

  /** T5 span corruption ([[graft.ops.Text.spanCorrupt]], seed 7,
    * start draw < 0x2000 / 3.1 %, span length 3): the denoising-
    * objective preprocessor, gated on EXACT strings — the oracle
    * replays the md5 position draw, the run merge, the dense sentinel
    * numbering, and both output strings character-for-character. */
  def spanCorruptQ(s: SparkSession, dir: String): DataFrame =
    Text.spanCorrupt(docs(s, dir), "text", "doc_id", seed = 7L)
      .orderBy(col("doc_id"))

  /** INCREMENTAL-LM gate: the model is built on half the corpus
    * (md5 split), the other half FOLDS IN via
    * [[graft.ops.LangModel.appendLmModel]] — census merge + cost
    * recompute, the first half never rescanned — and scoring the
    * corpus against the appended index must land on exactly the
    * one-shot q_text_lm_score oracle rows. */
  def lmIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val base = Harness.memo(s, "lm-incr", dir, Seq("documents.parquet"),
        "lm-incr-v1") { m =>
      val isFirst = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
      graft.ops.LangModel.writeLmModel(d.filter(isFirst), col("text"), s"$m/model")
      graft.ops.LangModel.appendLmModel(d.filter(!isFirst), col("text"), s"$m/model")
    }
    graft.ops.LangModel.lmScoresIndexed(d, col("text"), col("doc_id"), s"$base/model")
      .orderBy(col("doc_id"))
  }

  /** STREAMING-LM parity gate: the model is trained and persisted
    * once, then the corpus arrives through a REAL file-stream in two
    * micro-batches, each scoring against the index through the shared
    * broadcast kernel ([[graft.streaming.DocStreams.lmScoreIngest]]).
    * The union of the batch-id-keyed score partitions must land on
    * exactly the q_text_lm_score oracle rows — batch scoring, indexed
    * scoring, and streamed scoring are one definition in three modes. */
  def lmStreamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "lm-stream", dir)
    val d = docs(s, dir)
    // model build and stream-input staging are independent (disjoint
    // dirs, the stream starts only after both) — overlap (guide §2.6)
    Harness.streamParity(s, base, d.schema)(
      () => graft.ops.LangModel.writeLmModel(d, col("text"), s"$base/model"),
      () => d.coalesce(2).write.parquet(s"$base/in")) { stream => // 2 files → 2 micro-batches
      graft.streaming.DocStreams.lmScoreIngest(stream, s"$base/model", s"$base/sink")
    }
    s.read.parquet(s"$base/sink/scores")
      .select(col("doc_id"), col("n_bigrams"),
        col("sum_cost"), col("avg_cost"))
      .orderBy(col("doc_id"))
  }

  /** STREAM-PARITY gate for the trained quality scorer: the persisted
    * model scores a 2-micro-batch file stream; the unioned sink must
    * land on the batch scoring oracle verbatim. */
  def qualityStreamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "qm-stream", dir)
    val d = docs(s, dir)
    Harness.streamParity(s, base, d.schema)( // independent: model dir vs stream input
      () => graft.ops.QualityModel.writeModel(s, d, s"$base/model"),
      () => d.coalesce(2).write.parquet(s"$base/in")) { stream => // 2 files → 2 micro-batches
      graft.streaming.DocStreams.qualityScoreIngest(stream, s"$base/model", s"$base/sink")
    }
    s.read.parquet(s"$base/sink/scores")
      .select(col("doc_id"), col("score"), col("keep"),
        col("label"), col("agree"))
      .orderBy(col("doc_id"))
  }

  /** STREAM-PARITY gate for the persisted tokenizer: per-micro-batch
    * token-count partials re-aggregated across the sink must equal
    * the one-shot encode oracle (counts are associative). */
  def bpeStreamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "bpe-stream", dir)
    val d = docs(s, dir)
    Harness.streamParity(s, base, d.schema)( // independent: model dir vs stream input
      () => graft.ops.Bpe.writeBpeModel(s, d, s"$base/model"),
      () => d.coalesce(2).write.parquet(s"$base/in")) { stream => // 2 files → 2 micro-batches
      graft.streaming.DocStreams.bpeEncodeIngest(stream, s"$base/model", s"$base/sink")
    }
    s.read.parquet(s"$base/sink/tokens")
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(graft.ops.Bpe.TopTokens)
  }

  /** STREAM-PARITY gate for the inverted index: a 2-micro-batch file
    * stream maintains the search index (one index batch per
    * micro-batch); the served conjunctive BM25 top-k must land on the
    * one-shot batch oracle verbatim — the stream's batching leaves no
    * trace because disjoint batches make df/stats additive. */
  def searchStreamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "search-stream", dir)
    val d = docs(s, dir)
    Harness.streamParity(s, base, d.schema)(
      () => d.coalesce(2).write.parquet(s"$base/in")) { stream => // 2 files → 2 micro-batches
      graft.streaming.DocStreams.searchIndexIngest(stream, s"$base/index")
    }
    graft.ops.Retrieval.searchIndexed(s, s"$base/index", q = 3, k = 5)
  }

  /** Multimodal metadata pipeline — REAL codec end-to-end: each
    * document's bytes pack into a genuine P6 PPM container and the
    * decoder parses the header back; the oracle replays the container
    * arithmetic (n_bytes = header + raster, height = ceil(n/24),
    * width fixed at 8). */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaMetaPipeline(s, asciiAsserted(docs(s, dir)))
      .orderBy(col("doc_id"))

  /** Decode PARITY gate: per-document stats over the REAL-decoded
    * integer-luma pixels. The oracle replays the full decode in pure
    * integer SQL — container synthesis (source bytes cycled into the
    * 24·h raster), header geometry, and the BT.601 luma of every RGB
    * triplet — so a single drifted pixel anywhere fails the hash. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.grayStatsPipeline(s, asciiAsserted(docs(s, dir)))
      .orderBy(col("doc_id"))

  /** REAL-resize parity: decode → 4×4 nearest-neighbor resize →
    * re-encode → decode, luma stats of the resized raster — every
    * output pixel an integer function of the source bytes. */
  def multimodalResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizeStatsPipeline(s, asciiAsserted(docs(s, dir)), 4, 4)
      .orderBy(col("doc_id"))

  /** REAL audio frames: 128-sample windows every 64 over the decoded
    * PCM stream, each with its exact integer energy — the 20 ms-hop
    * featurizer shape on real decoded samples. */
  def multimodalAudioFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFrames(s,
        Multimodal.wavBlobs(s, asciiAsserted(docs(s, dir)), "text"),
        window = 128, stride = 64)
      .orderBy(col("doc_id"), col("frame_idx"))

  /** AUDIO decode parity (the WAV twin of [[multimodalDecode]]): real
    * RIFF/WAVE containers synthesized per document, chunk-walked and
    * PCM-decoded; every stat is a pure-integer function of the source
    * bytes, replayed sample-for-sample by the oracle. */
  def multimodalAudio(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioStatsPipeline(s, asciiAsserted(docs(s, dir)))
      .orderBy(col("doc_id"))

  /** REAL multi-frame sampling (round-16, VERDICT r15 task 3 — the
    * last stub kernel retired): each document's bytes pack into a
    * concatenated-P6 container (48 source bytes per frame — 1–2 raster
    * rows each), the demuxer walks the stream header by header, and
    * every 2nd DECODED frame emits its exact integer luma stats. The
    * oracle replays the whole chain in pure integer SQL: frame count
    * ceil(n/48), per-frame slice geometry (l = min(48, n−48f),
    * h = ceil(l/24), 8·h pixels), and the BT.601 luma of every sampled
    * frame's cycled-slice triplets — a drifted frame boundary or one
    * wrong pixel anywhere fails the hash. */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.ppmFrameBlobs(
      s, asciiAsserted(docs(s, dir)), "text", bytesPerFrame = 48)
    Multimodal.sampleFrames(s, blobs, stride = 2).toDF()
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Perceptual blockhash per document over REAL DECODED PIXELS
    * ([[Multimodal.blockhash64Gray]]: P6 container → header parse →
    * RGB→luma → 64-cell blockhash), output as the 64-char bit string
    * so the DuckDB oracle can rebuild the whole decode+hash with pure
    * integer SQL (luma per triplet, cell sums, cross-multiplied mean
    * comparison — no floats anywhere). */
  def multimodalPhash(s: SparkSession, dir: String): DataFrame = {
    val blobs = Multimodal.ppmBlobs(s, asciiAsserted(docs(s, dir)), "text")
    Multimodal.blockhash64Gray(s, blobs).toDF()
      .select(col("doc_id"), lpad(bin(col("phash")), 64, "0").as("phash_bits"))
      .orderBy(col("doc_id"))
  }

  /** Perceptual near-dup pairs: banded hamming mining over the
    * blockhash signatures ([[Dedup.hammingNearDups]] — the same
    * kernel as SimHash pairs, recall 1.0 within the bound). The
    * signatures here hash the CONTENT byte stream, not the decoded
    * luma the phash gate uses: these fake rasters decode to only
    * 16–200 pixels, where a 64-cell luma blockhash is statistically
    * meaningless for pair mining (measured r13: true near-dup pairs
    * spread to 45 gray bits while unrelated pairs collide at 0 —
    * no separating threshold exists), so the pair-mining basis stays
    * the byte stream whose edit distance the corpus actually encodes;
    * on real media both bases coincide in shape and the decoded-pixel
    * signature path is gated bit-exactly by q_multimodal_phash.
    * The bound is 15 bits: the gate corpus' stub "media" near-dups are edited
    * copies whose payload blockhashes differ by 9–15 bits (measured
    * min hamming 9/10/0 at sf0.001/0.01/0.1), and 16 bands × 4 bits
    * is the divisor-legal band layout covering it. 4-bit bands are
    * collision-heavy by design at this bound — production corpora
    * at billions of images would widen the signature (blockhash-256)
    * rather than loosen further; the hot-band splitting keeps tasks
    * bounded either way. */
  def multimodalPhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blobs = Multimodal.withPayload(asciiAsserted(docs(s, dir)), "text")
      .select(col("doc_id"), col("lang"), col("payload"))
      .as[Multimodal.MediaBlob]
    Dedup.hammingNearDups(
        Multimodal.blockhash64(s, blobs).toDF(), "doc_id", "phash",
        maxHamming = 15)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The media-dedup DECISION pipeline — [[multimodalPhashPairs]]
    * composed end-to-end like [[dedupClusters]] is for text: perceptual
    * pair graph → connected components → min-id survivor per cluster,
    * one (doc_id, cluster_id, keep) row per document. Oracle walks the
    * same pair graph with a recursive CTE. */
  def multimodalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val blobs = Multimodal.withPayload(d, "text")
      .select(col("doc_id"), col("lang"), col("payload"))
      .as[Multimodal.MediaBlob]
    val pairs = Dedup.hammingNearDups(
      Multimodal.blockhash64(s, blobs).toDF(), "doc_id", "phash",
      maxHamming = 15)
    Dedup.dedupDecision(d, pairs, "doc_id")
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top-3 terms per document. tf = in-doc term count, df from
    * the (doc, term) pairs, idf = ln((N+1)/(df+1)) + 1 (smoothed).
    * Fully declarative: two aggregations + a broadcast of the doc
    * count + one window — no driver-side actions. */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val toks = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(total))
      // quantized to 9 decimals in BOTH engines (rank included): at
      // sf0.1 the raw ln() drifts 1 ULP from DuckDB's on ~300/15000
      // rows — the same libm gap q_text_bm25 hit (COVERAGE.md libm
      // note); sf0.01 merely got lucky
      .withColumn("score_d",
        (col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
          .cast("decimal(18,9)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_d").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        Similarity.decToDouble(col("score_d")).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Statistical-LM quality scoring ([[graft.ops.LangModel]], round-11):
    * per-doc average bigram negative log-probability under the corpus's
    * own add-½ bigram model — the CCNet/Gopher perplexity-filter axis.
    * Rule-5b quantized costs; ordering total on doc_id. */
  def lmScoreQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.LangModel.lmScores(docs(s, dir), col("text"), col("doc_id"))
      .orderBy(col("doc_id"))

  /** The accented word list behind q_text_normalize — chosen to cover
    * precomposed Latin, multi-accent words, Greek tonos, and the
    * ß/ø class that accent-stripping must NOT touch. The corpus
    * itself is ASCII (normalization there is the identity — the fast
    * path), so like q_pii_luhn the kernel gates on deterministic
    * synthetic candidates. */
  private val normalizeWords = Seq(
    "café", "données", "tabelle", "über", "señor", "élève",
    "mañana", "zürich", "naïve", "crème brûlée", "søster", "ελληνικά")

  /** UNICODE NORMALIZATION gate (round-13,
    * [[graft.functions.Normalize]] — native codegen'd expressions):
    * each word decomposes (NFD), recomposes (NFC must restore the
    * original bytes), and accent-strips. The oracle embeds the
    * Java-NFD literals (generated at oracle-build time) and replays
    * recomposition with DuckDB's utf8proc `nfc_normalize` and the
    * strip with DuckDB's `strip_accents` — two INDEPENDENT Unicode
    * implementations must land on identical bytes. */
  def normalizeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    normalizeWords.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "word")
      .withColumn("decomposed", graft.functions.Normalize.nfdNormalize("word"))
      .withColumn("recomposed", graft.functions.Normalize.nfcNormalize("decomposed"))
      .withColumn("roundtrip_ok", col("recomposed") === col("word"))
      .withColumn("stripped", graft.functions.Normalize.stripAccentsCol("word"))
      .orderBy(col("id"))
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Oracle for [[normalizeQ]]: VALUES rows carry (word, Java-NFD
    * decomposed) literals; DuckDB recomposes and strips with utf8proc. */
  private def normalizeSql: String = {
    val rows = normalizeWords.zipWithIndex.map { case (w, i) =>
      val nfd = java.text.Normalizer.normalize(w, java.text.Normalizer.Form.NFD)
      s"(${i.toLong}, ${sqlLit(w)}, ${sqlLit(nfd)})"
    }.mkString(",\n           ")
    s"""WITH words(id, word, decomposed) AS (
           VALUES $rows)
         SELECT id, word, decomposed,
           nfc_normalize(decomposed) AS recomposed,
           nfc_normalize(decomposed) = word AS roundtrip_ok,
           strip_accents(word) AS stripped
         FROM words ORDER BY id"""
  }

  /** CURRICULUM SCHEDULE (round-13, the curriculum-learning axis —
    * Bengio et al. 2009, easy→hard ordering by a difficulty score):
    * the corpus staged into 4 ntile cuts of the bigram-LM average
    * cost (the perplexity proxy q_text_lm_score gates), per stage the
    * doc count, bigram mass, and cost band. The ntile is the exact
    * DISTRIBUTED form ([[graft.ops.GlobalRank.withNtile]]: range
    * partition → partition-local rank + driver-collected offsets) —
    * round 14 replaced the `ntile(4).over(Window.orderBy(...))` this
    * query shipped with, which moved one row PER DOCUMENT through a
    * single task (the same shape as the r13 Retrieval scale-killer,
    * caught by the new PlanLintSpec sweep). */
  def curriculumQ(s: SparkSession, dir: String): DataFrame = {
    val sc = graft.ops.LangModel.lmScores(docs(s, dir), col("text"), col("doc_id"))
    graft.ops.GlobalRank.withNtile(sc, 4, "stage",
        Seq(col("avg_cost").asc, col("doc_id").asc))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).cast("long").as("n_bigrams"),
        min(col("avg_cost")).as("min_cost"),
        max(col("avg_cost")).as("max_cost"))
      .orderBy(col("stage"))
  }

  /** OPEN-VOCABULARY LM scoring (round-12,
    * [[graft.ops.LangModel.lmScoresTopK]]): the model is pruned to the
    * top-256 bigrams (the corpus has ~930 — roughly 72 % of model rows
    * fall to the UNK fallback, so the pruned path is genuinely
    * exercised, not a no-op). The oracle replays the same deterministic
    * cut (count desc, bigram asc) and the same per-context UNK cost
    * −ln(α/(c1+α·V)) on rule-5b decimals. This is the shape that
    * survives a web-scale corpus: the broadcast model is K-bounded,
    * context totals stay exact but vocab-sized. */
  def lmScoreTopKQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.LangModel.lmScoresTopK(docs(s, dir), col("text"),
        col("doc_id"), k = 256)
      .orderBy(col("doc_id"))

  /** Okapi BM25 top-3 terms per document (k1 = 1.2, b = 0.75, Lucene's
    * +1-inside-the-log idf so weights stay positive) — the retrieval
    * scoring twin of [[tfidfTop]], adding document-length
    * normalization. One tokenize pass: doc length is Σtf, so the
    * explode is scanned once. df-join strategy left to AQE (the term
    * dictionary is vocabulary-sized — often broadcastable, corpus-sized
    * in the worst case, so no forced hint); only the one-row corpus
    * stats frame is explicitly broadcast. Every double step is written
    * in the same order as the DuckDB oracle, so scores hash-match. */
  def bm25Top(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k1 = 1.2
    val b = 0.75
    val d = docs(s, dir)
    val toks = d.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val scored = tf
      .join(dfreq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log((col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
          (col("df").cast("double") + 0.5) + 1.0))
      .withColumn("score_raw",
        col("idf") * (col("tf").cast("double") * (k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("dl").cast("double") / col("avgdl"))))
      // DuckDB's ln() and Java's Math.log disagree by 1 ULP on ~20% of
      // these inputs (COVERAGE.md libm note) — quantize to 9 decimals
      // and RANK on the quantized score so ordering and output are
      // engine-independent; 1e-9 is 10⁷× the ULP gap, so the rounding
      // itself can't straddle differently
      .withColumn("score_d", col("score_raw").cast("decimal(18,9)"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_d").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        Similarity.decToDouble(col("score_d")).as("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** One-time (per corpus epoch) build of the persisted dedup index the
    * incremental queries ingest against: band table + shingle sets +
    * content-hash set for the doc_id < 400 "already-ingested" corpus.
    * Idempotent — rebuilt only when the artifacts are missing, exactly
    * like a production pipeline that writes the index at corpus-build
    * time and reads it on every batch ingest thereafter (so the
    * per-ingest cost the bench measures is the REAL ingest cost, not an
    * inline corpus re-index). */
  private def dedupIndexPath(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root = sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.props("java.io.tmpdir") + "/graft-dedup-index")
    // key = corpus identity, not just its path: size+mtime of the
    // documents parquet means a REGENERATED corpus at the same path
    // gets a fresh index instead of silently reusing a stale one (the
    // epoch-versioning a production pipeline would carry explicitly).
    // ":v3" = batch-partitioned layout with id-carrying hash table
    // (replay-idempotent ingest); a bump orphans any pre-upgrade index
    // rather than union-ing incompatible schemas/layouts.
    val src = Paths.get(dir, "documents.parquet")
    val fingerprint =
      try s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"
      catch { case _: java.io.IOException => "unknown" }
    val key = java.util.UUID.nameUUIDFromBytes(
      (dir + ":v3:" + fingerprint).getBytes("UTF-8")).toString
    val path = s"$root/$key"
    val complete = Seq("bands", "shingles", "hashes")
      .forall(a => Files.exists(Paths.get(path, a, "batch=-1", "_SUCCESS")))
    if (!complete)
      Dedup.writeDedupIndex(
        docs(s, dir).filter(col("doc_id") < 400), "text", "doc_id", path)
    path
  }

  /** Incremental near-dup ingest: pairs introduced by a new batch
    * (doc_id ≥ 400) against the already-ingested corpus (doc_id < 400)
    * plus within the batch — the corpus is only consulted through its
    * PERSISTED band index + stored candidate shingles
    * ([[Dedup.writeDedupIndex]]), never re-read and never re-shingled.
    * Oracled as the full pair set restricted to ≥ 1 batch-side doc. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.minhashNearDupsIndexed(
        dedupIndexPath(s, dir), d.filter(col("doc_id") >= 400),
        "text", "doc_id", 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Incremental EXACT dedup: classify the new batch against the
    * corpus' persisted content-hash set (dup_of_corpus / dup_in_batch /
    * new) — one join on 32-byte hashes, the corpus never rescanned. */
  def dedupExactIncremental(s: SparkSession, dir: String): DataFrame = {
    val hashes = s.read.parquet(s"${dedupIndexPath(s, dir)}/hashes")
    Dedup.exactGroupsIncremental(
        hashes, docs(s, dir).filter(col("doc_id") >= 400), "text", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Context-window chunking of the corpus: 64-token windows with a
    * 16-token overlap ([[Text.chunks]]) — every chunk row hash-checked
    * against the DuckDB generate_series + list-slice equivalent. */
  def chunksQ(s: SparkSession, dir: String): DataFrame =
    Text.chunks(docs(s, dir), "text", "doc_id")
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The composite training-corpus PREP pipeline — what a user of this
    * engine actually runs end-to-end: quality-filter the corpus (same
    * rule as [[quality]]), mine near-dup pairs on the survivors
    * (MinHash+LSH, exact-verified), resolve them to clusters, keep one
    * doc per cluster, and report per-language corpus stats. Every stage
    * is oracle-expressible, so the WHOLE composition hash-checks
    * against DuckDB (quality CTE → shingle/jaccard CTEs → recursive
    * components → aggregate). */
  def corpusPrep(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val nWords = Text.tokenCount(col("text"))
    val nStop = Text.stopwordCount(col("text"), Text.langMarkers("en"))
    // eagerly checkpointed: the regexp-heavy filter feeds pair mining,
    // the decision join, AND the final aggregate — unmaterialized it
    // re-evaluates per job, and a `.cache()` would pin a corpus-sized
    // entry for the session lifetime (the round-2 bench regression);
    // checkpoint storage is released by the context cleaner once the
    // result frame goes out of scope
    val ok = d
      .withColumn("n_words", nWords)
      .withColumn("stop_ratio", nStop.cast("double") / col("n_words").cast("double"))
      .filter(col("n_words") >= 5 && col("n_words") <= 10000 && col("stop_ratio") >= 0.01)
      .select(col("doc_id"), col("lang"), col("text"), col("n_words"))
      .checkpointLinted()
    val pairs = Dedup.minhashNearDups(ok, "text", "doc_id", 0.8)
    val keepIds = Dedup.dedupDecision(ok, pairs, "doc_id",
        pairsMaterialized = true)
      .filter(col("keep")).select(col("doc_id"))
    ok.join(keepIds, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(length(col("text"))).as("n_chars"))
      .orderBy(col("lang"))
  }

  /** Streaming-DEDUP parity gate (the doc-ingest twin of
    * q_events_stream_parity — the streaming pipelines were previously
    * spec-only because Verify is batch-bound): the corpus (md5 < '8',
    * ~50 % of documents) is indexed ([[Dedup.writeDedupIndex]]), the
    * remaining docs flow BOTH through the pure batch decision
    * ([[graft.streaming.DocStreams.batchDecisions]], eagerly
    * snapshotted) and through the real streaming ingest
    * ([[graft.streaming.DocStreams.dedupIngest]] over a file-stream
    * source, which then extends the shared index), and the per-doc
    * keep/drop statuses must agree exactly. Output = one (doc_id, stream_match) row per streamed
    * doc; oracle = all true. Scratch is [[Harness.scratch]], wiped per
    * run. */
  def dedupStreamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "dedup-stream", dir)
    val d = docs(s, dir)
    val isCorpus = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
    val corpus = d.filter(isCorpus)
    val batch = d.filter(!isCorpus)
    Dedup.writeDedupIndex(corpus, "text", "doc_id", s"$base/index")
    // EAGERLY materialized: the streaming ingest below EXTENDS the same
    // index, so the batch decisions must be snapshotted before it runs
    // (sharing one index halves the corpus indexing cost of this gate).
    // The stream-input write only READS `batch` — independent of the
    // decision snapshot, so the two legs overlap (guide §2.6); both
    // complete before the stream starts.
    // All of the input lands in one micro-batch: its decisions are taken
    // against the pre-stream index, as the batch snapshot's are.
    val legs = Harness.streamParity(s, base, batch.schema, filesPerTrigger = None)(
      () => graft.streaming.DocStreams
        .batchDecisions(batch, s"$base/index", "text", "doc_id", 0.8)
        .select(col("doc_id"), col("status").as("batch_status"))
        .checkpointLinted(),
      () => batch.write.parquet(s"$base/in")) { stream =>
      graft.streaming.DocStreams.dedupIngest(stream, s"$base/index", s"$base/sink")
    }
    val batchDec = legs.head.asInstanceOf[DataFrame]
    val streamDec = s.read.parquet(s"$base/sink/decisions")
      .select(col("doc_id"), col("status").as("stream_status"))
    batchDec.join(streamDec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (col("batch_status").isNotNull && col("stream_status").isNotNull &&
          col("batch_status") === col("stream_status")).as("stream_match"))
      .orderBy(col("doc_id"))
  }

  /** Heavy-hitters gate over document tokens — the bounded-memory
    * frequent-items primitive ([[graft.functions.MisraGriesAggregator]],
    * k = 40 → ≤ 39 counters per partial sketch no matter the corpus
    * size) cross-checked against the exact token counts: one row per
    * EXACT heavy hitter (frequency > n/k — both the row set and `cnt`
    * are DuckDB-derivable), with two deterministic sketch invariants
    * that hold under ANY partitioning/merge order: `in_sketch` (the
    * Misra–Gries guarantee: true frequency > n/k ⇒ the item survives)
    * and `est_ok` (two-sided bound: estimate ≤ true count ≤ estimate +
    * n/k). The gate corpus' 31-token vocabulary fits the counters, so
    * shedding never fires here — the decrement/merge-shed paths are
    * exercised against a high-cardinality skewed stream in
    * MisraGriesSpec instead. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val k = 40
    val toks = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("term"))
    val sketch = toks
      .agg(graft.functions.MisraGries.heavyHitters(k)(col("term")).as("sk"))
      .select(explode(col("sk")).as(Seq("term", "est")))
    // vocabulary-sized and consumed twice (the total and the HH filter)
    // — checkpoint so tokenize+explode runs once for the exact side,
    // not once per consumer (the Dedup cluster-census pattern)
    val tc = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .checkpointLinted()
    val n = tc.agg(sum(col("cnt")).as("n"))
    tc.crossJoin(n)
      .filter(col("cnt").cast("double") > col("n").cast("double") / k)
      .join(sketch, Seq("term"), "left")
      .select(col("term"), col("cnt"),
        col("est").isNotNull.as("in_sketch"),
        (col("est").isNotNull && col("est") <= col("cnt") &&
          (col("cnt") - col("est")).cast("double") <= col("n").cast("double") / k)
          .as("est_ok"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Count-min point-query gate over the same exact heavy-hitter rows
    * as [[heavyHitters]] — the frequency-ESTIMATE sketch
    * ([[graft.functions.CountMinAggregator]], 512×4 counters, 16 KiB
    * regardless of vocabulary) cross-checked against exact counts:
    * `cm_ok` = est ≥ exact (the unconditional count-min guarantee) AND
    * est ≤ exact + e·n/width (the ε-bound; probabilistic in general
    * but DETERMINISTIC for a fixed corpus because count-min merges are
    * abelian — the sketch is bit-identical under any partitioning,
    * asserted in CountMinSpec). The exact-HH row set is ≤ k−1 rows by
    * definition (frequency > n/k), so the driver-side estimate loop is
    * metadata-sized at any corpus scale. */
  def countMinQ(s: SparkSession, dir: String): DataFrame = {
    val width = 512; val depth = 4; val k = 40
    val toks = docs(s, dir)
      .select(explode(Text.tokens(col("text"))).as("term"))
    // vocabulary-sized, consumed by the sketch, the total, AND the HH
    // filter — ONE tokenize+explode pass total (r14: the sketch folds
    // the weighted census via CountMinWeightedAggregator, bit-identical
    // to folding the raw token stream because counter adds are abelian;
    // previously the sketch re-scanned every token)
    val tc = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .checkpointLinted()
    val sk = tc
      .agg(graft.functions.CountMin.sketchWeighted(width, depth)(
        col("term"), col("cnt")).as("sk"))
      .collect()(0).getSeq[Long](0).toArray
    val n = tc.agg(sum(col("cnt")).as("n"))
    // ≤ k−1 exact heavy hitters by definition — a bounded collect
    val hh = tc.crossJoin(n)
      .filter(col("cnt").cast("double") > col("n").cast("double") / k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    import s.implicits._
    hh.toSeq.map { case (term, cnt, total) =>
      val est = graft.functions.CountMin.estimate(sk, term, width, depth)
      (term, cnt,
        est >= cnt && (est - cnt).toDouble <= math.E * total / width)
    }.toDF("term", "cnt", "cm_ok")
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Deterministic content-hash sampling — the reproducible train/test
    * split of data pipelines: a row's split follows md5 of its id, so
    * membership is stable across runs, partitionings, engines, and
    * incremental re-runs (unlike rand()-based sampling). ~10% sample:
    * first md5 byte < 0x1a. md5 is identical in Spark and DuckDB, so
    * the sample is fully oracle-checked. */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 2))
      .filter(col("h") < "1a")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Deterministic STRATIFIED train/val/test split — the manifest step
    * of a training pipeline: each doc's split follows the first md5
    * byte of its id (hex-string thresholds 0xCD/0xE6 ≈ 80/10/10), so
    * membership is reproducible across runs, engines, partitionings,
    * and incremental re-runs, and the per-language report shows the
    * stratification holds per stratum. Pure map + one partial-agg
    * shuffle of (lang, split) rows — nothing about it changes at
    * 100 TB. */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 2))
      .withColumn("split",
        when(col("h") < "cd", "train")
          .when(col("h") < "e6", "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("lang"), col("split"))

  /** PII scrub gate — detection counts + redaction
    * ([[graft.ops.Text.piiPatterns]]) over a corpus deterministically
    * DECORATED with synthetic PII first (the test corpus has none; the
    * decoration is the same md5-gated expression in both engines, so
    * the gate exercises real match/replace semantics on real text):
    * ~1/2 of docs get an email, 1/4 a phone, 1/8 an IPv4, 1/16 an
    * SSN, all derived from doc_id. `pii_clean` re-counts every
    * pattern on the REDACTED text — the invariant that redaction
    * reaches a fixpoint in one pass. Pure projection: scan → decorate
    * → count/redact → sort; scan-speed at any corpus size. */
  /** The synthetic-PII decoration shared by `q_text_pii` and
    * `q_curation_pipeline`: a deterministic md5-gated suffix per doc
    * (same expression in the oracle SQL), carrying through every
    * `keep` column unchanged. */
  private def decoratePii(d: DataFrame, keep: Seq[String]): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val id = col("doc_id").cast("string")
    def mod(m: Int, w: Int) =
      lpad((col("doc_id") % m).cast("string"), w, "0")
    d.select((col("doc_id") +: keep.map(col)) :+
      concat(col("text"),
        when(h < "8", concat(lit(" reach user"), id, lit("@example.com")))
          .otherwise(lit("")),
        when(h < "4", concat(lit(" call 555-"), mod(1000, 3), lit("-"),
          mod(10000, 4))).otherwise(lit("")),
        when(h < "2", concat(lit(" host 10."),
          (col("doc_id") % 256).cast("string"), lit(".0.1")))
          .otherwise(lit("")),
        when(h < "1", concat(lit(" ssn "), mod(1000, 3), lit("-"),
          mod(100, 2), lit("-"), mod(10000, 4))).otherwise(lit("")))
        .as("text"): _*)
  }

  def piiQ(s: SparkSession, dir: String): DataFrame = {
    val decorated = decoratePii(docs(s, dir), Seq.empty)
    decorated.select(
      (col("doc_id") +:
        Text.piiCounts(col("text")).map { case (n, c) => c.as(s"n_$n") }) :+
        Text.redactPii(col("text")).as("redacted"): _*)
      .withColumn("pii_clean",
        Text.piiCounts(col("redacted")).map(_._2).reduce(_ + _) === 0)
      .orderBy(col("doc_id"))
  }

  /** Decontamination gate ([[graft.ops.Dedup.decontaminate]]): eval
    * set = docs whose first md5 hex char is 'f' (~1/16 of the corpus
    * standing in for a held-out benchmark), candidates = the rest,
    * 4-gram overlap (n = 4 keeps the gate non-vacuous at every SF:
    * ~10 % of candidates share a 4-gram with the eval slice; at n ≥ 5
    * almost none do). One row per candidate, negatives included. */
  def decontamQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    Dedup.decontaminate(
        d.filter(h =!= "f"), d.filter(h === "f"), "text", "doc_id", n = 4)
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL decontamination gate: the eval slice's shingle index
    * is persisted once ([[graft.ops.Dedup.writeEvalShingleIndex]] — a
    * write-once epoch artifact, benchmark suites being static), then
    * the candidate corpus arrives as two disjoint md5 halves
    * decontaminated independently against the stored index
    * ([[graft.ops.Dedup.decontaminateIndexed]]) — the ingest shape,
    * where per-batch cost is batch + one index scan and the eval docs
    * are never re-shingled. The union of the halves must equal the
    * one-shot [[decontamQ]] output bit-for-bit: same oracle SQL. */
  def decontamIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val idx = Harness.scratch(s, "decontam-index", dir)
    Dedup.writeEvalShingleIndex(d.filter(h === "f"), "text", "doc_id", idx)
    val cands = d.filter(h =!= "f")
    val half = substring(md5(col("doc_id").cast("string")), 2, 1) < "8"
    Dedup.decontaminateIndexed(cands.filter(half), idx, "text", "doc_id")
      .unionAll(
        Dedup.decontaminateIndexed(cands.filter(!half), idx, "text", "doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Mixture-resample gate ([[graft.ops.Sampling.mixtureResample]]):
    * equal-share targets (1/5 per language) over a corpus that is
    * ~40 % en — en is thinned toward N/5 while the four minority
    * languages (~15 % each) hit the keep-all cap, exercising both
    * branches at every SF. `chars_kept` sums n_chars over the kept
    * docs, so the gate pins exactly WHICH docs survived, not just how
    * many. */
  def mixtureQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val kept = Sampling.mixtureResample(d, "lang", "doc_id",
      Seq("de", "en", "es", "fr", "zh").map(_ -> (1, 5)).toMap)
    val after = kept.groupBy(col("lang")).agg(
      count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    d.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
      .join(after, Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
      .orderBy(col("lang"))
  }

  /** TRAINED-MODEL curation composition — the learned scorer inside
    * the curation DAG: train the [[graft.ops.QualityModel]] ridge
    * classifier on the corpus, keep docs it accepts, then equal-share
    * mixture-resample the survivors and report the per-language
    * manifest. The oracle composes the unrolled-GD keep set with the
    * md5 mixture replay — model drift, keep drift, and resample drift
    * each break the hash. Scale shape: scoring is scan-fused, the
    * mixture census shuffles stratum counts only. */
  def curationTrained(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val keepIds = graft.ops.QualityModel.scoredFrame(d)
      .filter(col("keep")).select(col("doc_id"))
    val base = d.join(keepIds, "doc_id").checkpointLinted()
    val kept = Sampling.mixtureResample(base, "lang", "doc_id",
      Seq("de", "en", "es", "fr", "zh").map(_ -> (1, 5)).toMap)
    val after = kept.groupBy(col("lang")).agg(
      count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    base.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
      .join(after, Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("chars_kept"), lit(0L)).as("chars_kept"))
      .orderBy(col("lang"))
  }

  /** END-TO-END curation pipeline — the full training-data prep chain
    * as ONE composed, fully-oracled query: synthetic-PII decoration →
    * redaction ([[graft.ops.Text.redactPii]]) → quality filter (the
    * `q_corpus_prep` rule, applied to the redacted text) → benchmark
    * decontamination ([[graft.ops.Dedup.decontaminate]], md5-'f'
    * slice as the eval stand-in, contaminated docs dropped) →
    * data-mixture resampling ([[graft.ops.Sampling.mixtureResample]],
    * equal language shares) → per-language manifest (docs, tokens,
    * docs-carrying-redactions). Every stage is scan-linear or
    * broadcast-joined, so the composition inherits the per-operator
    * 100 TB shape: documents shuffle exactly once (the final 5-row
    * aggregate's partial-agg exchange). */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 1)
    val redacted = decoratePii(docs(s, dir), Seq("lang"))
      .withColumn("text", Text.redactPii(col("text")))
    val nStop = Text.stopwordCount(col("text"), Text.langMarkers("en"))
    val ok = redacted
      .withColumn("n_words", Text.tokenCount(col("text")))
      .withColumn("stop_ratio",
        nStop.cast("double") / col("n_words").cast("double"))
      .filter(col("n_words") >= 5 && col("n_words") <= 10000 &&
        col("stop_ratio") >= 0.01)
      .select(col("doc_id"), col("lang"), col("text"), col("n_words"))
      .checkpointLinted() // feeds eval shingles, cand shingles, AND stats
    val decisions = Dedup.decontaminate(
      ok.filter(h =!= "f"), ok.filter(h === "f"), "text", "doc_id", n = 4)
    // checkpointed: the mixture census (one action) and the returned
    // filter would otherwise each re-run the decontamination join
    val clean = ok.join(
        decisions.filter(!col("contaminated")).select(col("doc_id")), "doc_id")
      .checkpointLinted()
    val kept = Sampling.mixtureResample(clean, "lang", "doc_id",
      Seq("de", "en", "es", "fr", "zh").map(_ -> (1, 5)).toMap)
    kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        count(when(col("text").rlike("<(EMAIL|SSN|PHONE|IPV4)>"), 1))
          .as("n_redacted"))
      .orderBy(col("lang"))
  }

  /** The md5-of-id epoch split shared by the corpus-comparison gates:
    * epoch A = first hex digit of md5(doc_id) below '8' (~half the
    * corpus), epoch B = the rest — a pure function of the id, so both
    * engines carve identical epochs. */
  private def inEpochA: Column =
    substring(md5(col("doc_id").cast("string")), 1, 1) < "8"

  /** Epoch-overlap estimation ([[graft.ops.CorpusStats.overlapBottomK]]):
    * bottom-256 content-hash sketches of the two md5 epochs, the KMV
    * Jaccard estimate next to its exact audit. */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.ops.CorpusStats.overlapBottomK(
      d.filter(inEpochA), d.filter(!inEpochA), "text", k = 256)
  }

  /** Epoch drift ([[graft.ops.CorpusStats.psi]]): population stability
    * index over 10 equal-width n_chars bins between the md5 epochs. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusStats.psi(docs(s, dir), col("n_chars"), inEpochA)

  /** LEAKAGE-SAFE train/val/test split: near-dup clusters are assigned
    * to splits ATOMICALLY — the split is a function of the cluster id
    * (md5 first hex: < 'c' train ~75 %, < 'e' val ~12.5 %, else test),
    * so no near-duplicate pair can straddle a split boundary and leak
    * eval content into training. The output carries the per-split
    * census AND the crossing-pair audit (0 by construction; computing
    * it proves it — a broken cluster assignment flips the column).
    * Scale: the pair graph and components are the q_dedup_clusters
    * machinery; the audit is one pair-sized join. */
  def leakageSplit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // the decision AND the audit both consume the mined pair graph —
    // already an eager cut ([[Dedup.minhashNearDups]] checkpoints its
    // verified pairs), so no second materialization here
    val pairs = Dedup.minhashNearDups(d, "text", "doc_id", 0.8)
    val hx = substring(md5(col("cluster_id").cast("string")), 1, 1)
    val assigned = Dedup.dedupDecision(d, pairs, "doc_id",
      pairsMaterialized = true)
      .withColumn("split",
        when(hx < "c", "train").when(hx < "e", "val").otherwise("test"))
    val bySplit = assigned.groupBy(col("split")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("cluster_id")).as("n_clusters"))
    val crossing = pairs
      .join(assigned.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(assigned.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .agg(coalesce(
        sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L)),
        lit(0L)).as("crossing_pairs"))
    bySplit.crossJoin(crossing).orderBy(col("split"))
  }

  private val shingleCte =
    """WITH sp AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM documents),
       sh AS (
         SELECT doc_id,
           unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                 for i in range(1, len(w) - 1)])) AS shingle
         FROM sp),
       sizes AS (SELECT doc_id, count(1) AS n FROM sh GROUP BY 1),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS c
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       jacs AS (
         SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
         FROM inter
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b)"""

  /** [[shingleCte]] extended through the positional span machinery:
    * exact-Jaccard pair set at 0.8 → positional 3-grams → per-pair
    * matches → gaps-and-islands runs → best island per pair with the
    * engine's deterministic tie-break (span desc, start_a, start_b).
    * Positions are emitted 0-based (min(pa) − 1) to match Spark's
    * posexplode. */
  private val spanCte = shingleCte + """,
       prs AS (SELECT doc_a, doc_b FROM jacs WHERE jaccard >= 0.8),
       posh AS (
         SELECT doc_id, t.i AS pos,
           w[t.i] || ' ' || w[t.i+1] || ' ' || w[t.i+2] AS g
         FROM sp CROSS JOIN LATERAL
           (SELECT unnest(range(1, greatest(len(w) - 1, 1))) AS i) t),
       m AS (
         SELECT p.doc_a, p.doc_b, a.pos AS pa, b.pos AS pb
         FROM prs p
         JOIN posh a ON a.doc_id = p.doc_a
         JOIN posh b ON b.doc_id = p.doc_b AND b.g = a.g),
       runs AS (
         SELECT doc_a, doc_b, pa - pb AS delta, pa,
           pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                   ORDER BY pa) AS grp
         FROM m),
       islands AS (
         SELECT doc_a, doc_b, delta, grp,
           count(1) + 2 AS span, CAST(min(pa) - 1 AS BIGINT) AS start_a
         FROM runs GROUP BY doc_a, doc_b, delta, grp),
       best AS (
         SELECT doc_a, doc_b, CAST(span AS BIGINT) AS span_tokens, start_a,
           start_a - delta AS start_b,
           row_number() OVER (PARTITION BY doc_a, doc_b
                              ORDER BY span DESC, start_a, start_a - delta)
             AS rn
         FROM islands)"""

  /** Recursive-CTE components walk over the exact-Jaccard pair graph —
    * the shared oracle of q_dedup_clusters and its stars-path twin
    * (both algorithms converge to the same component minima). */
  private val clustersSql =
    shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
         pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jacs WHERE jaccard >= 0.8),
         edges AS MATERIALIZED (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id)
         SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         ORDER BY d.doc_id"""

  /** The full-census LM replay — shared by q_text_lm_score and its
    * persisted-index twin (the index round-trip must not change a
    * single quantized cost). */
  /** The bigram-LM replay through a per-document `scored` CTE — shared
    * by the score gates and the curriculum staging. */
  private val lmScoreCte =
    """WITH toks AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
         FROM documents),
       pairs AS (
         SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
         FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - 1)) AS i
               FROM toks WHERE len(t) >= 2)),
       bi AS (SELECT bigram, count(1) AS c12 FROM pairs GROUP BY 1),
       biw AS (
         SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1 FROM bi),
       uni AS (
         SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM biw GROUP BY 1),
       vocab AS (
         SELECT count(DISTINCT tok) AS v
         FROM (SELECT unnest(t) AS tok FROM toks)),
       model AS (
         SELECT bigram,
           CAST(CAST(-ln((c12 + 0.5) / (c1 + 0.5 * v)) AS VARCHAR)
             AS DECIMAL(18,9)) AS cost_d
         FROM biw JOIN uni USING (w1) CROSS JOIN vocab),
       scored AS (
         SELECT doc_id, count(1) AS n_bigrams,
           CAST(CAST(sum(cost_d) AS VARCHAR) AS DOUBLE) AS sum_cost,
           CAST(CAST(sum(cost_d) AS VARCHAR) AS DOUBLE) / count(1) AS avg_cost
         FROM pairs JOIN model USING (bigram)
         GROUP BY doc_id)"""

  private val lmScoreSql = lmScoreCte + """
       SELECT doc_id, n_bigrams, sum_cost, avg_cost
       FROM scored ORDER BY doc_id"""

  /** Oracle for q_text_curriculum: the per-doc scores cut easy→hard
    * into 4 ntile stages (avg_cost asc, doc_id tie-break — both
    * doubles derive from the same VARCHAR-hopped decimal sum, so the
    * cut order is engine-identical). */
  private val curriculumSql = lmScoreCte + """,
       staged AS (
         SELECT doc_id, n_bigrams, avg_cost,
           ntile(4) OVER (ORDER BY avg_cost ASC, doc_id ASC) AS stage
         FROM scored)
       SELECT stage, count(1) AS n_docs,
         CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
         min(avg_cost) AS min_cost, max(avg_cost) AS max_cost
       FROM staged GROUP BY stage ORDER BY stage"""

  /** The DSIR replay ([[dsirWeights]]): both bigram models rebuilt in
    * SQL on the shared DECIMAL(18,9) grid, target-side misses through
    * the coalesce(model, unk, floor) ladder, per-occurrence weights
    * summed as exact decimals. `topKCase` swaps in the pruned-count
    * CASE on both models — c12 treated as 0 past the cut evaluates to
    * exactly the UNK cost, so the CASE replays the engine's K-bounded
    * broadcast + fallback path value-for-value. Ends with `wsums`
    * (doc_id, is_target, n_bigrams, w_sum, w_avg). */
  private def dsirCte(topKCase: Boolean): String = {
    val rc12 = if (topKCase) "(CASE WHEN rk <= 256 THEN c12 ELSE 0 END)" else "c12"
    s"""WITH toks AS (
         SELECT doc_id, lang = 'en' AS is_target,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents),
       pairs AS (
         SELECT doc_id, is_target, t[i] || ' ' || t[i + 1] AS bigram
         FROM (SELECT doc_id, is_target, t,
                 unnest(generate_series(1, len(t) - 1)) AS i
               FROM toks WHERE len(t) >= 2)),
       rbi AS (SELECT bigram, count(1) AS c12 FROM pairs GROUP BY 1),
       rbiw AS (
         SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
           row_number() OVER (ORDER BY c12 DESC, bigram) AS rk
         FROM rbi),
       runi AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM rbiw GROUP BY 1),
       rv AS (SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(t) AS tok FROM toks)),
       rmodel AS (
         SELECT bigram,
           CAST(CAST(-ln(($rc12 + 0.5) / (c1 + 0.5 * v)) AS VARCHAR)
             AS DECIMAL(18,9)) AS rc
         FROM rbiw JOIN runi USING (w1) CROSS JOIN rv),
       tbi AS (SELECT bigram, count(1) AS c12 FROM pairs
               WHERE is_target GROUP BY 1),
       tbiw AS (
         SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
           row_number() OVER (ORDER BY c12 DESC, bigram) AS rk
         FROM tbi),
       tuni AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM tbiw GROUP BY 1),
       tv AS (SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(t) AS tok FROM toks WHERE is_target)),
       tmodel AS (
         SELECT bigram,
           CAST(CAST(-ln(($rc12 + 0.5) / (c1 + 0.5 * v)) AS VARCHAR)
             AS DECIMAL(18,9)) AS tc
         FROM tbiw JOIN tuni USING (w1) CROSS JOIN tv),
       tunk AS (
         SELECT w1,
           CAST(CAST(-ln(0.5 / (c1 + 0.5 * v)) AS VARCHAR)
             AS DECIMAL(18,9)) AS uc
         FROM tuni CROSS JOIN tv),
       tfloor AS (
         SELECT CAST(CAST(ln(greatest(v, 1)) AS VARCHAR)
             AS DECIMAL(18,9)) AS fc
         FROM tv),
       scored AS (
         SELECT p.doc_id, p.is_target,
           rm.rc - coalesce(tm.tc, tu.uc, tf.fc) AS w
         FROM pairs p
         JOIN rmodel rm USING (bigram)
         LEFT JOIN tmodel tm USING (bigram)
         LEFT JOIN tunk tu ON tu.w1 = split_part(p.bigram, ' ', 1)
         CROSS JOIN tfloor tf),
       wsums AS (
         SELECT doc_id, is_target, count(1) AS n_bigrams,
           CAST(CAST(sum(w) AS VARCHAR) AS DOUBLE) AS w_sum,
           CAST(CAST(sum(w) AS VARCHAR) AS DOUBLE) / count(1) AS w_avg
         FROM scored GROUP BY 1, 2)"""
  }

  /** The REAL-decode replay: every luma pixel of each document's P6
    * container, in pure integer SQL. Container geometry — width 8,
    * height h = ceil(n/24), raster = source bytes cycled to 24·h —
    * comes straight from [[graft.ops.Multimodal.Ppm.encodeFromBytes]];
    * pixel j's luma is the BT.601 integer form over the cycled triplet
    * (ASCII corpus, so ascii(substr) IS the source byte). Yields
    * (doc_id, m = 8·h pixels, j, gray). */
  private val grayPxCte =
    """WITH src AS (
         SELECT doc_id, text, length(text) AS n,
                greatest(1, CAST(ceil(length(text) / 24.0) AS BIGINT)) AS h
         FROM documents),
       px0 AS (
         SELECT doc_id, text, n, 8 * h AS m,
                unnest(generate_series(0, 8 * h - 1)) AS j
         FROM src),
       px AS (
         SELECT doc_id, m, j,
           (299 * ascii(substr(text, CAST((3*j)   % n AS INT) + 1, 1))
          + 587 * ascii(substr(text, CAST((3*j+1) % n AS INT) + 1, 1))
          + 114 * ascii(substr(text, CAST((3*j+2) % n AS INT) + 1, 1)))
           // 1000 AS gray
         FROM px0)"""

  /** Blockhash bits rebuilt in pure integer SQL — the exact mirror of
    * [[Multimodal.blockhash64]]: byte i (ASCII text, so ascii(substr)
    * IS the payload byte) → cell i·64/n; bit = cell mean > global mean
    * by cross-multiplication; absent cells (n < 64 docs) pad to 0 via
    * the explicit 0..63 grid, exactly like the engine's zeroed
    * accumulators. Feeds the PAIR-MINING oracles (content-byte basis —
    * see [[multimodalPhashPairs]] for why). */
  private val phashCte =
    """WITH px AS (
         SELECT doc_id, unnest(generate_series(0, length(text) - 1)) AS i,
                text, length(text) AS n
         FROM documents),
       v AS (
         SELECT doc_id, n, (i * 64) // n AS cell,
                ascii(substr(text, i + 1, 1)) AS p
         FROM px),
       sums AS (
         SELECT doc_id, cell, sum(p) AS cs, count(1) AS cc
         FROM v GROUP BY doc_id, cell),
       tot AS (
         SELECT doc_id, sum(cs) AS ts FROM sums GROUP BY 1),
       dl AS (SELECT doc_id, length(text) AS n FROM documents),
       grid AS (
         SELECT doc_id, unnest(generate_series(0, 63)) AS cell FROM documents),
       pbits AS (
         SELECT g.doc_id, g.cell,
           -- LEFT joins + coalesce: an EMPTY text has no px/sums/tot
           -- rows at all, and must still produce 64 zero bits exactly
           -- like the engine's n == 0 branch (phash = 0)
           CASE WHEN coalesce(s.cs, 0) * d.n > coalesce(t.ts, 0) * coalesce(s.cc, 0)
                THEN '1' ELSE '0' END AS bit
         FROM grid g JOIN dl d USING (doc_id)
         LEFT JOIN tot t USING (doc_id)
         LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.cell = g.cell),
       ph AS (
         SELECT doc_id, string_agg(bit, '' ORDER BY cell DESC) AS phash_bits
         FROM pbits GROUP BY doc_id)"""

  /** Shared by `q_text_decontam` and `q_text_decontam_incremental`:
    * the incremental gate is defined as bit-equal to the one-shot
    * decontamination, so both compare against the same SQL. */
  private val decontamSql =
    """WITH tok AS (
         SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
         FROM documents),
       sh AS (
         SELECT DISTINCT doc_id, list_aggregate(w[i:i+3], 'string_agg', ' ') AS s
         FROM tok, unnest(range(1, len(w) - 2)) AS t(i) WHERE len(w) >= 4),
       ev AS (
         SELECT DISTINCT s FROM sh
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'),
       ov AS (
         SELECT c.doc_id, count(1) AS n_overlap
         FROM (SELECT * FROM sh
               WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f') c
         JOIN ev ON ev.s = c.s GROUP BY 1)
       SELECT d.doc_id, coalesce(n_overlap, 0) AS n_overlap,
         coalesce(n_overlap, 0) >= 1 AS contaminated
       FROM documents d LEFT JOIN ov USING (doc_id)
       WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) <> 'f'
       ORDER BY d.doc_id"""

  /** SQL twin of [[inEpochA]]. */
  private val epochASql = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'"

  val queries: Seq[Query] = Seq(
    // bottom-k sketch + exact-audit replay, same md5 draw both engines
    Query("q_corpus_overlap", corpusOverlap,
      graft.ops.CorpusStats.overlapOracleSql(
      "documents", "text", 256, epochASql, s"NOT ($epochASql)")),
    // PSI replay: same integer bucketing, smoothed shares, hopped lns
    Query("q_corpus_drift", corpusDrift,
      graft.ops.CorpusStats.psiOracleSql(
      "documents", "n_chars", epochASql)),
    // incremental drift: the envelope pins at epoch start, three
    // md5-seamed ingest batches census independently (additive
    // partials, batch-id-keyed overwrite ⇒ replay-idempotent — batch 1
    // is deliberately written twice), and the fold must land on the
    // ONE-SHOT q_corpus_drift oracle — the batching is value-invisible
    // the fold of pinned-envelope batch partials must equal the
    // one-shot PSI — same oracle verbatim
    // gate: sketch / census-partial writes dominate; the serve plans
    // bench as q_corpus_overlap / q_corpus_drift
    Query("q_corpus_drift_incremental", (s, dir) => {
      val base = Harness.scratch(s, "drift", dir)
      val cs = graft.ops.CorpusStats
      val d = docs(s, dir)
      val env = d.agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx")).head()
      cs.writeDriftMeta(s, base, env.getLong(0), env.getLong(1), 10)
      val h2 = substring(md5(col("doc_id").cast("string")), 2, 1)
      val seams = Seq(h2 < "6", h2 >= "6" && h2 < "b", h2 >= "b")
      seams.zipWithIndex.foreach { case (pred, i) =>
        cs.writeDriftPartial(
          cs.psiCensusPinned(d.filter(pred), col("n_chars"), inEpochA,
            10, env.getLong(0), env.getLong(1)), base, i.toLong)
      }
      // at-least-once replay of batch 1: the overwrite absorbs it
      cs.writeDriftPartial(
        cs.psiCensusPinned(d.filter(seams(1)), col("n_chars"), inEpochA,
          10, env.getLong(0), env.getLong(1)), base, 1L)
      cs.driftFromPartials(s, base)
    },
      graft.ops.CorpusStats.psiOracleSql(
      "documents", "n_chars", epochASql), gate = true),
    // the persisted-artifact twin: epoch A's sketch built
    // ASSOCIATIVELY from two independently persisted md5 halves
    // (merge(sketch(A1), sketch(A2)) = sketch(A) exactly), epoch B's
    // read back from parquet; the estimate is served from 2k sketch
    // rows with NO corpus access — and must land on the from-scratch
    // oracle replay, so both the round-trip and the split are
    // value-invisible
    // sketch-only replay: the persisted/merged build must reproduce
    // the from-scratch bottom-k row
    // gate: sketch / census-partial writes dominate; the serve plans
    // bench as q_corpus_overlap / q_corpus_drift
    Query("q_corpus_overlap_persisted", (s, dir) => {
      val base = Harness.scratch(s, "sketch", dir)
      val cs = graft.ops.CorpusStats
      val d = docs(s, dir)
      val h2 = substring(md5(col("doc_id").cast("string")), 2, 1)
      val a = d.filter(inEpochA)
      cs.writeSketch(a.filter(h2 < "8"), "text", 256, s"$base/a1")
      cs.writeSketch(a.filter(h2 >= "8"), "text", 256, s"$base/a2")
      cs.writeSketch(d.filter(!inEpochA), "text", 256, s"$base/b")
      cs.overlapFromSketches(
        cs.mergeSketches(cs.readSketch(s, s"$base/a1"),
          cs.readSketch(s, s"$base/a2"), 256),
        cs.readSketch(s, s"$base/b"), 256)
    },
      graft.ops.CorpusStats.overlapSketchOracleSql(
      "documents", "text", 256, epochASql, s"NOT ($epochASql)"), gate = true),
    // per-doc n-gram novelty of epoch B against epoch A — the
    // freshness curve an ingest tracks per dump
    // novelty replay: the decontam string-shingle machinery, counting
    // the reference-absent side per candidate (engine hashes vs oracle
    // strings — the documented ~1.5e-8/pair collision contract)
    Query("q_text_novelty", (s, dir) => {
      val d = docs(s, dir)
      Dedup.noveltyScores(d.filter(!inEpochA), d.filter(inEpochA),
          "text", "doc_id", n = 4)
        .orderBy(col("doc_id"))
    },
      s"""WITH tok AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, list_aggregate(w[i:i+3], 'string_agg', ' ') AS s
           FROM tok, unnest(range(1, len(w) - 2)) AS t(i) WHERE len(w) >= 4),
         ref AS (
           SELECT DISTINCT s, true AS seen FROM sh WHERE $epochASql),
         ov AS (
           SELECT c.doc_id, count(1) AS n_ngrams,
             CAST(sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
           FROM (SELECT * FROM sh WHERE NOT ($epochASql)) c
           LEFT JOIN ref ON ref.s = c.s GROUP BY 1)
         SELECT d.doc_id, coalesce(n_ngrams, 0) AS n_ngrams,
           coalesce(n_novel, 0) AS n_novel,
           CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0.0
                ELSE CAST(n_novel AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
           END AS novelty
         FROM documents d LEFT JOIN ov USING (doc_id)
         WHERE NOT ($epochASql)
         ORDER BY d.doc_id"""),
    // leakage-safe split: the q_dedup_clusters recursive-CTE component
    // walk, splits assigned from md5(cluster_id), crossing-pair audit
    Query("q_split_leakage", leakageSplit,
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
         pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jacs WHERE jaccard >= 0.8),
         edges AS MATERIALIZED (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
         labeled AS (
           SELECT d.doc_id,
             coalesce(c.cluster_id, d.doc_id) AS cluster_id,
             CASE
               WHEN substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) < 'c' THEN 'train'
               WHEN substr(md5(CAST(coalesce(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 1) < 'e' THEN 'val'
               ELSE 'test' END AS split
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         bysplit AS (
           SELECT split, count(1) AS n_docs,
             count(DISTINCT cluster_id) AS n_clusters
           FROM labeled GROUP BY 1),
         crossing AS (
           SELECT coalesce(CAST(sum(
               CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT),
             0) AS crossing_pairs
           FROM pairs p
           JOIN labeled a ON a.doc_id = p.doc_a
           JOIN labeled b ON b.doc_id = p.doc_b)
         SELECT split, n_docs, n_clusters, crossing_pairs
         FROM bysplit CROSS JOIN crossing ORDER BY split""")),
    // invariant gates: every boolean is a deterministic full-corpus
    // check computed in Spark (see the query scaladocs); the oracle
    // pins the universe of doc_ids and demands every check hold
    Query("q_dedup_simhash", simhashQ,
      "SELECT doc_id, true AS sig_ok FROM documents ORDER BY doc_id"),
    Query("q_dedup_simhash_pairs", simhashPairs,
      "SELECT doc_id, true AS pairs_ok FROM documents ORDER BY doc_id"),
    Query("q_dedup_stream_parity", dedupStreamParity,
      """SELECT doc_id, true AS stream_match FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'
         ORDER BY doc_id""", gate = true),
    Query("q_text_heavy_hitters", heavyHitters,
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tc AS (SELECT term, count(1) AS cnt FROM toks GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tc)
         SELECT term, cnt, true AS in_sketch, true AS est_ok
         FROM tc CROSS JOIN n
         WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / 40
         ORDER BY cnt DESC, term"""),
    Query("q_text_countmin", countMinQ,
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tc AS (SELECT term, count(1) AS cnt FROM toks GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tc)
         SELECT term, cnt, true AS cm_ok
         FROM tc CROSS JOIN n
         WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / 40
         ORDER BY cnt DESC, term"""),
    Query("q_sample_stratified", stratifiedSplit,
      """WITH s AS (
           SELECT lang, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
           FROM documents)
         SELECT lang, split, count(1) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
         FROM s GROUP BY lang, split ORDER BY lang, split"""),
    Query("q_sample_hash", hashSample,
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
         ORDER BY doc_id"""),
    Query("q_text_pii", piiQ,
      """WITH dec AS (
           SELECT doc_id, text ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
               THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
               THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
               THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
               ELSE '' END ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '1'
               THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END AS text
           FROM documents),
         red AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
             CAST(len(regexp_extract_all(text,
               '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
             CAST(len(regexp_extract_all(text,
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INT) AS n_phone,
             CAST(len(regexp_extract_all(text,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ipv4,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS redacted
           FROM dec)
         SELECT doc_id, n_email, n_ssn, n_phone, n_ipv4, redacted,
           len(regexp_extract_all(redacted,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           + len(regexp_extract_all(redacted, '\b\d{3}-\d{2}-\d{4}\b'))
           + len(regexp_extract_all(redacted, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
           + len(regexp_extract_all(redacted,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) = 0 AS pii_clean
         FROM red ORDER BY doc_id"""),
    Query("q_text_decontam", decontamQ, decontamSql),
    // the incremental gate is DEFINED as bit-equal to the one-shot
    // decontamination (two indexed halves, unioned) — same oracle
    Query("q_text_decontam_incremental", decontamIncrementalQ, decontamSql, gate = true),
    Query("q_curation_pipeline", curationPipeline,
      """WITH dec AS (
           SELECT doc_id, lang, text ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
               THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
               THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
               THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
               ELSE '' END ||
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '1'
               THEN ' ssn ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                 || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END AS text
           FROM documents),
         red AS (
           SELECT doc_id, lang,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g') AS text
           FROM dec),
         q AS (
           SELECT doc_id, lang, text,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INT) AS n_words,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|data|table)\b')) AS INT) AS n_stop
           FROM red),
         ok AS (
           SELECT doc_id, lang, text, n_words FROM q
           WHERE n_words >= 5 AND n_words <= 10000
             AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.01),
         tok AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM ok),
         sh AS (
           SELECT DISTINCT doc_id, list_aggregate(w[i:i+3], 'string_agg', ' ') AS s
           FROM tok, unnest(range(1, len(w) - 2)) AS t(i) WHERE len(w) >= 4),
         ev AS (
           SELECT DISTINCT s FROM sh
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'),
         contam AS (
           SELECT DISTINCT c.doc_id
           FROM (SELECT * FROM sh
                 WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f') c
           JOIN ev ON ev.s = c.s),
         clean AS (
           SELECT * FROM ok
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f'
             AND doc_id NOT IN (SELECT doc_id FROM contam)),
         c AS (SELECT lang, count(1) AS cnt FROM clean GROUP BY 1),
         tot AS (SELECT count(1) AS n FROM clean),
         th AS (
           SELECT lang, cnt,
             LEAST(CAST(65536 AS HUGEINT),
               (CAST(n AS HUGEINT) * 65536) // (5 * cnt)) AS t
           FROM c, tot),
         keep AS (
           SELECT lang,
             CASE WHEN t >= 65536 THEN 'g'
                  ELSE printf('%04x', CAST(t AS INT)) END AS kb
           FROM th),
         kept AS (
           SELECT cl.* FROM clean cl JOIN keep USING (lang)
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < kb)
         SELECT lang, count(1) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens,
           count(1) FILTER (regexp_matches(text, '<(EMAIL|SSN|PHONE|IPV4)>'))
             AS n_redacted
         FROM kept GROUP BY lang ORDER BY lang"""),
    Query("q_mix_sample", mixtureQ,
      """WITH c AS (SELECT lang, count(1) AS cnt FROM documents GROUP BY 1),
         tot AS (SELECT count(1) AS n FROM documents),
         th AS (
           SELECT lang, cnt,
             LEAST(CAST(65536 AS HUGEINT),
               (CAST(n AS HUGEINT) * 65536) // (5 * cnt)) AS t
           FROM c, tot),
         keep AS (
           SELECT lang, cnt,
             CASE WHEN t >= 65536 THEN 'g'
                  ELSE printf('%04x', CAST(t AS INT)) END AS kb
           FROM th),
         kept AS (
           SELECT d.lang, d.n_chars FROM documents d JOIN keep USING (lang)
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < kb)
         SELECT k.lang, k.cnt AS n_before,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(a.chars_kept, 0) AS chars_kept
         FROM keep k LEFT JOIN (
           SELECT lang, count(1) AS n_kept,
             CAST(sum(n_chars) AS BIGINT) AS chars_kept
           FROM kept GROUP BY 1) a USING (lang)
         ORDER BY k.lang"""),
    Query("q_text_tfidf", tfidfTop,
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(1) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(1) AS df FROM tf GROUP BY 1),
         total AS (SELECT count(1) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf,
             CAST(CAST(tf.tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS VARCHAR)
               AS DECIMAL(18,9)) AS score_d
           FROM tf JOIN dfreq USING (term) CROSS JOIN total),
         ranked AS (
           SELECT doc_id, term, tf, score_d,
             row_number() OVER (PARTITION BY doc_id ORDER BY score_d DESC, term) AS rnk
           FROM scored)
         SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf,
           CAST(CAST(score_d AS VARCHAR) AS DOUBLE) AS score
         FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
    Query("q_text_exact_dedup", exactDedup,
      """SELECT sha256(lower(trim(text))) AS text_hash, min(doc_id) AS keep_id,
           count(1) AS n_copies
         FROM documents GROUP BY 1 ORDER BY 1"""),
    Query("q_text_bm25", bm25Top,
      """WITH toks AS (
           SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (
           SELECT doc_id, term, count(1) AS tf FROM toks GROUP BY doc_id, term),
         dl AS (
           SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         dfreq AS (
           SELECT term, count(1) AS df FROM tf GROUP BY term),
         stats AS (
           SELECT CAST(count(1) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.tf,
             CAST(CAST(
               ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
                    (CAST(df AS DOUBLE) + 0.5) + 1.0)
                 * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                 / (CAST(tf.tf AS DOUBLE) +
                    1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) /
                      (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
               AS VARCHAR) AS DECIMAL(18,9)) AS score_d
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
         ranked AS (
           SELECT doc_id, term, tf, score_d,
             row_number() OVER (PARTITION BY doc_id ORDER BY score_d DESC, term) AS rnk
           FROM scored)
         SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf,
           CAST(CAST(score_d AS VARCHAR) AS DOUBLE) AS score
         FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
    // full bigram-LM replay: same census, same context totals, same
    // add-1/2 smoothing, rule-5b VARCHAR-hopped DECIMAL(18,9) costs,
    // exact decimal sums; only the final mean returns to double
    Query("q_text_lm_score", lmScoreQ, lmScoreSql),
    Query("q_text_curriculum", curriculumQ, curriculumSql),
    Query("q_text_normalize", normalizeQ, normalizeSql),
    // NPMI collocation board over the bigram census
    // NPMI replay: same census, same marginals, both lns VARCHAR-
    // hopped to DECIMAL(18,9), ratio of the hopped doubles
    Query("q_text_collocations", (s, dir) =>
      graft.ops.LangModel.collocations(docs(s, dir), col("text"),
        col("doc_id"), minCount = 5, k = 30),
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         pairs AS (
           SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
           FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
         bi AS (SELECT bigram, count(1) AS c12 FROM pairs GROUP BY 1),
         lx AS (SELECT split_part(bigram, ' ', 1) AS w,
                  CAST(sum(c12) AS BIGINT) AS cx FROM bi GROUP BY 1),
         rx AS (SELECT split_part(bigram, ' ', 2) AS w,
                  CAST(sum(c12) AS BIGINT) AS cy FROM bi GROUP BY 1),
         nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM bi),
         sc AS (
           SELECT bigram, c12,
             CAST(CAST(ln(CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE) /
               (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) AS VARCHAR)
               AS DECIMAL(18,9)) AS pmi_d,
             CAST(CAST(ln(CAST(n AS DOUBLE) / CAST(c12 AS DOUBLE)) AS VARCHAR)
               AS DECIMAL(18,9)) AS den_d
           FROM bi
           JOIN lx ON lx.w = split_part(bigram, ' ', 1)
           JOIN rx ON rx.w = split_part(bigram, ' ', 2)
           CROSS JOIN nn
           WHERE c12 >= 5)
         SELECT bigram, c12,
           CAST(CAST(pmi_d AS VARCHAR) AS DOUBLE) /
             CAST(CAST(den_d AS VARCHAR) AS DOUBLE) AS npmi
         FROM sc ORDER BY npmi DESC, bigram ASC LIMIT 30"""),
    // conjunctive BM25 retrieval (graft.ops.Retrieval): head-term
    // standing queries, in-memory / persisted-index / incremental-
    // append paths — all three must land on the one from-scratch
    // oracle derivation
    // one from-scratch BM25-retrieval replay for all three engine
    // paths: in-memory, artifact round-trip, half+append — the
    // persisted index must be value-invisible
    Query("q_text_search", (s, dir) =>
      graft.ops.Retrieval.search(docs(s, dir), "text", "doc_id", q = 3, k = 5),
      graft.ops.Retrieval.searchOracleSql("documents", 3, 5)),
    // disjunctive (OR) semantics — same candidate plan, no match gate
    Query("q_text_search_or", (s, dir) =>
      graft.ops.Retrieval.searchOr(docs(s, dir), "text", "doc_id", q = 3, k = 5),
      graft.ops.Retrieval.searchOrOracleSql("documents", 3, 5)),
    // phrase semantics over the bigram shingle index — a phrase query
    // serves as a single-term postings lookup
    Query("q_text_search_phrase", (s, dir) =>
      graft.ops.Retrieval.searchPhrase(docs(s, dir), "text", "doc_id",
        q = 3, k = 5),
      graft.ops.Retrieval.phraseOracleSql("documents", 3, 5)),
    // reciprocal-rank fusion of BM25 with the stopword-density prior
    Query("q_text_search_hybrid", (s, dir) =>
      graft.ops.Retrieval.searchHybridRrf(docs(s, dir), "text", "doc_id",
        q = 3, k = 5),
      graft.ops.Retrieval.hybridOracleSql("documents", 3, 5)),
    // PRF semantic re-rank: BM25 depth-20 candidates re-scored by
    // exact-decimal cosine to the rank-1 hit's embedding, RRF-fused
    Query("q_text_search_semantic", (s, dir) =>
      graft.ops.Retrieval.searchPrfRerank(docs(s, dir),
        Tables.t(s, dir, "embeddings"), "text", "doc_id",
        "vec_id", "embedding", q = 3, k = 5),
      graft.ops.Retrieval.prfOracleSql("documents", "embeddings", 3, 5)),
    // persisted-index builds are pure functions of the documents table:
    // disk-memoized across processes (StageMemo, r14 / VERDICT r13
    // task 5 — the epoch contract the artifact itself documents); the
    // serve path still runs per invocation and the oracle hash gates it
    // gate: inverted-index builds dominate; the serve path benches as
    // q_text_search
    Query("q_text_search_persisted", (s, dir) => {
      val base = Harness.memo(s, "search-index", dir, Seq("documents.parquet"),
          "search-index-v1") { m =>
        graft.ops.Retrieval.writeSearchIndex(docs(s, dir), "text", "doc_id", m)
      }
      graft.ops.Retrieval.searchIndexed(s, base, q = 3, k = 5)
    },
      graft.ops.Retrieval.searchOracleSql("documents", 3, 5), gate = true),
    // gate: inverted-index builds dominate; the serve path benches as
    // q_text_search
    Query("q_text_search_incremental", (s, dir) => {
      val base = Harness.memo(s, "search-incr", dir, Seq("documents.parquet"),
          "search-incr-v1") { m =>
        val d = docs(s, dir)
        val isFirst = substring(md5(col("doc_id").cast("string")), 1, 1) < "8"
        graft.ops.Retrieval.writeSearchIndex(d.filter(isFirst), "text", "doc_id", m, batch = 0)
        graft.ops.Retrieval.appendSearchIndex(d.filter(!isFirst), "text", "doc_id", m, batch = 1)
      }
      graft.ops.Retrieval.searchIndexed(s, base, q = 3, k = 5)
    },
      graft.ops.Retrieval.searchOracleSql("documents", 3, 5), gate = true),
    Query("q_text_search_stream_parity", searchStreamParity,
      graft.ops.Retrieval.searchOracleSql("documents", 3, 5), gate = true),
    // the persisted-index and streamed paths must land on the SAME
    // rows: the model round-trips through parquet and the stream's
    // batching leaves no trace
    // gate: epoch model builds + staged index-tree writes dominate; the
    // scoring kernel benches as q_text_lm_score / q_dsir_weights
    Query("q_text_lm_persisted", lmPersisted, lmScoreSql, gate = true),
    Query("q_text_lm_stream_parity", lmStreamParity, lmScoreSql, gate = true),
    Query("q_text_quality_stream_parity", qualityStreamParity,
      graft.ops.QualityModel.scoredOracleSql("documents"), gate = true),
    // calibration histogram: score-decile buckets vs weak labels —
    // the model-eval table a filtering pipeline reports. floor(x*10)
    // on the IEEE double is identical in both engines.
    Query("q_text_quality_calibration", (s, dir) =>
      graft.ops.QualityModel.scoredFrame(docs(s, dir))
        .groupBy(floor(col("score") * 10).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("label")).cast("long").as("n_pos"),
          sum(col("keep").cast("long")).as("n_keep"))
        .orderBy(col("bucket")),
      (s"""SELECT CAST(floor(score * 10) AS BIGINT) AS bucket,
             CAST(count(1) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS n_pos,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
           FROM (${graft.ops.QualityModel.scoredOracleSql("documents")})
           GROUP BY 1 ORDER BY 1""")),
    // trained keep set composed with the md5 mixture replay
    Query("q_curation_trained", curationTrained,
      (graft.ops.QualityModel.keepOraclePrefix("documents") + """,
         base AS MATERIALIZED (
           SELECT d.doc_id, d.lang, d.n_chars
           FROM documents d JOIN qkeep USING (doc_id)),
         cb AS (SELECT lang, count(1) AS cnt FROM base GROUP BY 1),
         totb AS (SELECT count(1) AS n FROM base),
         thb AS (
           SELECT lang, cnt,
             LEAST(CAST(65536 AS HUGEINT),
               (CAST(n AS HUGEINT) * 65536) // (5 * cnt)) AS t
           FROM cb, totb),
         keepb AS (
           SELECT lang, cnt,
             CASE WHEN t >= 65536 THEN 'g'
                  ELSE printf('%04x', CAST(t AS INT)) END AS kb
           FROM thb),
         keptd AS (
           SELECT b.lang, b.n_chars FROM base b JOIN keepb USING (lang)
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < kb)
       SELECT k.lang, k.cnt AS n_before,
         coalesce(a.n_kept, 0) AS n_kept,
         coalesce(a.chars_kept, 0) AS chars_kept
       FROM keepb k LEFT JOIN (
         SELECT lang, count(1) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
         FROM keptd GROUP BY 1) a USING (lang)
       ORDER BY k.lang""")),
    // gate: epoch model builds + staged index-tree writes dominate; the
    // scoring kernel benches as q_text_lm_score / q_dsir_weights
    Query("q_text_lm_incremental", lmIncremental, lmScoreSql, gate = true),
    Query("q_text_span_corrupt", spanCorruptQ,
      """WITH sp AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM documents),
         pos AS (
           SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM sp),
         fl AS (
           SELECT doc_id, p, w[p] AS tok,
             substr(md5(doc_id || ':' || (p - 1) || ':' || 7), 1, 4) < '2000' AS st
           FROM pos),
         mk AS (
           SELECT doc_id, p, tok,
             max(CASE WHEN st THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1 AS masked
           FROM fl),
         runs AS (
           SELECT doc_id, p, tok, masked,
             CASE WHEN masked AND NOT coalesce(
                 lag(masked) OVER (PARTITION BY doc_id ORDER BY p), false)
               THEN 1 ELSE 0 END AS span_start
           FROM mk),
         sent AS (
           SELECT *, sum(span_start) OVER (PARTITION BY doc_id ORDER BY p) - 1 AS k
           FROM runs)
         SELECT doc_id,
           CAST(count(1) AS BIGINT) AS n_tokens,
           CAST(sum(span_start) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           coalesce(string_agg(
               CASE WHEN NOT masked THEN tok
                    WHEN span_start = 1 THEN '<extra_id_' || k || '>' END,
               ' ' ORDER BY p)
             FILTER (WHERE NOT masked OR span_start = 1), '') AS corrupted,
           coalesce(string_agg(
               CASE WHEN span_start = 1
                    THEN '<extra_id_' || k || '> ' || tok ELSE tok END,
               ' ' ORDER BY p)
             FILTER (WHERE masked), '') AS target
         FROM sent GROUP BY doc_id ORDER BY doc_id"""),
    // gate: epoch model builds + staged index-tree writes dominate; the
    // scoring kernel benches as q_text_lm_score / q_dsir_weights
    Query("q_dsir_persisted", dsirPersisted,
      (dsirCte(topKCase = false) + """
         SELECT doc_id, is_target, n_bigrams, w_sum, w_avg
         FROM wsums ORDER BY doc_id"""), gate = true),
    // top-K-pruned LM replay: same census, but only the top-256
    // bigrams (count desc, bigram asc — the engine's deterministic
    // cut) keep their count; the rest score as UNK (c12 treated as 0)
    // against EXACT context totals — bit-identical to lmScoresTopK
    Query("q_text_lm_score_topk", lmScoreTopKQ,
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
           FROM documents),
         pairs AS (
           SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram
           FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 1)) AS i
                 FROM toks WHERE len(t) >= 2)),
         bi AS (SELECT bigram, count(1) AS c12 FROM pairs GROUP BY 1),
         biw AS (
           SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
             row_number() OVER (ORDER BY c12 DESC, bigram) AS rk
           FROM bi),
         uni AS (
           SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM biw GROUP BY 1),
         vocab AS (
           SELECT count(DISTINCT tok) AS v
           FROM (SELECT unnest(t) AS tok FROM toks)),
         model AS (
           SELECT bigram,
             CAST(CAST(-ln(((CASE WHEN rk <= 256 THEN c12 ELSE 0 END) + 0.5)
                 / (c1 + 0.5 * v)) AS VARCHAR)
               AS DECIMAL(18,9)) AS cost_d
           FROM biw JOIN uni USING (w1) CROSS JOIN vocab)
         SELECT doc_id, count(1) AS n_bigrams,
           CAST(CAST(sum(cost_d) AS VARCHAR) AS DOUBLE) AS sum_cost,
           CAST(CAST(sum(cost_d) AS VARCHAR) AS DOUBLE) / count(1) AS avg_cost
         FROM pairs JOIN model USING (bigram)
         GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_text_chunks", chunksQ,
      """WITH words AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM documents),
         sized AS (
           SELECT doc_id, w, len(w) AS n,
             GREATEST(CAST(CEIL((len(w) - 16) / 48.0) AS BIGINT), 1) AS nk
           FROM words WHERE len(w) > 0),
         chunked AS (
           SELECT doc_id, w, n, unnest(generate_series(0, nk - 1)) AS chunk_idx
           FROM sized)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(w[chunk_idx*48 + 1 : LEAST(chunk_idx*48 + 64, n)], ' ') AS chunk_text,
           CAST(LEAST(n - chunk_idx*48, 64) AS INT) AS n_tokens
         FROM chunked ORDER BY doc_id, chunk_idx"""),
    Query("q_text_tokens", tokenStats,
      """SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INT) AS n_ws,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_alpha,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_digit,
           CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct
         FROM documents ORDER BY doc_id"""),
    Query("q_text_vocab", vocabQ,
      """WITH t AS (
           SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
           FROM documents),
         c AS (SELECT tok, count(1) AS cnt FROM t WHERE tok <> '' GROUP BY 1),
         r AS (
           SELECT tok, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS INT)
               AS token_id
           FROM c)
         SELECT tok, cnt, token_id FROM r
         WHERE token_id < 256 ORDER BY token_id"""),
    // generated unrolled-GD oracles (graft.ops.QualityModel) — the
    // same constants/loop emit SQL and run the driver iteration
    Query("q_text_quality_model", (s, dir) => graft.ops.QualityModel.modelFrame(s, docs(s, dir)),
      graft.ops.QualityModel.modelOracleSql("documents")),
    Query("q_text_quality_trained", (s, dir) => graft.ops.QualityModel.scoredFrame(docs(s, dir)),
      graft.ops.QualityModel.scoredOracleSql("documents")),
    // generated unrolled-merge oracles (graft.ops.Bpe) — the same
    // constants emit K CTE rounds that re-derive the merges
    Query("q_text_bpe_merges", (s, dir) => graft.ops.Bpe.mergesFrame(s, docs(s, dir)),
      graft.ops.Bpe.mergesOracleSql("documents")),
    Query("q_text_bpe_tokens", (s, dir) => graft.ops.Bpe.tokenFrequencies(docs(s, dir)),
      graft.ops.Bpe.tokensOracleSql("documents")),
    // persisted-artifact twins: train -> parquet model -> score/encode
    // from the artifact alone; must land on the SAME oracle rows as
    // the in-memory paths (the epoch posture, like q_text_lm_persisted)
    // the persisted twins reuse the in-memory oracles VERBATIM — the
    // artifact round-trip must be value-invisible
    Query("q_text_quality_persisted", (s, dir) => {
      val base = s"${Harness.scratch(s, "qm-model", dir)}/model"
      val d = docs(s, dir)
      graft.ops.QualityModel.writeModel(s, d, base)
      graft.ops.QualityModel.scoredFrameIndexed(d, base)
    },
      graft.ops.QualityModel.scoredOracleSql("documents")),
    Query("q_text_bpe_persisted", (s, dir) => {
      val base = s"${Harness.scratch(s, "bpe-model", dir)}/model"
      val d = docs(s, dir)
      graft.ops.Bpe.writeBpeModel(s, d, base)
      graft.ops.Bpe.tokenFrequenciesIndexed(d, base)
    },
      graft.ops.Bpe.tokensOracleSql("documents")),
    // incremental retrain gates: build on half the corpus, fold the
    // other half into the persisted census (decimal sums / word
    // counts are associative), score/encode the FULL corpus from the
    // artifact — must equal the one-shot oracle rows verbatim
    // the incremental twins must land on the one-shot oracles exactly
    Query("q_text_quality_incremental", (s, dir) => {
      val base = s"${Harness.scratch(s, "qm-incr", dir)}/model"
      val d = docs(s, dir)
      graft.ops.QualityModel.writeModel(s, d.filter(col("doc_id") % 2 === 0), base)
      graft.ops.QualityModel.appendModel(d.filter(col("doc_id") % 2 =!= 0), base)
      graft.ops.QualityModel.scoredFrameIndexed(d, base)
    },
      graft.ops.QualityModel.scoredOracleSql("documents")),
    Query("q_text_bpe_incremental", (s, dir) => {
      val base = s"${Harness.scratch(s, "bpe-incr", dir)}/model"
      val d = docs(s, dir)
      graft.ops.Bpe.writeBpeModel(s, d.filter(col("doc_id") % 2 === 0), base)
      graft.ops.Bpe.appendBpeModel(d.filter(col("doc_id") % 2 =!= 0), base)
      graft.ops.Bpe.tokenFrequenciesIndexed(d, base)
    },
      graft.ops.Bpe.tokensOracleSql("documents")),
    Query("q_text_bpe_stream_parity", bpeStreamParity,
      graft.ops.Bpe.tokensOracleSql("documents"), gate = true),
    // tokenizer fertility by language — the diagnostic every
    // multilingual tokenizer build reports (BPE tokens per word, per
    // lang); per-doc lengths via the same distinct-word length join
    // as q_pack_bpe, then one partial-agg by lang
    Query("q_text_bpe_fertility", (s, dir) => {
      import org.apache.spark.sql.functions.{sum => fsum}
      val d = docs(s, dir)
      val merges = graft.ops.Bpe.train(d)
      val bc = s.sparkContext.broadcast(merges)
      import s.implicits._
      val wl = graft.ops.Bpe.wordCensus(d).as[(String, Long)]
        .map { case (w, _) =>
          (w, graft.ops.Bpe.applyMerges(w, bc.value).length.toLong) }
        .toDF("word", "n_tok")
      d.select(col("doc_id"), col("lang"),
          explode(graft.ops.Text.tokens(col("text"))).as("word"))
        .where(col("word") =!= "")
        .join(wl, "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          fsum("n_tok").as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"))
        .select(col("lang"), col("n_words"), col("n_tokens"), col("n_docs"),
          // integer floor division — exact in both engines
          expr("(n_tokens * 1000000) div n_words").as("fertility_ppm"))
        .orderBy(col("lang"))
    },
      (graft.ops.Bpe.docLensOraclePrefix("documents") +
        s""",
         fw AS (
           SELECT d.doc_id, d.lang, w.n_tok
           FROM (SELECT doc_id, lang,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
                 FROM documents) d
           JOIN wl w ON w.word = d.word)
         SELECT lang,
           CAST(count(1) AS BIGINT) AS n_words,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) * 1000000 // CAST(count(1) AS BIGINT)
             AS fertility_ppm
         FROM fw GROUP BY lang ORDER BY lang""")),
    Query("q_text_quality", quality,
      """WITH m AS (
           SELECT doc_id,
             CAST(length(text) AS INT) AS n_chars,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INT) AS n_words,
             CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct,
             CAST(len(regexp_extract_all(lower(text),
               '\b(the|and|of|to|in|is|data|table)\b')) AS INT) AS n_stop
           FROM documents)
         SELECT doc_id, n_chars, n_words,
           CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS chars_per_word,
           CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) AS stop_ratio,
           CASE WHEN n_words >= 5 AND n_words <= 10000
                     AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.01
                THEN 'ok' ELSE 'low' END AS quality
         FROM m ORDER BY doc_id"""),
    Query("q_text_langid", langIdQ,
      """WITH s AS (
           SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|daten|tabelle)\b')) AS INT) AS s_de,
             CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|data|table)\b')) AS INT) AS s_en,
             CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|datos|tabla)\b')) AS INT) AS s_es,
             CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|de|données|tableau)\b')) AS INT) AS s_fr
           FROM documents)
         SELECT doc_id, lang, s_de, s_en, s_es, s_fr,
           CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_guess
         FROM s ORDER BY doc_id"""),
    // the same marker-score replay, folded to (true, predicted) cells
    Query("q_text_langid_confusion", langIdConfusionQ,
      """WITH s AS (
           SELECT lang,
             CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|daten|tabelle)\b')) AS INT) AS s_de,
             CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|data|table)\b')) AS INT) AS s_en,
             CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|datos|tabla)\b')) AS INT) AS s_es,
             CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|de|données|tableau)\b')) AS INT) AS s_fr
           FROM documents),
         p AS (
           SELECT lang AS true_lang,
             CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
           FROM s)
         SELECT true_lang, pred_lang, count(1) AS n
         FROM p GROUP BY 1, 2 ORDER BY 1, 2"""),
    // the q_dedup_clusters component walk folded to a size histogram
    Query("q_dedup_cluster_sizes", dedupClusterSizesQ,
      (shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
         pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jacs WHERE jaccard >= 0.8),
         edges AS MATERIALIZED (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
         assigned AS (
           SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
           FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
         csz AS (
           SELECT cluster_id, count(1) AS sz FROM assigned GROUP BY 1)
         SELECT sz, count(1) AS n_clusters FROM csz
         GROUP BY 1 ORDER BY 1""")),
    Query("q_text_fingerprint", fingerprint,
      """SELECT doc_id,
           CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fp
         FROM (
           SELECT doc_id,
             list_reduce(
               list_prepend(CAST(1125899906842597 AS HUGEINT),
                            [CAST(ascii(c) AS HUGEINT) for c in regexp_extract_all(text, '.')]),
               (acc, x) -> (acc * 31 + x) % CAST(18446744073709551616 AS HUGEINT)) AS h
           FROM documents)
         ORDER BY doc_id"""),
    Query("q_dedup_minhash", minhashDedup,
      (shingleCte + """
         SELECT doc_a, doc_b, jaccard FROM jacs
         WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""")),
    Query("q_dedup_spans", dedupSpans,
      (spanCte + """
         SELECT doc_a, doc_b, span_tokens, start_a,
           CAST(start_b AS BIGINT) AS start_b
         FROM best WHERE rn = 1 ORDER BY doc_a, doc_b""")),
    Query("q_dedup_excise", dedupExcise,
      (spanCte + """,
         cuts AS (
           SELECT doc_b AS doc_id, span_tokens, start_b, doc_a,
             row_number() OVER (PARTITION BY doc_b
               ORDER BY span_tokens DESC, start_b, doc_a) AS crn
           FROM best WHERE rn = 1)
         SELECT c.doc_id, c.span_tokens AS n_removed,
           coalesce(array_to_string(list_concat(
             coalesce(w[1:CAST(c.start_b AS INT)], []),
             coalesce(w[CAST(c.start_b + c.span_tokens + 1 AS INT):len(w)],
               [])), ' '), '') AS excised_text
         FROM cuts c JOIN sp ON sp.doc_id = c.doc_id
         WHERE c.crn = 1 ORDER BY c.doc_id""")),
    Query("q_corpus_prep", corpusPrep,
      """WITH RECURSIVE m AS (
           SELECT doc_id, lang, text,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS INT) AS n_words,
             CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|data|table)\b')) AS INT) AS n_stop
           FROM documents),
         ok AS (
           SELECT doc_id, lang, text, n_words FROM m
           WHERE n_words >= 5 AND n_words <= 10000
             AND CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) >= 0.01),
         sp AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w FROM ok),
         sh AS (
           SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS shingle
           FROM sp),
         sizes AS (SELECT doc_id, count(1) AS n FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(1) AS c
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         jacs AS (
           SELECT doc_a, doc_b,
             CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
           FROM inter
           JOIN sizes sa ON sa.doc_id = doc_a
           JOIN sizes sb ON sb.doc_id = doc_b),
         pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM jacs WHERE jaccard >= 0.8),
         edges AS MATERIALIZED (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w2.id, e.dst FROM walk w2 JOIN edges e ON e.src = w2.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id),
         kept AS (
           SELECT o.* FROM ok o LEFT JOIN comp c ON c.id = o.doc_id
           WHERE coalesce(c.cluster_id, o.doc_id) = o.doc_id)
         SELECT lang, count(1) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS n_tokens,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
         FROM kept GROUP BY lang ORDER BY lang"""),
    Query("q_dedup_clusters", dedupClusters, clustersSql),
    Query("q_dedup_clusters_stars", dedupClustersStars, clustersSql),
    Query("q_dedup_compaction", dedupCompaction,
      """WITH probe AS (
           SELECT doc_id + 10000 AS doc_id, lower(trim(text)) AS t
           FROM documents WHERE doc_id < 50),
         firsts AS (SELECT t, min(doc_id) AS first_id FROM probe GROUP BY t),
         corpus AS (
           SELECT DISTINCT lower(trim(text)) AS t
           FROM documents WHERE doc_id < 400)
         SELECT p.doc_id,
           CASE WHEN p.doc_id <> f.first_id THEN 'dup_in_batch'
                WHEN c.t IS NOT NULL THEN 'dup_of_corpus'
                ELSE 'new' END AS status,
           true AS compact_match, true AS pairs_match
         FROM probe p
         JOIN firsts f ON f.t = p.t
         LEFT JOIN corpus c ON c.t = p.t
         ORDER BY p.doc_id""", gate = true),
    Query("q_dedup_ngram_jaccard", ngramJaccard,
      (shingleCte + """
         SELECT doc_a, doc_b, jaccard FROM jacs
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""")),
    Query("q_dedup_incremental", dedupIncremental,
      (shingleCte + """
         SELECT doc_a, doc_b, jaccard FROM jacs
         WHERE jaccard >= 0.8 AND (doc_a >= 400 OR doc_b >= 400)
         ORDER BY doc_a, doc_b"""), gate = true),
    Query("q_dedup_exact_incremental", dedupExactIncremental,
      """WITH corpus AS (
           SELECT DISTINCT sha256(lower(trim(text))) AS h
           FROM documents WHERE doc_id < 400),
         b AS (
           SELECT doc_id, sha256(lower(trim(text))) AS text_hash
           FROM documents WHERE doc_id >= 400),
         f AS (SELECT text_hash, min(doc_id) AS first_id FROM b GROUP BY 1)
         SELECT b.doc_id, b.text_hash,
           -- batch-local precedence mirrors the engine (replay
           -- idempotence: an in-batch dup re-labels identically)
           CASE WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
                WHEN c.h IS NOT NULL THEN 'dup_of_corpus'
                ELSE 'new' END AS status
         FROM b LEFT JOIN corpus c ON c.h = b.text_hash
         JOIN f USING (text_hash)
         ORDER BY doc_id""", gate = true),
    // full frame-boundary + per-frame-pixel replay: frame f of doc =
    // source slice [48f, min(48(f+1), n)) encoded as an 8×ceil(l/24)
    // raster of the slice's bytes cycled; every 2nd frame decoded
    Query("q_multimodal_frames", multimodalFrames,
      """WITH src AS (
           SELECT doc_id, text, length(text) AS n,
                  greatest(1, CAST(ceil(length(text) / 48.0) AS BIGINT)) AS nf
           FROM documents),
         fr AS (
           SELECT doc_id, text, n,
                  unnest(generate_series(0, CAST(nf - 1 AS INT))) AS f
           FROM src),
         fs AS (
           SELECT doc_id, text, n, f, least(48, n - 48*f) AS l
           FROM fr WHERE f % 2 = 0),
         g AS (
           SELECT doc_id, text, f, l,
                  greatest(1, CAST(ceil(l / 24.0) AS BIGINT)) AS h
           FROM fs),
         px AS (
           SELECT doc_id, f,
             (299 * ascii(substr(text, 48*f + CAST((3*j)   % l AS INT) + 1, 1))
            + 587 * ascii(substr(text, 48*f + CAST((3*j+1) % l AS INT) + 1, 1))
            + 114 * ascii(substr(text, 48*f + CAST((3*j+2) % l AS INT) + 1, 1)))
             // 1000 AS gray
           FROM (SELECT doc_id, text, f, l,
                   unnest(generate_series(0, CAST(8*h - 1 AS INT))) AS j
                 FROM g))
         SELECT doc_id, CAST(f AS INT) AS frame_idx,
                count(1) AS n_pixels,
                CAST(sum(gray) AS BIGINT) AS sum_gray,
                min(gray) AS min_gray, max(gray) AS max_gray
         FROM px GROUP BY doc_id, f ORDER BY doc_id, frame_idx"""),
    Query("q_multimodal_phash", multimodalPhash,
      (grayPxCte + """,
         v AS (SELECT doc_id, m, (j * 64) // m AS cell, gray AS p FROM px),
         sums AS (
           SELECT doc_id, cell, sum(p) AS cs, count(1) AS cc
           FROM v GROUP BY doc_id, cell),
         tot AS (SELECT doc_id, sum(cs) AS ts FROM sums GROUP BY 1),
         dl AS (SELECT DISTINCT doc_id, m FROM px0),
         grid AS (
           SELECT doc_id, unnest(generate_series(0, 63)) AS cell
           FROM documents),
         pbits AS (
           SELECT g.doc_id, g.cell,
             CASE WHEN coalesce(s.cs, 0) * d.m > coalesce(t.ts, 0) * coalesce(s.cc, 0)
                  THEN '1' ELSE '0' END AS bit
           FROM grid g JOIN dl d USING (doc_id)
           LEFT JOIN tot t USING (doc_id)
           LEFT JOIN sums s ON s.doc_id = g.doc_id AND s.cell = g.cell),
         ph AS (
           SELECT doc_id, string_agg(bit, '' ORDER BY cell DESC) AS phash_bits
           FROM pbits GROUP BY doc_id)
         SELECT doc_id, phash_bits FROM ph ORDER BY doc_id""")),
    Query("q_multimodal_decode", multimodalDecode,
      (grayPxCte + """
         SELECT doc_id, count(1) AS n_pixels,
           CAST(sum(gray) AS BIGINT) AS sum_gray,
           min(gray) AS min_gray, max(gray) AS max_gray
         FROM px GROUP BY doc_id ORDER BY doc_id""")),
    // nearest-neighbor resize replay: output pixel (r, c) = source
    // pixel (r·h div 4, c·8 div 4); luma via the decode formula at the
    // sampled pixel index — the whole decode→resize→decode chain
    Query("q_multimodal_resize", multimodalResize,
      """WITH src AS (
           SELECT doc_id, text, length(text) AS n,
             greatest(1, CAST(ceil(length(text) / 24.0) AS BIGINT)) AS h
           FROM documents),
         cells AS (
           SELECT doc_id, text, n,
             ((r * h) // 4) * 8 + ((c * 8) // 4) AS sp
           FROM src,
             unnest(generate_series(0, 3)) AS tr(r),
             unnest(generate_series(0, 3)) AS tc(c)),
         px AS (
           SELECT doc_id,
             (299 * ascii(substr(text, CAST((3*sp)   % n AS INT) + 1, 1))
            + 587 * ascii(substr(text, CAST((3*sp+1) % n AS INT) + 1, 1))
            + 114 * ascii(substr(text, CAST((3*sp+2) % n AS INT) + 1, 1)))
             // 1000 AS gray
           FROM cells)
         SELECT doc_id, count(1) AS n_pixels,
           CAST(sum(gray) AS BIGINT) AS sum_gray,
           min(gray) AS min_gray, max(gray) AS max_gray
         FROM px GROUP BY doc_id ORDER BY doc_id"""),
    // frame replay: the sample CTE windowed at 128/64, per-frame
    // exact integer energy — the last frame short, every start emits
    Query("q_multimodal_audio_frames", multimodalAudioFrames,
      """WITH src AS (
           SELECT doc_id, text, length(text) AS n,
             greatest(1, (length(text) + 1) // 2) AS ns
           FROM documents),
         sv AS (
           SELECT doc_id, ns, j,
             CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
           FROM (
             SELECT doc_id, ns, j,
               ascii(substr(text, CAST((2*j)   % n AS INT) + 1, 1))
               + 256 * ascii(substr(text, CAST((2*j+1) % n AS INT) + 1, 1)) AS raw
             FROM (SELECT doc_id, text, n, ns,
                     unnest(generate_series(0, ns - 1)) AS j
                   FROM src))),
         fr AS (
           SELECT doc_id, ns, unnest(generate_series(0, (ns - 1) // 64)) AS f
           FROM src),
         cells AS (
           SELECT fr.doc_id, fr.f,
             CAST(count(1) AS BIGINT) AS n_in_frame,
             CAST(sum(v * v) AS BIGINT) AS energy
           FROM fr JOIN sv ON sv.doc_id = fr.doc_id
             AND sv.j >= fr.f * 64 AND sv.j < fr.f * 64 + 128
           GROUP BY fr.doc_id, fr.f)
         SELECT doc_id, CAST(f AS INT) AS frame_idx, n_in_frame, energy
         FROM cells ORDER BY doc_id, frame_idx"""),
    // the WAV replay: PCM data bytes are the text bytes cycled over
    // 2·max(1, ceil(n/2)) positions (the engine's fill rule), samples
    // the signed 16-bit LE pairs — ASCII corpus, so ascii(substr) IS
    // the payload byte and the sign branch can't fire (hi byte ≤ 127)
    Query("q_multimodal_audio", multimodalAudio,
      """WITH src AS (
           SELECT doc_id, text, length(text) AS n,
             greatest(1, (length(text) + 1) // 2) AS ns
           FROM documents),
         s0 AS (
           SELECT doc_id, text, n, unnest(generate_series(0, ns - 1)) AS j
           FROM src),
         samp AS (
           SELECT doc_id,
             ascii(substr(text, CAST((2*j)   % n AS INT) + 1, 1))
             + 256 * ascii(substr(text, CAST((2*j+1) % n AS INT) + 1, 1)) AS raw
           FROM s0),
         sv AS (
           SELECT doc_id,
             CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
           FROM samp)
         SELECT doc_id, 8000 AS sample_rate,
           CAST(count(1) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_amp,
           CAST(sum(v * v) AS BIGINT) AS sum_sq,
           CAST(min(v) AS INT) AS min_amp, CAST(max(v) AS INT) AS max_amp
         FROM sv GROUP BY doc_id ORDER BY doc_id"""),
    Query("q_multimodal_phash_pairs", multimodalPhashPairs,
      (phashCte + """,
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             hamming(a.phash_bits, b.phash_bits) AS h
           FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(h AS INT) AS hamming FROM pairs
         WHERE h <= 15 ORDER BY id_a, id_b""")),
    Query("q_text_repetition", repetition,
      """WITH sp AS (
           SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM documents),
         g AS (
           SELECT doc_id, len(w) AS n_words,
             [w[i] || ' ' || w[i+1] for i in range(1, len(w))] AS g2,
             [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
              for i in range(1, len(w) - 1)] AS g3,
             w
           FROM sp),
         fr AS (
           SELECT doc_id, CAST(n_words AS INT) AS n_words,
             CASE WHEN len(g2) > 0
               THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
               ELSE 0.0 END AS dup_2gram_frac,
             CASE WHEN len(g3) > 0
               THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
               ELSE 0.0 END AS dup_3gram_frac
           FROM g),
         tok AS (SELECT doc_id, unnest(w) AS t FROM sp),
         tc AS (SELECT doc_id, t, count(1) AS c FROM tok GROUP BY 1, 2),
         tw AS (
           SELECT doc_id,
             CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
               AS top_word_frac
           FROM tc GROUP BY 1)
         SELECT f.doc_id, f.n_words, f.dup_2gram_frac, f.dup_3gram_frac,
           tw.top_word_frac,
           (f.dup_2gram_frac > 0.05 OR tw.top_word_frac > 0.15) AS repetitive
         FROM fr f JOIN tw USING (doc_id)
         ORDER BY f.doc_id"""),
    Query("q_multimodal_dedup", multimodalDedup,
      (phashCte.replaceFirst("WITH ", "WITH RECURSIVE ") + """,
         pairs AS MATERIALIZED (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM ph a JOIN ph b ON a.doc_id < b.doc_id
           WHERE hamming(a.phash_bits, b.phash_bits) <= 15),
         edges AS MATERIALIZED (
           SELECT doc_a AS src, doc_b AS dst FROM pairs
           UNION
           SELECT doc_b AS src, doc_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id)
         SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
         FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         ORDER BY d.doc_id""")),
    Query("q_dsir_weights", dsirWeights,
      (dsirCte(topKCase = false) + """
         SELECT doc_id, is_target, n_bigrams, w_sum, w_avg
         FROM wsums ORDER BY doc_id""")),
    Query("q_dsir_weights_topk", dsirWeightsTopK,
      (dsirCte(topKCase = true) + """
         SELECT doc_id, is_target, n_bigrams, w_sum, w_avg
         FROM wsums ORDER BY doc_id""")),
    Query("q_dsir_resample", dsirResample,
      (dsirCte(topKCase = false) + """
         SELECT doc_id, is_target, n_bigrams, w_sum, w_avg
         FROM wsums WHERE NOT is_target
         ORDER BY w_sum DESC, doc_id LIMIT 64""")),
    Query("q_multimodal_meta", multimodalMeta,
      // the P6 container replayed: header "P6\n8 <h>\n255\n" is
      // 10 + digits(h) bytes, the raster 8·h·3 = 24·h
      """WITH g AS (
           SELECT doc_id, lang,
             greatest(1, CAST(ceil(length(text) / 24.0) AS BIGINT)) AS h
           FROM documents)
         SELECT doc_id, lang,
           CAST(10 + length(CAST(h AS VARCHAR)) + 24 * h AS INT) AS n_bytes,
           CAST(8 AS INT) AS width,
           CAST(h AS INT) AS height,
           'ppm' AS format
         FROM g ORDER BY doc_id""")
  )
}
