package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.tools.Ckpt._

/** Embedding similarity-search queries over the `embeddings` table
  * (build brief §extensions). Cosines are exact-decimal (see
  * [[graft.ops.Similarity]]) so outputs hash-match the DuckDB oracle.
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")

  /** Brute-force exact top-3 neighbors for the 10 lowest-id vectors
    * against all higher-id vectors. */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // .limit(10): the anchor filter yields exactly 10 rows, so the limit
    // is a value no-op — it makes the query-set bound STRUCTURAL, which
    // is what licenses the broadcast cross join inside bruteForceTopK
    // (corpus-scan × bounded-broadcast = linear in corpus; PlanLint
    // rejects the unbounded form)
    Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10).limit(10),
        e.filter(col("vec_id") >= 10), k = 3)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Hard negatives for the same anchor/candidate split as
    * [[annTopK]]: the 3 most-similar candidates per anchor whose exact
    * cosine sits strictly BELOW the 0.5 near-dup line — contrastive-
    * training pair mining ([[graft.ops.Similarity.hardNegativesTopK]]). */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // .limit(10): value no-op structural bound on the anchor set — see
    // annTopK
    Similarity.hardNegativesTopK(
        e.filter(col("vec_id") < 10).limit(10), e.filter(col("vec_id") >= 10),
        k = 3, dupThreshold = 0.5)
      .orderBy(col("qid"), col("rnk"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ 0.4 (double prefilter +
    * exact decimal rescore). */
  def cosineNearDups(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(emb(s, dir), threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** SEMANTIC dedup DECISION over embeddings — the cosine near-dup
    * pair graph pushed through the same components → min-id-survivor
    * pipeline the text path uses ([[graft.ops.Dedup.dedupDecision]]):
    * one row per vector. Pairs come from the blocked beyond-broadcast
    * kernel (the documented 100 TB default); the oracle recomputes the
    * exact-decimal cosine self-join and walks the same graph with a
    * recursive CTE. Completes the embedding-cosine near-dup family
    * from pairs to an executable keep/drop decision. */
  def embedDedup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val pairs = Similarity.cosineNearDupPairsBlocked(e, threshold = 0.4)
    graft.ops.Dedup.dedupDecision(
        e.select(col("vec_id")), pairs, "vec_id",
        aCol = "id_a", bCol = "id_b")
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup gate ([[graft.ops.Similarity.semDedup]]): cluster-scoped
    * semantic dedup — 16 deterministic seed clusters, within-cluster
    * near-dup pruning at cos ≥ 0.4 (the q_embed_dedup threshold, so
    * the two gates bracket the technique: global components vs the
    * cluster-scoped SemDeDup restriction of the same graph). Seeds
    * follow the DEPLOYMENT rule `ivfListsFor(n)` — fixed seeds make
    * per-cluster pair work quadratic (measured: 14× wall at 10× data);
    * scaled seeds hold cluster size ≈ constant. EXACT value oracle:
    * DuckDB re-derives the seed count (same greatest/ceil formula),
    * the seed set (md5 rank), every assignment cosine (decimal
    * replay), the within-cluster pair set, and the component walk —
    * all decision layers value-matched per vector. */
  def semDedupQ(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity
      .semDedup(e, seeds = Similarity.ivfListsFor(e.count()), tau = 0.4)
      .orderBy(col("vec_id"))
  }

  /** The deterministic ~12.5 % md5 batch membership rule shared by the
    * incremental semantic-dedup gate and its oracle. */
  private val isBatchVec =
    substring(md5(col("vec_id").cast("string")), 1, 1) < lit("2")

  /** Write-once semantic-dedup epoch index over the CORPUS side
    * (non-batch vectors), keyed by the embeddings file's identity —
    * the same build-once/probe-every-batch contract as the text dedup
    * index ([[TextQueries]]' dedupIndexPath). */
  private def semIndexPath(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths}
    val root = sys.env.getOrElse("GRAFT_INDEX_DIR",
      sys.props("java.io.tmpdir") + "/graft-sem-index")
    val src = Paths.get(dir, "embeddings.parquet")
    val fingerprint =
      try s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"
      catch { case _: java.io.IOException => "unknown" }
    val key = java.util.UUID.nameUUIDFromBytes(
      (dir + ":sem:v1:" + fingerprint).getBytes("UTF-8")).toString
    val path = s"$root/$key"
    if (!Files.exists(Paths.get(path, "assign", "_SUCCESS"))) {
      val corpus = emb(s, dir).filter(!isBatchVec)
      Similarity.writeSemIndex(
        corpus, Similarity.ivfListsFor(corpus.count()), path)
    }
    path
  }

  /** INCREMENTAL semantic dedup gate ([[graft.ops.Similarity
    * .semDedupIncremental]]): the ~12.5 % md5-sampled batch classified
    * against the persisted corpus epoch index — dup_in_batch /
    * dup_of_corpus / new with batch-local precedence, the corpus
    * consulted only through its cluster-partitioned persisted
    * assignment (probe reads touched clusters only). EXACT value
    * oracle: DuckDB re-derives the corpus seed set, every assignment,
    * both pair sets (batch×corpus and batch-internal, cluster-scoped,
    * exact-decimal cosines), and the precedence casing. */
  def semDedupIncrementalQ(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupIncremental(
        semIndexPath(s, dir), emb(s, dir).filter(isBatchVec), tau = 0.4)
      .orderBy(col("vec_id"))

  /** Per-label embedding stats: count plus exact total squared norm and
    * deterministic min/max norms (no order-dependent double sums). */
  def embedStats(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .withColumn("n2", Similarity.norm2Decimal(col("embedding")))
      .withColumn("norm", sqrt(Similarity.decToDouble(col("n2"))))
    e.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        Similarity.decToDouble(sum(col("n2"))).as("energy"),
        min(col("norm")).as("min_norm"),
        max(col("norm")).as("max_norm"))
      .orderBy(col("label"))
  }

  /** The deterministic ~25% md5-of-id query sample shared by every
    * sampled recall gate (the `q_sample_hash` membership rule):
    * bit-stable across runs, engines, and partitionings. */
  private val isQuerySample =
    substring(md5(col("vec_id").cast("string")), 1, 1) < lit("4")

  /** Memoized sampled exact ground truth per (application, sfDir):
    * [[Similarity.bruteForceTop1Sampled]] is the costliest pipeline in
    * the ANN gate family and is consumed by FOUR driver queries
    * (q_ann_recall_sampled, q_ann_ivf, q_ann_lsh, q_ann_lsh_topk) —
    * computing it once per harness run instead of once per query is
    * exactly the "reuse an artifact across stages" contract a
    * persisted index gives a real deployment. The memo holds a small
    * eagerly-checkpointed frame (one row per SAMPLED vector), keyed by
    * applicationId so a restarted session can never resurrect a dead
    * context's checkpoint. Determinism makes the sharing invisible to
    * results. */
  private val truthCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Memoized PCA moment census per (application, sfDir): the census is
    * the one corpus-sized pass (d(d+1)/2 exact decimal products per
    * vector — 41.6M rows at sf0.1, ~10 s) and BOTH pca queries need the
    * identical numbers, so it is an epoch artifact like the sampled
    * ground truth. Determinism makes the sharing invisible. */
  private val pcaCensusCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Map[(Int, Int), java.math.BigDecimal],
             Map[Int, java.math.BigDecimal], Long)]()

  private def pcaCensus(s: SparkSession, dir: String) =
    pcaCensusCache.computeIfAbsent(memoKey(s, dir), _ =>
      graft.ops.Pca.momentCensus(emb(s, dir), "embedding"))

  /** Drop every memo entry belonging to an applicationId other than the
    * live one: a JVM that runs several SparkSessions back to back (the
    * test suite, repeated harness invocations) would otherwise pin dead
    * applications' artifacts — including localCheckpoint'd DataFrame
    * references — forever. Called on every memo access; at most one
    * application's entries (a handful of dirs) survive at a time. */
  private def evictDeadApps(
      caches: Seq[java.util.concurrent.ConcurrentHashMap[String, _]],
      liveAppId: String): Unit =
    caches.foreach(_.keySet.removeIf(k => !k.startsWith(liveAppId + ":")))

  private def memoKey(s: SparkSession, dir: String): String = {
    val appId = s.sparkContext.applicationId
    evictDeadApps(
      Seq(truthCache, centroidCache, codebookCache,
        pcaCensusCache, kcenterCache), appId)
    appId + ":" + dir
  }

  /** Ground-truth artifacts are DISK-memoized across processes
    * ([[graft.io.StageMemo]], r14 / VERDICT r13 task 5): exact truth is
    * a pure function of the embeddings table, and a production eval
    * harness versions it once per corpus snapshot — every bench/verify
    * process re-paying the brute-force pass measured the harness, not
    * the kernels under test (which still bench as q_ann_topk /
    * q_embed_*). Keyed on the embeddings file fingerprint, so a
    * testdata regeneration rebuilds. */
  private def truthStage(s: SparkSession, dir: String, name: String)
                        (build: => DataFrame): DataFrame = {
    val root = Harness.memo(s, name, dir, Seq("embeddings.parquet"),
        s"truth-$name-v2") { m => build.write.parquet(s"$m/truth") }
    s.read.parquet(s"$root/truth")
  }

  /** Memoized k-center greedy selection per (application, sfDir) —
    * [[graft.ops.Coreset.selectCenters]] is k corpus scans and both
    * the selection report (q_embed_kcenter) and the assignment audit
    * (q_embed_kcenter_assign) derive from ONE selection in a
    * production curation run. Driver state: k Center records. */
  private val kcenterCache = new java.util.concurrent.ConcurrentHashMap[
    String, Seq[graft.ops.Coreset.Center]]()
  private def kcenters(s: SparkSession, dir: String): Seq[graft.ops.Coreset.Center] =
    kcenterCache.computeIfAbsent(memoKey(s, dir), _ =>
      graft.ops.Coreset.selectCenters(emb(s, dir), "vec_id", "embedding", 8))

  private def sampledTruth(s: SparkSession, dir: String): DataFrame =
    truthCache.computeIfAbsent(memoKey(s, dir), _ =>
      truthStage(s, dir, "ann-truth-sampled") {
        Similarity.bruteForceTop1Sampled(emb(s, dir), isQuerySample)
          .select(col("qid"), col("cid").as("tcid"), col("cos").as("tcos"))
      })

  /** Memoized Lloyd centroids per (application, sfDir): the IVF family
    * (ivf, ivf_sq8, ivf_pq) appears across three gate queries and both
    * recall gates with IDENTICAL deterministic training (k = 16,
    * 3 iterations, same corpus) — training once per harness run is the
    * query-layer twin of the persisted index's epoch contract
    * ([[Similarity.writeAnnIndex]] trains once per corpus epoch).
    * Correctness-invisible: training is bit-deterministic under any
    * partitioning (integer partials). k·d doubles per entry. */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def trainedCents(
      s: SparkSession, dir: String): Option[Array[Array[Double]]] = {
    import s.implicits._
    Some(centroidCache.computeIfAbsent(
      memoKey(s, dir), _ =>
        Similarity.trainCentroids(
          emb(s, dir).select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])],
          k = 16, iters = 3)))
  }

  /** Memoized PQ codebooks per (application, sfDir) — same contract as
    * [[trainedCents]]: the `pq` and `ivf_pq` rows of both recall gates
    * train identical deterministic codebooks (m = 16, ksub = 256,
    * 3 iterations). m·ksub·(d/m) doubles per entry. */
  private val codebookCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def trainedCodebooks(
      s: SparkSession, dir: String): Option[Array[Array[Array[Double]]]] = {
    import s.implicits._
    Some(codebookCache.computeIfAbsent(
      memoKey(s, dir), _ =>
        Similarity.trainPqCodebooks(
          emb(s, dir).select(col("vec_id"), col("embedding"))
            .as[(Long, Array[Float])],
          m = 16, ksub = 256, iters = 3)))
  }

  /** One invariant gate row for a top-1 ANN method — the oracle-checkable
    * reshaping of the old rows-only signature dumps (round-4/5 verdict
    * item 1): every column is either DuckDB-derivable (method,
    * n_queries = the deterministic sample size) or a deterministic
    * boolean invariant computed full-corpus in Spark —
    * `recall_ok` (sampled recall ≥ a floor sitting under the
    * engine-measured value at every SF — held by the `q_ann_recall`
    * rows at all three SFs and by SimilaritySpec's "ANN recall" cases),
    * `covered_all` (every corpus vector got a top-1 — measured exact at
    * sf0.001/0.01/0.1), and `cos_valid` (no self-matches, every cosine
    * in [-1, 1]). A regression in the banding/probing/rescoring kernels
    * flips a boolean and hash-mismatches the oracle. */
  private def top1GateRow(
      s: SparkSession, dir: String, method: String, ann0: DataFrame,
      floor: Double): DataFrame = {
    val e = emb(s, dir)
    // one row per corpus vector, read twice (structure + recall join)
    val ann = ann0.checkpointLinted()
    val stats = ann.agg(
      count(lit(1)).as("n_res"),
      min(when(col("cid") =!= col("qid") &&
        col("cos") >= -1.0000001 && col("cos") <= 1.0000001, 1)
        .otherwise(0)).as("row_ok"))
    val nv = e.agg(count(lit(1)).as("n_vec"))
    sampledTruth(s, dir)
      .join(ann.select(col("qid"), col("cid"), col("cos")), Seq("qid"), "left")
      .select(
        when(col("cid") === col("tcid") || col("cos") === col("tcos"), 1)
          .otherwise(0).as("found"))
      .agg(count(lit(1)).as("n_queries"), sum(col("found")).as("n_found"))
      .crossJoin(stats).crossJoin(nv)
      .select(lit(method).as("method"), col("n_queries"),
        (col("n_found").cast("double") / col("n_queries").cast("double") >= floor)
          .as("recall_ok"),
        (col("n_res") === col("n_vec")).as("covered_all"),
        (col("row_ok") === 1).as("cos_valid"))
  }

  /** Multi-table random-hyperplane LSH ANN gate (4 planes × 8 tables,
    * the OR-amplified recall path). Floor 0.60 vs measured 0.679–0.762
    * across sf0.001/0.01/0.1. */
  def lshAnn(s: SparkSession, dir: String): DataFrame =
    top1GateRow(s, dir, "lsh",
      Similarity.lshAnnTop1(emb(s, dir), planes = 4, tables = 8), floor = 0.60)

  /** IVF ANN gate with Lloyd-trained centroids. Floor 0.50 vs measured
    * 0.570–0.671 across SFs (near-orthogonal random embeddings are
    * close to IVF-worst-case; clustered production corpora score far
    * higher at the same settings). */
  def ivfAnn(s: SparkSession, dir: String): DataFrame =
    top1GateRow(s, dir, "ivf",
      Similarity.ivfAnnTop1(emb(s, dir), k = 16, nprobe = 4, lloydIters = 3,
        preTrained = trainedCents(s, dir)),
      floor = 0.50)

  /** PERSISTED-INDEX gate — the 100 TB search surface (build the index
    * once per corpus epoch, search every query batch against it) run
    * end-to-end as a driver row: [[Similarity.writeAnnIndex]] trains
    * and persists centroids + hive-partitioned int8 lists + stored
    * floats under [[Harness.memo]] (rebuilt when the embeddings drift), the
    * SAMPLED query set probes it through [[Similarity.annIndexTopK]]
    * with every list probed (nprobe = k, so pruning is exercised as a
    * no-op and quality isolates the int8-shortlist + rescore path),
    * and the gate asserts: the exact top-1 (memoized sampled truth)
    * appears in the top-3 at ≥ 0.85 (measured 1.000 at every SF, and
    * held by this gate's row at all three — int8 quantization never pushes the
    * true top-1 out of a 4-deep shortlist on this corpus),
    * every query returns 3 distinct non-self candidates, and cosines
    * are valid. Query ids are shifted by 10⁹ (index search requires
    * ids disjoint from the corpus); the query's own corpus twin
    * (cos = 1) is dropped after unshifting. */
  def annIndexGate(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // disk-memoized across processes: the index is a pure function of
    // the embeddings table — the epoch contract writeAnnIndex documents,
    // honored by the harness too
    val base = Harness.memo(s, "ann-index", dir, Seq("embeddings.parquet"),
        "ann-index-k16-lloyd3-v1") { m =>
      Similarity.writeAnnIndex(e, m, k = 16, lloydIters = 3,
        preTrained = trainedCents(s, dir))
    }
    val shift = 1000000000L
    val qs = e.filter(isQuerySample)
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"))
    // top-4 so the self-twin's slot still leaves 3 real candidates
    val topk = Similarity.annIndexTopK(base, qs, topK = 4, nprobe = 16)
      .select((col("qid") - shift).as("qid"), col("cid"), col("cos"))
      .filter(col("cid") =!= col("qid"))
    // one fused pass: per-query shape/validity/recall stats off a
    // single truth⋈topk join, then one global fold — the previous
    // three-consumer formulation cost two extra job chains and an
    // eager checkpoint for frames this small
    val truth = sampledTruth(s, dir)
    truth
      .join(topk, Seq("qid"), "left")
      .groupBy(col("qid"))
      .agg(
        count(col("cid")).as("n"),
        countDistinct(col("cid")).as("nd"),
        max(when(col("cid") === col("tcid") || col("cos") === col("tcos"), 1)
          .otherwise(0)).as("found"),
        min(when(col("cos") >= -1.0000001 && col("cos") <= 1.0000001, 1)
          .otherwise(0)).as("ok"))
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("found")).as("n_found"),
        min(when(col("n") === 3 && col("nd") === 3, 1).otherwise(0)).as("shape_min"),
        min(col("ok")).as("ord_min"))
      .select(lit("ivf_index").as("method"), col("n_queries"),
        (col("n_found").cast("double") / col("n_queries").cast("double") >= 0.85)
          .as("recall_ok"),
        (col("shape_min") === 1).as("k_ok"),
        (col("ord_min") === 1).as("cos_valid"))
  }

  /** Per-DIMENSION corpus statistics — the normalization/whitening prep
    * step of an embedding pipeline: exact decimal Σx and Σx² per
    * dimension (posexplode + one shuffle of k·d partials), mean and
    * population variance derived from the string-hopped exact sums so
    * the doubles are partitioning-independent (same moment pattern as
    * q_agg_variance). */
  /** Principal component over the embedding corpus (round-11,
    * [[graft.ops.Pca]]): exact-decimal covariance census (one scan,
    * d²-bounded partial agg — the Lloyd posture) + a fixed-count power
    * iteration whose every step is engine-reproducible (exact-decimal
    * matvec, order-free max normalizer, shortest-string grid
    * re-entry). The oracle is GENERATED by the same loop that runs the
    * iteration — K unrolled CTEs replaying covariance and iteration
    * value-for-value. */
  def embedPca(s: SparkSession, dir: String): DataFrame = {
    val (sij, si, n) = pcaCensus(s, dir)
    graft.ops.Pca.principalComponentFrom(s, sij, si, n)
      .orderBy(col("dim"))
  }

  /** The corpus-sized half of PCA: every vector projected onto the
    * converged component — a scan-fused exact-decimal dot (the v
    * literal rides the plan; no shuffle before the output sort). */
  def embedPcaProject(s: SparkSession, dir: String): DataFrame = {
    val (sij, si, n) = pcaCensus(s, dir)
    val (v, _) = graft.ops.Pca.powerIteration(
      graft.ops.Pca.covariance(sij, si, n))
    graft.ops.Pca.project(emb(s, dir), "embedding", "vec_id", v)
      .orderBy(col("vec_id"))
  }

  /** TOP-r PCA by deflation (round-12, [[graft.ops.Pca.deflate]]):
    * r = 3 components from the SAME memoized census — after each
    * converged component the d² driver matrix deflates on the exact
    * grid (A ← A − (λ/vᵀv)·v·vᵀ, every step VARCHAR-hop quantized) and
    * the power iteration re-runs. The oracle is generated by the same
    * loop: 3 unrolled iteration chains with the deflation CTEs
    * replayed value-for-value. Corpus cost is unchanged — ONE census
    * scan regardless of r; only driver metadata work grows. */
  def embedPcaTopR(s: SparkSession, dir: String): DataFrame = {
    val (sij, si, n) = pcaCensus(s, dir)
    graft.ops.Pca.principalComponentsTopR(s, sij, si, n, r = 3)
      .orderBy(col("comp"), col("dim"))
  }

  /** Subspace projection: every vector's 3 component scores in one
    * scan-fused pass (3 exact-decimal dots, no shuffle before the
    * output sort). */
  def embedPcaTopRProject(s: SparkSession, dir: String): DataFrame = {
    val (sij, si, n) = pcaCensus(s, dir)
    val vs = graft.ops.Pca.topComponents(
      graft.ops.Pca.covariance(sij, si, n), 3).map(_._1)
    graft.ops.Pca.projectTopR(emb(s, dir), "embedding", "vec_id", vs)
      .orderBy(col("vec_id"))
  }

  def embedDimStats(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity.decToDouble
    val e = emb(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos") + 1 as "dim",
        col("x").cast("double").cast("decimal(12,9)").as("xd"))
    e.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        decToDouble(sum(col("xd"))).as("sum_x"),
        decToDouble(sum(col("xd") * col("xd"))).as("sum_x2"))
      .withColumn("mean", col("sum_x") / col("n"))
      .withColumn("var_pop",
        (col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) / col("n"))
      .select(col("dim"), col("n"), col("mean"), col("var_pop"))
      .orderBy(col("dim"))
  }

  /** kNN(1) LABEL PROBE — the standard embedding-space eval: predict
    * each sampled query's label as its exact nearest neighbor's label
    * and report per-class accuracy. Reuses the memoized sampled exact
    * ground truth the recall gates share (sample·corpus cost, paid
    * once per session), so this gate adds only two label joins and a
    * 10-row aggregate. */
  def embedKnn(s: SparkSession, dir: String): DataFrame = {
    val labels = emb(s, dir).select(col("vec_id"), col("label"))
    sampledTruth(s, dir)
      .join(labels.select(col("vec_id").as("qid"),
        col("label").as("true_label")), "qid")
      .join(labels.select(col("vec_id").as("tcid"),
        col("label").as("pred_label")), "tcid")
      .groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred_label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_queries").cast("double"))
      .orderBy(col("true_label"))
  }

  /** Per-dimension FISHER DISCRIMINANT RATIO over the label column —
    * the embedding-quality diagnostic (how separable are the classes
    * along each axis): F_d = between-class / within-class scatter.
    * Determinism: per-(label, dim) moments are EXACT decimal sums; the
    * per-class within/between terms are fixed-order double expressions
    * over those exact operands (the q_embed_dimstats contract), each
    * rule-5b quantized to DECIMAL(18,9) so the 10-class fold is an
    * exact decimal sum — class aggregation order can't flip a bit.
    * Shape: one posexplode scan → (label, dim) partial agg (≤ classes·d
    * rows on the wire) → metadata-scale arithmetic. */
  def embedFisher(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity.decToDouble
    val e = emb(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        col("x").cast("double").cast("decimal(12,9)").as("xd"))
    val perClass = e.groupBy(col("label"), col("dim")).agg(
      count(lit(1)).as("n_c"),
      sum(col("xd")).as("s_c"),
      sum(col("xd") * col("xd")).as("q_c"))
    val global = perClass.groupBy(col("dim")).agg(
      sum(col("n_c")).as("n"), sum(col("s_c")).as("s"))
    val terms = perClass.join(broadcast(global), "dim")
      .withColumn("mu_c", decToDouble(col("s_c")) / col("n_c"))
      .withColumn("mu", decToDouble(col("s")) / col("n"))
      .withColumn("w_q",
        (decToDouble(col("q_c")) -
          decToDouble(col("s_c")) * decToDouble(col("s_c")) / col("n_c"))
          .cast("string").cast("decimal(18,9)"))
      .withColumn("b_q",
        (col("n_c") * (col("mu_c") - col("mu")) * (col("mu_c") - col("mu")))
          .cast("string").cast("decimal(18,9)"))
    terms.groupBy(col("dim")).agg(
        decToDouble(sum(col("w_q")).cast("decimal(38,9)")).as("within"),
        decToDouble(sum(col("b_q")).cast("decimal(38,9)")).as("between"))
      .withColumn("fisher", col("between") / col("within"))
      .orderBy(col("dim"))
  }

  /** Per-dimension STANDARDIZATION of the embeddings — the whitening
    * prep [[embedDimStats]] computes moments for, applied: z = (x −
    * mean_dim)/std_dim. The corpus stats frame is d rows (metadata-
    * sized — AQE broadcasts it); every arithmetic step after the exact
    * decimal moments is a single correctly-rounded double op in the
    * same order as the oracle, so values hash-match without
    * quantization. Output restricted to the 100 lowest ids (the
    * operator is a full-corpus map; the gate just bounds the dump). */
  def embedNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity.decToDouble
    val vals = emb(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos") + 1 as "dim",
        col("x").cast("double").cast("decimal(12,9)").as("xd"))
    val stats = vals.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        decToDouble(sum(col("xd"))).as("sum_x"),
        decToDouble(sum(col("xd") * col("xd"))).as("sum_x2"))
      .withColumn("mean", col("sum_x") / col("n"))
      .withColumn("std",
        sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) / col("n")))
      .select(col("dim"), col("mean"), col("std"))
    vals.filter(col("vec_id") < 100)
      .join(stats, "dim")
      .select(col("vec_id"), col("dim"),
        ((decToDouble(col("xd")) - col("mean")) / col("std")).as("z"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Top-3 LSH ANN gate — the invariant reshaping of the old rows-only
    * top-k dump ([[top1GateRow]]'s pattern, plus the top-k-specific
    * shape invariants): `recall_ok` = the true top-1 appears anywhere
    * in the sampled queries' top-3 at ≥ 0.60 (measured 0.679–0.762
    * across SFs), `k_ok` = every corpus vector has exactly k=3 ranked
    * rows with distinct candidates (measured exact at every SF), and
    * `cos_valid` = no self-matches, cosines in [-1, 1] and
    * non-increasing in rank. */
  def lshAnnK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // one row per (vector, rank), read three times below
    val topk = Similarity.lshAnnTopK(e, k = 3, planes = 4, tables = 8)
      .checkpointLinted()
    val w = Window.partitionBy(col("qid")).orderBy(col("rnk"))
    val ordered = topk.withColumn("prev", lag(col("cos"), 1).over(w))
      .select(
        when(col("cid") =!= col("qid") &&
          col("cos") >= -1.0000001 && col("cos") <= 1.0000001 &&
          (col("prev").isNull || col("prev") >= col("cos")), 1)
          .otherwise(0).as("ok"))
      .agg(min(col("ok")).as("ord_min"))
    val shape = topk.groupBy(col("qid"))
      .agg(count(lit(1)).as("n"), max(col("rnk")).as("maxr"),
        countDistinct(col("cid")).as("nd"))
      .agg(count(lit(1)).as("n_cov"),
        min(when(col("n") === 3 && col("maxr") === 3 && col("nd") === 3, 1)
          .otherwise(0)).as("shape_min"))
    val nv = e.agg(count(lit(1)).as("n_vec"))
    sampledTruth(s, dir)
      .join(topk.select(col("qid"), col("cid"), col("cos")), Seq("qid"), "left")
      .groupBy(col("qid"))
      .agg(max(when(col("cid") === col("tcid") || col("cos") === col("tcos"), 1)
        .otherwise(0)).as("found"))
      .agg(count(lit(1)).as("n_queries"), sum(col("found")).as("n_found"))
      .crossJoin(shape).crossJoin(ordered).crossJoin(nv)
      .select(lit("lsh_topk").as("method"), col("n_queries"),
        (col("n_found").cast("double") / col("n_queries").cast("double") >= 0.60)
          .as("recall_ok"),
        (col("n_cov") === col("n_vec") && col("shape_min") === 1).as("k_ok"),
        (col("ord_min") === 1).as("cos_valid"))
  }

  /** The ANN recall gate (round-1 verdict: "an ANN operator with
    * unmeasured recall is unfalsifiable"): joins each ANN path's top-1
    * against the exact [[Similarity.bruteForceTop1All]] ground truth
    * and checks recall against a floor. The floors sit ≥ 0.07 below the
    * deterministically-measured engine recall on this corpus (LSH
    * 0.708–0.753, trained IVF 0.571–0.654 across sf0.001/0.01/0.1;
    * seeded IVF 0.52 — near-orthogonal random embeddings, true top-1 at
    * cos ≈ 0.37, are close to LSH-worst-case; clustered production
    * corpora score far higher at the same settings). Every piece is
    * deterministic, so the booleans are stable and the row is fully
    * oracle-checkable — the aggregate shape mirrors q_distributed_id's
    * invariant pattern. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // the FULL exact ground truth (the costliest pipeline here) is
    // disk-memoized across processes ([[truthStage]]) and feeds both
    // method rows of the union from its parquet materialization —
    // nothing recomputes or pins session memory
    val truth = truthStage(s, dir, "ann-truth-full") {
      Similarity.bruteForceTop1All(e)
        .select(col("qid"), col("cid").as("tcid"), col("cos").as("tcos"))
    }
    recallRows(e, truth, Similarity.int8AnnTop1All(e),
      Similarity.pqAnnTop1All(e, preTrainedCodebooks = trainedCodebooks(s, dir)),
      Similarity.binAnnTop1All(e),
      ivfFloor = 0.50, lshFloor = 0.60, int8Floor = 0.85, pqFloor = 0.90,
      cents = trainedCents(s, dir), cbs = trainedCodebooks(s, dir))
  }

  /** One gate row per ANN method against the given exact ground truth
    * (which may cover all vectors or a deterministic query sample).
    * Floors sit under the engine-measured recall at every SF
    * (the rows below run at all three SFs; SimilaritySpec's "ANN
    * recall" cases hold them at sf0.01): LSH 0.679–0.762, IVF 0.570–0.671,
    * int8/SQ8 0.933–0.950, PQ 0.996–1.000, IVF-SQ8 0.554–0.650,
    * IVF-PQ 0.570–0.671 (the composed variants track plain IVF's
    * list-pruning recall — quantization costs a point or two). */
  private def recallRows(
      e: DataFrame, truth: DataFrame, int8Ann: => DataFrame,
      pqAnn: => DataFrame, binAnn: => DataFrame,
      ivfFloor: Double, lshFloor: Double, int8Floor: Double,
      pqFloor: Double, cents: Option[Array[Array[Double]]],
      cbs: Option[Array[Array[Array[Double]]]]): DataFrame = {
    def row(method: String, ann: DataFrame, floor: Double): DataFrame =
      truth.join(ann.select(col("qid"), col("cid"), col("cos")), Seq("qid"), "left")
        .select(
          // a hit is the true top-1 id, or an exact cosine tie with it
          when(col("cid") === col("tcid") || col("cos") === col("tcos"), 1)
            .otherwise(0).as("found"))
        .agg(count(lit(1)).as("n_queries"), sum(col("found")).as("n_found"))
        .select(lit(method).as("method"), col("n_queries"),
          (col("n_found").cast("double") / col("n_queries").cast("double") >= floor)
            .as("recall_ok"))
    // the seven method kernels are INDEPENDENT pipelines whose eager
    // internal actions (censuses, checkpoints, shortlist rescores) used
    // to run driver-sequentially, leaving the cluster idle in each
    // kernel's scheduling gaps. Build them from a small thread pool
    // (guide §2.6 — overlap independent jobs; 3 in flight fills the
    // tail without starving any single kernel): every kernel is
    // deterministic and isolated, so the rows — and the fixed union
    // order below — are identical to the sequential build. The shared
    // memo artifacts (cents/cbs/truth) are computed by the CALLER
    // before this fan-out, so no memo initialization races.
    val arms: Seq[(String, () => DataFrame, Double)] = Seq(
      ("ivf", () => Similarity.ivfAnnTop1(e, k = 16, nprobe = 4,
        lloydIters = 3, preTrained = cents), ivfFloor),
      ("lsh", () => Similarity.lshAnnTop1(e, planes = 4, tables = 8), lshFloor),
      ("int8", () => int8Ann, int8Floor),
      ("pq", () => pqAnn, pqFloor),
      // the composed production variants (round-4/5 verdict item 2):
      // IVF list pruning over quantized in-list scans, gated at 0.50
      // under the measured 0.554/0.570 worst cases
      ("ivf_sq8", () => Similarity.ivfSq8AnnTop1(e, preTrained = cents), 0.50),
      ("ivf_pq", () => Similarity.ivfPqAnnTop1(e, preTrained = cents,
        preTrainedCodebooks = cbs), 0.50),
      // binary quantization (round-13): 1 bit/dim + deep-shortlist
      // exact rescore, gated at 0.50 under the measured 0.572-0.764
      // (ProbeBin 2026-08-14, sf0.001/0.01/0.1, full and sampled)
      ("bin", () => binAnn, 0.50))
    val built = graft.tools.Par.run(3)(
      arms.map { case (m, mk, fl) => () => row(m, mk(), fl) })
    built.reduce(_.unionAll(_)).orderBy(col("method"))
  }

  /** The SAMPLED recall gate — the form that survives 100×: exact
    * ground truth only for a deterministic ~25% md5-of-id query sample
    * (the `q_sample_hash` rule) against the FULL candidate corpus, so
    * the all-pairs cost is sample·corpus/cap² instead of corpus²/cap².
    * Sampling contract: membership is a pure function of vec_id
    * (substr(md5(id), 1, 1) < '4'), bit-stable across runs, engines,
    * and partitionings — recall on the sample is therefore
    * deterministic, and the floors sit below the measured sampled
    * recall at every SF (LSH 0.679–0.762, IVF 0.570–0.671 across
    * sf0.001/0.01/0.1 — this gate's rows at all three SFs, and
    * SimilaritySpec's "ANN recall" cases at sf0.01). */
  def annRecallSampled(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // the int8 scan samples its queries too — the whole gate stays at
    // sample·corpus cost (LSH/IVF candidates are structural and cheap,
    // so those methods still report all vectors); the truth frame is
    // the memoized one shared with the per-method gate queries
    recallRows(e, sampledTruth(s, dir),
      Similarity.int8AnnTop1Sampled(e, isQuerySample),
      Similarity.pqAnnTop1Sampled(e, isQuerySample,
        preTrainedCodebooks = trainedCodebooks(s, dir)),
      Similarity.binAnnTop1Sampled(e, isQuerySample),
      ivfFloor = 0.50, lshFloor = 0.60, int8Floor = 0.85, pqFloor = 0.90,
      cents = trainedCents(s, dir), cbs = trainedCodebooks(s, dir))
  }

  /** Blocked (beyond-broadcast) near-dup variant — identical output to
    * q_embed_neardup, so it shares that oracle. */
  def cosineNearDupsBlocked(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsBlocked(emb(s, dir), threshold = 0.4)
      .orderBy(col("id_a"), col("id_b"))

  /** Shared oracle scaffolding: exact decimal dot/norm, values
    * IDENTICAL to the original unnest-join form (verified row-for-row)
    * but ~5× faster — per-pair list_sum folds (DuckDB keeps
    * DECIMAL(38,18) through list_sum, the same widening as SUM)
    * instead of materializing n²·d rows through a hash aggregate; the
    * 2522 s q_embed_dedup oracle at sf0.1 was 98 % that aggregate.
    * `pairPred` pushes the symmetric consumers' `qid < cid` below the
    * scoring, halving the fold count. */
  private def cosSql(aFilter: String, bFilter: String,
                     pairPred: String = ""): String =
    s"""WITH gq AS (
          SELECT vec_id AS qid,
            [CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) FOR x IN embedding] AS qg
          FROM embeddings $aFilter),
        gc AS (
          SELECT vec_id AS cid,
            [CAST(CAST(CAST(x AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) FOR x IN embedding] AS cg
          FROM embeddings $bFilter),
        qn AS (SELECT qid, qg, list_sum([x * x FOR x IN qg]) AS qn2 FROM gq),
        cn AS (SELECT cid, cg, list_sum([x * x FOR x IN cg]) AS cn2 FROM gc),
        scored AS (
          SELECT qid, cid,
            CAST(CAST(list_sum([qg[i] * cg[i] FOR i IN range(1, len(qg) + 1)]) AS VARCHAR) AS DOUBLE) /
              (sqrt(CAST(CAST(qn2 AS VARCHAR) AS DOUBLE)) * sqrt(CAST(CAST(cn2 AS VARCHAR) AS DOUBLE))) AS cos
          FROM qn CROSS JOIN cn $pairPred)"""

  /** One invariant oracle arm per ANN method name (UNION ALL over the
    * method list, counted over the given source/filter). */
  private def methodArms(methods: Seq[String], from: String,
      extraBools: Seq[String] = Seq.empty): String =
    methods.sorted.map { m =>
      val bools = ("true AS recall_ok" +: extraBools).mkString(", ")
      s"SELECT '$m' AS method, count(1) AS n_queries, $bools FROM $from"
    }.mkString("\n UNION ALL\n ") + "\n ORDER BY method"

  private val sampledEmb =
    "embeddings WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'"

  val queries: Seq[Query] = Seq(
    Query("q_ann_recall", annRecall,
      methodArms(Seq("bin", "int8", "ivf", "ivf_pq", "ivf_sq8", "lsh", "pq"),
        "embeddings"), gate = true),
    Query("q_ann_recall_sampled", annRecallSampled,
      methodArms(Seq("bin", "int8", "ivf", "ivf_pq", "ivf_sq8", "lsh", "pq"),
        sampledEmb), gate = true),
    Query("q_ann_ivf", ivfAnn,
      methodArms(Seq("ivf"), sampledEmb,
        Seq("true AS covered_all", "true AS cos_valid"))),
    Query("q_ann_lsh", lshAnn,
      methodArms(Seq("lsh"), sampledEmb,
        Seq("true AS covered_all", "true AS cos_valid"))),
    Query("q_ann_lsh_topk", lshAnnK,
      methodArms(Seq("lsh_topk"), sampledEmb,
        Seq("true AS k_ok", "true AS cos_valid"))),
    Query("q_ann_index", annIndexGate,
      methodArms(Seq("ivf_index"), sampledEmb,
        Seq("true AS k_ok", "true AS cos_valid")), gate = true),
    Query("q_ann_topk", annTopK,
      (cosSql("WHERE vec_id < 10", "WHERE vec_id >= 10") +
        """, ranked AS (
            SELECT qid, cid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
            FROM scored)
          SELECT qid, CAST(rn AS INT) AS rnk, cid, cos FROM ranked
          WHERE rn <= 3 ORDER BY qid, rnk""")),
    // hard negatives: the q_ann_topk replay with the exact-cosine
    // dup gate applied BEFORE ranking — cos < 0.5 strictly
    Query("q_embed_hard_negatives", hardNegatives,
      (cosSql("WHERE vec_id < 10", "WHERE vec_id >= 10") +
        """, ranked AS (
            SELECT qid, cid, cos,
              row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
            FROM scored WHERE cos < 0.5)
          SELECT qid, CAST(rn AS INT) AS rnk, cid, cos FROM ranked
          WHERE rn <= 3 ORDER BY qid, rnk""")),
    Query("q_embed_neardup", cosineNearDups,
      (cosSql("", "", "WHERE qid < cid") + """
          SELECT qid AS id_a, cid AS id_b, cos FROM scored
          WHERE qid < cid AND cos >= 0.4 ORDER BY id_a, id_b""")),
    Query("q_embed_neardup_blocked", cosineNearDupsBlocked,
      (cosSql("", "", "WHERE qid < cid") + """
          SELECT qid AS id_a, cid AS id_b, cos FROM scored
          WHERE qid < cid AND cos >= 0.4 ORDER BY id_a, id_b""")),
    Query("q_embed_dedup", embedDedup,
      (cosSql("", "", "WHERE qid < cid")
        .replaceFirst("WITH ", "WITH RECURSIVE ") + """,
          pairs AS MATERIALIZED (
            SELECT qid AS pa, cid AS pb FROM scored
            WHERE qid < cid AND cos >= 0.4),
          edges AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION
            SELECT pb AS src, pa AS dst FROM pairs),
          walk(id, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
          comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id)
          SELECT v.vec_id,
            coalesce(c2.cluster_id, v.vec_id) AS cluster_id,
            coalesce(c2.cluster_id, v.vec_id) = v.vec_id AS keep
          FROM embeddings v LEFT JOIN comp c2 ON c2.id = v.vec_id
          ORDER BY v.vec_id""")),
    Query("q_semdedup", semDedupQ,
      """WITH RECURSIVE
         idx AS (SELECT unnest(range(1, 65)) AS i),
         sd AS (SELECT vec_id AS sid, embedding AS se FROM embeddings
                ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 15), vec_id
                LIMIT (SELECT greatest(16, (count(1) + 124) // 125)
                       FROM embeddings)),
         asums AS (
           SELECT v.vec_id, s.sid,
             sum(CAST(CAST(CAST(v.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(s.se[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS dot,
             sum(CAST(CAST(CAST(v.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(v.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS vn2,
             sum(CAST(CAST(CAST(s.se[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(s.se[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS sn2
           FROM embeddings v CROSS JOIN sd s CROSS JOIN idx
           GROUP BY 1, 2),
         ascore AS (
           SELECT vec_id, sid,
             CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
               (sqrt(CAST(CAST(vn2 AS VARCHAR) AS DOUBLE)) *
                sqrt(CAST(CAST(sn2 AS VARCHAR) AS DOUBLE))) AS cos
           FROM asums),
         assign AS (
           SELECT vec_id, sid AS centroid_id FROM (
             SELECT vec_id, sid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, sid) AS rn
             FROM ascore) t WHERE rn = 1),
         pv AS (SELECT a.centroid_id, a.vec_id, e.embedding
                FROM assign a JOIN embeddings e USING (vec_id)),
         psums AS (
           SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             sum(CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS dot,
             sum(CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS an2,
             sum(CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS bn2
           FROM pv x JOIN pv y
             ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
           CROSS JOIN idx
           GROUP BY 1, 2),
         pairs AS MATERIALIZED (
           SELECT id_a, id_b FROM psums
           WHERE CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
             (sqrt(CAST(CAST(an2 AS VARCHAR) AS DOUBLE)) *
              sqrt(CAST(CAST(bn2 AS VARCHAR) AS DOUBLE))) >= 0.4),
         edges AS MATERIALIZED (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION
           SELECT id_b AS src, id_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM walk GROUP BY id)
         SELECT v.vec_id, a.centroid_id,
           coalesce(c.cluster_id, v.vec_id) AS cluster_id,
           coalesce(c.cluster_id, v.vec_id) = v.vec_id AS keep
         FROM embeddings v
         JOIN assign a ON a.vec_id = v.vec_id
         LEFT JOIN comp c ON c.id = v.vec_id
         ORDER BY v.vec_id"""),
    Query("q_semdedup_incremental", semDedupIncrementalQ,
      """WITH
         corpusv AS (SELECT vec_id, embedding FROM embeddings
                     WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '2'),
         batchv AS (SELECT vec_id, embedding FROM embeddings
                    WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '2'),
         idx AS (SELECT unnest(range(1, 65)) AS i),
         sd AS (SELECT vec_id AS sid, embedding AS se FROM corpusv
                ORDER BY substr(md5(CAST(vec_id AS VARCHAR)), 1, 15), vec_id
                LIMIT (SELECT greatest(16, (count(1) + 124) // 125)
                       FROM corpusv)),
         asums AS (
           SELECT v.vec_id, s.sid,
             sum(CAST(CAST(CAST(v.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(s.se[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS dot,
             sum(CAST(CAST(CAST(v.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(v.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS vn2,
             sum(CAST(CAST(CAST(s.se[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(s.se[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS sn2
           FROM embeddings v CROSS JOIN sd s CROSS JOIN idx
           GROUP BY 1, 2),
         ascore AS (
           SELECT vec_id, sid,
             CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
               (sqrt(CAST(CAST(vn2 AS VARCHAR) AS DOUBLE)) *
                sqrt(CAST(CAST(sn2 AS VARCHAR) AS DOUBLE))) AS cos
           FROM asums),
         assign AS (
           SELECT vec_id, sid AS centroid_id FROM (
             SELECT vec_id, sid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, sid) AS rn
             FROM ascore) t WHERE rn = 1),
         bpv AS (SELECT a.vec_id, a.centroid_id, e.embedding
                 FROM assign a JOIN batchv e USING (vec_id)),
         cpv AS (SELECT a.vec_id, a.centroid_id, e.embedding
                 FROM assign a JOIN corpusv e USING (vec_id)),
         ssums AS (
           SELECT x.vec_id AS bid, y.vec_id AS cid2,
             sum(CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS dot,
             sum(CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS an2,
             sum(CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS bn2
           FROM bpv x JOIN cpv y ON x.centroid_id = y.centroid_id
           CROSS JOIN idx
           GROUP BY 1, 2),
         scorpus AS (
           SELECT DISTINCT bid FROM ssums
           WHERE CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
             (sqrt(CAST(CAST(an2 AS VARCHAR) AS DOUBLE)) *
              sqrt(CAST(CAST(bn2 AS VARCHAR) AS DOUBLE))) >= 0.4),
         wsums AS (
           SELECT x.vec_id AS bid, y.vec_id AS oid,
             sum(CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS dot,
             sum(CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(x.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS an2,
             sum(CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(y.embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS bn2
           FROM bpv x JOIN bpv y
             ON x.centroid_id = y.centroid_id AND y.vec_id < x.vec_id
           CROSS JOIN idx
           GROUP BY 1, 2),
         wbatch AS (
           SELECT DISTINCT bid FROM wsums
           WHERE CAST(CAST(dot AS VARCHAR) AS DOUBLE) /
             (sqrt(CAST(CAST(an2 AS VARCHAR) AS DOUBLE)) *
              sqrt(CAST(CAST(bn2 AS VARCHAR) AS DOUBLE))) >= 0.4)
         SELECT b.vec_id, b.centroid_id,
           CASE WHEN w.bid IS NOT NULL THEN 'dup_in_batch'
                WHEN s.bid IS NOT NULL THEN 'dup_of_corpus'
                ELSE 'new' END AS status
         FROM bpv b
         LEFT JOIN wbatch w ON w.bid = b.vec_id
         LEFT JOIN scorpus s ON s.bid = b.vec_id
         ORDER BY b.vec_id""", gate = true),
    Query("q_embed_normalize", embedNormalize,
      """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         vals AS (
           SELECT vec_id, i AS dim,
             CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) AS xd
           FROM embeddings CROSS JOIN idx),
         m AS (
           SELECT dim, count(1) AS n,
             CAST(CAST(sum(xd) AS VARCHAR) AS DOUBLE) AS sum_x,
             CAST(CAST(sum(xd * xd) AS VARCHAR) AS DOUBLE) AS sum_x2
           FROM vals GROUP BY dim),
         st AS (
           SELECT dim, sum_x / n AS mean,
             sqrt((sum_x2 - sum_x * sum_x / n) / n) AS std
           FROM m)
         SELECT v.vec_id, CAST(v.dim AS INT) AS dim,
           (CAST(CAST(v.xd AS VARCHAR) AS DOUBLE) - st.mean) / st.std AS z
         FROM vals v JOIN st USING (dim)
         WHERE v.vec_id < 100
         ORDER BY v.vec_id, v.dim"""),
    Query("q_embed_pca", embedPca, graft.ops.Pca.oracleSql("embeddings", "embedding")),
    // pure-hash ±1 JL projection: the oracle re-derives the sign
    // matrix from the same md5 draw and replays every exact sum
    Query("q_embed_randproj", (s, dir) =>
      graft.ops.RandomProjection.project(emb(s, dir), "embedding", "vec_id")
        .orderBy(col("vec_id")),
      graft.ops.RandomProjection.oracleSql("embeddings", "embedding", "vec_id")),
    Query("q_embed_pca_project", embedPcaProject,
      graft.ops.Pca.projectOracleSql("embeddings", "embedding", "vec_id")),
    Query("q_embed_pca_topr", embedPcaTopR,
      graft.ops.Pca.oracleSqlTopR("embeddings", "embedding", 3)),
    Query("q_embed_pca_topr_project", embedPcaTopRProject,
      graft.ops.Pca.projectOracleSqlTopR("embeddings", "embedding", "vec_id", 3)),
    // generated unrolled-round oracle (graft.ops.Coreset): every
    // greedy center re-derived independently, exact decimal
    Query("q_embed_kcenter", (s, dir) =>
      graft.ops.Coreset.kCenterFrom(s, kcenters(s, dir)),
      graft.ops.Coreset.kCenterOracleSql("embeddings", 8, 64)),
    Query("q_embed_kcenter_assign", (s, dir) =>
      graft.ops.Coreset.kCenterAssignFrom(emb(s, dir), "vec_id", "embedding",
        kcenters(s, dir)),
      graft.ops.Coreset.kCenterAssignOracleSql("embeddings", 8, 64)),
    // MMR diversified selection: probe = min-id vector, λ = 1/2
    Query("q_embed_mmr", (s, dir) =>
      graft.ops.Coreset.mmrSelect(emb(s, dir), "vec_id", "embedding", 6),
      graft.ops.Coreset.mmrOracleSql("embeddings", 6, 64)),
    Query("q_embed_dimstats", embedDimStats,
      """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         vals AS (
           SELECT i AS dim,
             CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) AS xd
           FROM embeddings CROSS JOIN idx),
         m AS (
           SELECT dim, count(1) AS n,
             CAST(CAST(sum(xd) AS VARCHAR) AS DOUBLE) AS sum_x,
             CAST(CAST(sum(xd * xd) AS VARCHAR) AS DOUBLE) AS sum_x2
           FROM vals GROUP BY dim)
         SELECT CAST(dim AS INT) AS dim, n, sum_x / n AS mean,
           (sum_x2 - sum_x * sum_x / n) / n AS var_pop
         FROM m ORDER BY dim"""),
    // kNN replay: exact cosines for every sampled query against the
    // full corpus (non-self), argmax with the (cos desc, cid) tie, the
    // neighbor's label scored against the query's
    Query("q_embed_knn", embedKnn,
      (cosSql("WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '4'", "",
        "WHERE qid <> cid") + """,
         top AS (
           SELECT qid, cid FROM (
             SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn
             FROM scored WHERE qid <> cid) WHERE rn = 1)
         SELECT tq.label AS true_label, count(1) AS n_queries,
           CAST(sum(CASE WHEN tc.label = tq.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(sum(CASE WHEN tc.label = tq.label THEN 1 ELSE 0 END) AS DOUBLE) /
             CAST(count(1) AS DOUBLE) AS accuracy
         FROM top
         JOIN embeddings tq ON tq.vec_id = top.qid
         JOIN embeddings tc ON tc.vec_id = top.cid
         GROUP BY 1 ORDER BY 1""")),
    // Fisher replay: exact (label, dim) decimal moments, the same
    // fixed-order double expressions, hopped DECIMAL(18,9) class terms
    // summed exactly — identical bit path to the engine
    Query("q_embed_fisher", embedFisher,
      """WITH idx AS (SELECT unnest(range(1, 65)) AS i),
         vals AS (
           SELECT label, i AS dim,
             CAST(CAST(CAST(embedding[i] AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) AS xd
           FROM embeddings CROSS JOIN idx),
         pc AS (
           SELECT label, dim, count(1) AS n_c,
             sum(xd) AS s_c, sum(xd * xd) AS q_c
           FROM vals GROUP BY label, dim),
         g AS (
           SELECT dim, CAST(sum(n_c) AS BIGINT) AS n, sum(s_c) AS s
           FROM pc GROUP BY dim),
         terms AS (
           SELECT pc.dim,
             CAST(CAST(
               CAST(CAST(q_c AS VARCHAR) AS DOUBLE) -
               CAST(CAST(s_c AS VARCHAR) AS DOUBLE) *
                 CAST(CAST(s_c AS VARCHAR) AS DOUBLE) / n_c
               AS VARCHAR) AS DECIMAL(18,9)) AS w_q,
             CAST(CAST(
               n_c * (CAST(CAST(s_c AS VARCHAR) AS DOUBLE) / n_c -
                      CAST(CAST(s AS VARCHAR) AS DOUBLE) / n)
                   * (CAST(CAST(s_c AS VARCHAR) AS DOUBLE) / n_c -
                      CAST(CAST(s AS VARCHAR) AS DOUBLE) / n)
               AS VARCHAR) AS DECIMAL(18,9)) AS b_q
           FROM pc JOIN g ON g.dim = pc.dim),
         agg AS (
           SELECT dim,
             CAST(CAST(CAST(sum(w_q) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS within,
             CAST(CAST(CAST(sum(b_q) AS DECIMAL(38,9)) AS VARCHAR) AS DOUBLE) AS between
           FROM terms GROUP BY dim)
         SELECT CAST(dim AS INT) AS dim, within, between,
           between / within AS fisher
         FROM agg ORDER BY dim"""),
    Query("q_embed_stats", embedStats,
      """WITH n AS (
           SELECT label, vec_id,
             sum(CAST(CAST(CAST(e AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9)) * CAST(CAST(CAST(e AS DOUBLE) AS VARCHAR) AS DECIMAL(12,9))) AS n2
           FROM (SELECT label, vec_id, unnest(embedding) AS e FROM embeddings)
           GROUP BY label, vec_id)
         SELECT label, count(1) AS n,
           CAST(CAST(sum(n2) AS VARCHAR) AS DOUBLE) AS energy,
           min(sqrt(CAST(CAST(n2 AS VARCHAR) AS DOUBLE))) AS min_norm,
           max(sqrt(CAST(CAST(n2 AS VARCHAR) AS DOUBLE))) AS max_norm
         FROM n GROUP BY label ORDER BY label""")
  )
}
