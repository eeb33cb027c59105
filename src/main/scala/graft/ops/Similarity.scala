package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tools.Ckpt._

/** Embedding similarity search (build brief): exact cosine in decimal
  * arithmetic (oracle-reproducible), brute-force top-k, near-duplicate
  * pair mining with a cheap double-precision prefilter, and an ANN
  * family whose recall is measured against the exact brute-force
  * baseline (`q_ann_recall`).
  *
  * ANN shape: every ANN path is one point of a codec × partition
  * matrix run by ONE blocked top-k kernel ([[blockedLocalBests]]),
  * one shortlist cut ([[blockedShortlist]]) and one exact rescore
  * ([[rescore]]). The CODEC ([[Codec]]) is the scan representation
  * and its per-pair ranking score — float (double dot), SQ8 (int8
  * dot), BQ (sign-bit dot) or PQ (m-byte codes, dot-table lookups).
  * The PARTITION decides which rows meet in a group — flat (one group:
  * the `*All` / `*Sampled` scans), LSH (multi-table random-hyperplane
  * buckets) or IVF (Lloyd-trained lists, optionally persisted as an
  * index). Partitioners only emit (group, role, id, vector) rows, so a
  * new codec or partitioner touches neither the kernel nor the cut.
  *
  * Numeric policy: every cosine the engine OUTPUTS is computed from
  * exact DECIMAL sums (element-wise products at DECIMAL(12,9) summed at
  * DECIMAL(28,18)), then cast to double — the value is independent of
  * partitioning and bit-equal to the DuckDB oracle. The cheap
  * double-precision kernels are used only for CANDIDATE RANKING /
  * prefiltering, never as an output.
  *
  * Scale policy: no stage materializes an all-pairs product and no
  * group is ever scanned in a single task beyond `maxGroup` members —
  * oversized LSH buckets / IVF lists / brute-force inputs are split
  * into block-pair tasks (the same shape as
  * [[cosineNearDupPairsBlocked]]), so a hot bucket becomes many bounded
  * tasks instead of one straggler.
  */
object Similarity {

  /** Element type for exact arithmetic. Products are (25,18); the
    * accumulator is re-cast to (28,18) after every add so Spark's
    * decimal-addition precision growth never hits the 38-digit cap
    * (which would silently drop to scale 17 and de-sync from the
    * oracle). All steps are exact for |element| < 10³, |sum| < 10¹⁰. */
  private val D = "decimal(12,9)"
  private val ACC = "decimal(28,18)"

  /** float → double → decimal: the double hop widens the float exactly
    * and the double→decimal cast rounds correctly in BOTH engines
    * (DuckDB's direct float→decimal cast scales in float precision and
    * is off by ~1e-8 — verified empirically). */
  private def d(x: Column): Column = x.cast("double").cast(D)

  /** Exact decimal dot product of two float/double arrays. */
  def dotDecimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => d(x) * d(y)),
      lit(0).cast(ACC),
      (acc, x) => (acc + x).cast(ACC))

  /** Exact decimal squared norm. */
  def norm2Decimal(a: Column): Column =
    aggregate(
      transform(a, x => d(x) * d(x)),
      lit(0).cast(ACC),
      (acc, x) => (acc + x).cast(ACC))

  /** decimal → double via a string hop: both engines parse decimal
    * digit strings with correct rounding, whereas DuckDB's direct
    * decimal→double cast (value / 10^scale in double arithmetic) can be
    * 1 ULP off Java's BigDecimal conversion. */
  def decToDouble(x: Column): Column = x.cast("string").cast("double")

  /** Deterministic cosine: exact decimal sums, double only at the end. */
  def cosExact(a: Column, b: Column, n2a: Column, n2b: Column): Column =
    decToDouble(dotDecimal(a, b)) /
      (sqrt(decToDouble(n2a)) * sqrt(decToDouble(n2b)))

  /** Fast double-precision cosine for prefiltering (NOT output-stable
    * across summation orders; use with a margin). */
  def cosDouble(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val nb = aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Brute-force exact top-k: broadcast the (small) query set against
    * the distributed candidate set — the candidate table never
    * shuffles; per-query ranking is a bounded window. This is the
    * correctness baseline ANN variants are judged against.
    *
    * Two-phase like the near-dup path: rank ALL pairs with cheap double
    * cosines (norms precomputed once per vector, pair work = one fold),
    * keep a k+8 safety window, exact-decimal rescore only those and
    * re-rank — double-vs-exact disagreement is ~1e-14 relative, so the
    * true top-k always survives the cut, and the OUTPUT ranking/scores
    * come from the exact pass (bit-identical to the oracle). */
  def bruteForceTopK(
      queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val dNorm2 = aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val q = queries.select(
      col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(dNorm2).as("qn"))
    val c = candidates.select(
      col("vec_id").as("cid"), col("embedding").as("ce"),
      sqrt(dNorm2).as("cn"))
    val dDot = aggregate(
      zip_with(col("qe"), col("ce"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val wFast = Window.partitionBy(col("qid")).orderBy(col("cos_fast").desc, col("cid"))
    val shortlist = c.crossJoin(broadcast(q))
      .withColumn("cos_fast", dDot / (col("qn") * col("cn")))
      .withColumn("rf", row_number().over(wFast))
      .filter(col("rf") <= k + 8)
    val wExact = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    shortlist
      .withColumn("cos",
        cosExact(col("qe"), col("ce"), norm2Decimal(col("qe")), norm2Decimal(col("ce"))))
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /** HARD-NEGATIVE mining for contrastive-embedding training data:
    * for each anchor, the k most-similar candidates that are NOT
    * near-duplicates (exact cosine strictly below `dupThreshold`) —
    * the "hardest" negatives, the pairs that teach a retrieval model
    * the most (e.g. DPR, Karpukhin et al. 2020, mines them from BM25;
    * here from the embedding space itself).
    *
    * Same two-phase shape as [[bruteForceTopK]]: double-precision
    * cosines prefilter and rank, exact-decimal rescore decides both
    * the dup boundary and the final order. The fast filter keeps a
    * `margin` ABOVE the threshold so a pair whose double cosine
    * under-reads its exact value (error ~1e-14, margin 1e-9 = 10⁵×
    * that) cannot be dropped before the exact pass; pairs the exact
    * pass rejects as dups merely vacate shortlist slots, covered by
    * the +16 window. */
  def hardNegativesTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      dupThreshold: Double, margin: Double = 1e-9): DataFrame = {
    val dNorm2 = aggregate(
      transform(col("embedding"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val q = queries.select(
      col("vec_id").as("qid"), col("embedding").as("qe"),
      sqrt(dNorm2).as("qn"))
    val c = candidates.select(
      col("vec_id").as("cid"), col("embedding").as("ce"),
      sqrt(dNorm2).as("cn"))
    val dDot = aggregate(
      zip_with(col("qe"), col("ce"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val wFast = Window.partitionBy(col("qid")).orderBy(col("cos_fast").desc, col("cid"))
    val shortlist = c.crossJoin(broadcast(q))
      .withColumn("cos_fast", dDot / (col("qn") * col("cn")))
      .filter(col("cos_fast") < dupThreshold + margin)
      .withColumn("rf", row_number().over(wFast))
      .filter(col("rf") <= k + 16)
    val wExact = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    shortlist
      .withColumn("cos",
        cosExact(col("qe"), col("ce"), norm2Decimal(col("qe")), norm2Decimal(col("ce"))))
      .filter(col("cos") < dupThreshold)
      .withColumn("rnk", row_number().over(wExact))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /** Default near-duplicate entry point: the blocked (beyond-broadcast)
    * variant — the shape that survives 100 TB. The broadcast-matrix
    * [[cosineNearDupPairs]] remains available as an explicit opt-in for
    * corpora known to fit on the driver. */
  def nearDupPairs(
      vecs: DataFrame, threshold: Double, margin: Double = 1e-3,
      blocks: Int = 8): DataFrame =
    cosineNearDupPairsBlocked(vecs, threshold, margin, blocks)

  /** SemDeDup-style CLUSTER-SCOPED semantic dedup (public literature:
    * Abbas et al. 2023, "SemDeDup" — k-means the embedding space,
    * prune near-duplicates WITHIN each cluster only): vectors are
    * assigned to their nearest of `seeds` deterministic seed vectors
    * by exact-decimal cosine, near-dup pairs (cos ≥ `tau`) are mined
    * inside each cluster, and the pair graph collapses to min-id
    * survivors via the same components → decision pipeline the text
    * path uses ([[graft.ops.Dedup.dedupDecision]]).
    *
    * Seeds are the `seeds` lowest md5-ranked ids — a deterministic
    * uniform draw (the [[Sampling.uniformPerStratum]] rule), NOT Lloyd
    * iterations: k-means' float update step is not reproducible across
    * engines, while seed assignment by exact-decimal cosine is — so
    * the ENTIRE operator (assignment, pair set, components, keep
    * bits) hash-matches an independent SQL replay. One Lloyd sweep
    * refines centroids but changes none of the operator's shapes; the
    * production knob is `seeds` (scale ∝ corpus / target cluster
    * size, exactly [[ivfListsFor]]'s rule), which bounds per-cluster
    * pair work to cluster² ≈ constant per cluster as the corpus
    * grows. Pair mining is two-phase like [[cosineNearDupPairs]]:
    * cheap double prefilter at `tau − margin`, exact-decimal rescore
    * of survivors, so outputs stay bit-identical to the oracle.
    *
    * Scale shapes: the seed set broadcasts (seeds · d doubles), the
    * assignment is one codegen'd projection + per-vector bounded
    * window over the broadcast join — the corpus never shuffles for
    * assignment; pair candidates shuffle once on centroid_id (skewed
    * clusters split with the [[cosineNearDupPairsBlocked]] kernel if a
    * census flags them — same escape hatch as the global miner). */
  def semDedup(
      vecs: DataFrame, seeds: Int, tau: Double,
      margin: Double = 1e-3): DataFrame = {
    require(seeds >= 1, s"seeds=$seeds")
    val seedIds = vecs.select(col("vec_id"),
        substring(md5(col("vec_id").cast("string")), 1, 15).as("__sd_rank"))
      .orderBy(col("__sd_rank"), col("vec_id"))
      .limit(seeds)
      .select(col("vec_id").as("__sd_sid"))
    val seedVecs = vecs.join(seedIds, col("vec_id") === col("__sd_sid"))
      .select(col("__sd_sid").as("sid"), col("embedding").as("se"))
    val assign = semDedupAssign(vecs, seedVecs, margin)
    // per-vector norms are computed ONCE here (n rows) and carried
    // through the pair join — recomputing them per PAIR would triple
    // the per-pair lambda work on the corpus-scaled candidate set
    val withNorms = assign
      .withColumn("__sd_n2", norm2Decimal(col("embedding")))
      .withColumn("__sd_nd", sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
    // EXPLICIT centroid partitioning before the pair self-join (r19):
    // the join shuffles on centroid_id either way, but as an
    // ENSURE_REQUIREMENTS exchange AQE sizes it by BYTES and coalesces
    // a KB-sized cluster frame onto one partition — serializing the
    // O(cluster²) double-prefilter + exact-decimal rescore, the most
    // compute-dense bytes in this operator (measured: the whole pair
    // stage ran as 1 task at sf0.1, 31 cores idle). An EXPLICIT-count
    // repartition declares the exchange compute-bound (AQE coalesces
    // bare repartition(col) too — REPARTITION_BY_COL is rebalanceable;
    // only the explicit count pins it); the count is the session's
    // shuffle-partition setting, i.e. the cluster-sized knob, not a
    // local constant. Identical data movement at every scale.
    val byCentroid = withNorms.repartition(
      vecs.sparkSession.sessionState.conf.numShufflePartitions,
      col("centroid_id"))
    val l = byCentroid.select(col("centroid_id"),
      col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("__sd_n2").as("n2a"), col("__sd_nd").as("nda"))
    val r = byCentroid.select(col("centroid_id"),
      col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("__sd_n2").as("n2b"), col("__sd_nd").as("ndb"))
    val fastDot = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    // checkpointed: the components loop downstream consumes the edge
    // list ITERATIVELY — uncached, every label-propagation round would
    // re-run the join + prefilter + decimal rescore from scratch
    // label the pair-mining jobs (guide §1.5) and RESTORE the caller's
    // description after — setJobDescription is thread-local and sticky,
    // so an unrestored label would mislabel every later job on this
    // driver thread
    val sc = vecs.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("semdedup: pair mining")
    val pairs =
      try l.join(r, Seq("centroid_id"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("__sd_fast", fastDot / (col("nda") * col("ndb")))
        .filter(col("__sd_fast") >= lit(tau - margin))
        .withColumn("cos",
          cosExact(col("ea"), col("eb"), col("n2a"), col("n2b")))
        .filter(col("cos") >= lit(tau))
        .select(col("id_a"), col("id_b"))
        .checkpointLinted()
      finally sc.setJobDescription(prevDesc)
    graft.ops.Dedup.dedupDecision(
        assign.select(col("vec_id")), pairs, "vec_id",
        aCol = "id_a", bCol = "id_b", pairsMaterialized = true)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("keep"))
      .join(assign.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .select(col("vec_id"), col("centroid_id"), col("cluster_id"), col("keep"))
  }

  /** Persist the SEMANTIC-DEDUP epoch index [[semDedupIncremental]]
    * probes: the deterministic seed vectors (`seeds` lowest md5-ranked
    * corpus ids) and the corpus assignment, hive-partitioned by
    * centroid_id so a batch probe reads ONLY the clusters it lands in
    * (partition pruning — the incremental path's whole point: per-batch
    * cost ∝ batch + touched clusters, the corpus never rescanned).
    * Same overwrite discipline as the dedup/ANN/bloom index writers. */
  def writeSemIndex(
      vecs: DataFrame, seeds: Int, path: String,
      margin: Double = 1e-3): Unit = {
    require(seeds >= 1, s"seeds=$seeds")
    val spark = vecs.sparkSession
    graft.io.Fs.deleteRecursive(spark, path)
    val seedIds = vecs.select(col("vec_id"),
        substring(md5(col("vec_id").cast("string")), 1, 15).as("__sd_rank"))
      .orderBy(col("__sd_rank"), col("vec_id"))
      .limit(seeds)
      .select(col("vec_id").as("__sd_sid"))
    val seedVecs = vecs.join(seedIds, col("vec_id") === col("__sd_sid"))
      .select(col("__sd_sid").as("sid"), col("embedding").as("se"))
    seedVecs.coalesce(1).write.mode("overwrite").parquet(s"$path/seeds")
    semDedupAssign(vecs, seedVecs, margin)
      .write.partitionBy("centroid_id").mode("overwrite")
      .parquet(s"$path/assign")
  }

  /** Incremental semantic dedup — the embedding twin of the text
    * path's persisted-index ingest ([[graft.ops.Dedup
    * .minhashNearDupsIndexed]]): classify a NEW batch of vectors
    * against an epoch index written by [[writeSemIndex]] without
    * re-scanning the corpus. The batch is assigned to the PERSISTED
    * seed clusters (same kernel + exact-rescore as [[semDedup]]), the
    * corpus side is read pruned to the touched clusters only, and
    * each batch vector gets a deterministic status with batch-local
    * precedence (mirroring [[graft.ops.Dedup.exactGroupsIncremental]]
    * so an at-least-once replay re-labels identically):
    * `dup_in_batch` if a smaller-id batch neighbor reaches `tau` in
    * its cluster, else `dup_of_corpus` if any corpus neighbor does,
    * else `new`. All cosines exact-decimal — the whole decision
    * surface is SQL-replayable. */
  def semDedupIncremental(
      indexPath: String, batch: DataFrame, tau: Double,
      margin: Double = 1e-3): DataFrame = {
    val spark = batch.sparkSession
    val seedVecs = spark.read.parquet(s"$indexPath/seeds")
    val bAssign = semDedupAssign(batch, seedVecs, margin)
      .withColumn("__sd_n2", norm2Decimal(col("embedding")))
      .withColumn("__sd_nd", sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
      .checkpointLinted()
    val touched = bAssign.select(col("centroid_id")).distinct()
    // partition-column join → only the touched cluster partitions of
    // the persisted assignment are listed/read
    val corpus = spark.read.parquet(s"$indexPath/assign")
      .join(broadcast(touched), Seq("centroid_id"))
      .withColumn("__sd_n2", norm2Decimal(col("embedding")))
      .withColumn("__sd_nd", sqrt(aggregate(
        transform(col("embedding"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
    def side(df: DataFrame, suffix: String): DataFrame =
      df.select(col("centroid_id"),
        col("vec_id").as(s"id$suffix"), col("embedding").as(s"e$suffix"),
        col("__sd_n2").as(s"n2$suffix"), col("__sd_nd").as(s"nd$suffix"))
    def hits(l: DataFrame, r: DataFrame, extra: Column): DataFrame = {
      val fastDot = aggregate(
        zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
      l.join(r, Seq("centroid_id")).filter(extra)
        .withColumn("__sd_fast", fastDot / (col("nda") * col("ndb")))
        .filter(col("__sd_fast") >= lit(tau - margin))
        .withColumn("cos", cosExact(col("ea"), col("eb"), col("n2a"), col("n2b")))
        .filter(col("cos") >= lit(tau))
        .select(col("ida"))
        .distinct()
    }
    val straddle = hits(side(bAssign, "a"), side(corpus, "b"), lit(true))
      .withColumn("__sd_corpus_dup", lit(true))
    val within = hits(side(bAssign, "a"), side(bAssign, "b"),
        col("idb") < col("ida"))
      .withColumn("__sd_batch_dup", lit(true))
    bAssign.select(col("vec_id"), col("centroid_id"))
      .join(within.withColumnRenamed("ida", "vec_id"), Seq("vec_id"), "left")
      .join(straddle.withColumnRenamed("ida", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"),
        when(col("__sd_batch_dup"), lit("dup_in_batch"))
          .when(col("__sd_corpus_dup"), lit("dup_of_corpus"))
          .otherwise(lit("new")).as("status"))
  }

  /** The [[semDedup]] assignment stage, exposed for plan/profile
    * inspection: returns the eagerly-checkpointed
    * (vec_id, embedding, centroid_id) frame. */
  private[graft] def semDedupAssign(
      vecs: DataFrame, seedVecs: DataFrame, margin: Double): DataFrame = {
    val aw = Window.partitionBy(col("vec_id"))
      .orderBy(col("__sd_cos").desc, col("sid"))
    // TWO-PHASE assignment (same lossless-margin argument as the pair
    // miner): the n·k fast cosines run in a PRIMITIVE-LOOP kernel over
    // the broadcast unit-seed matrix (k·d doubles — Catalyst lambdas
    // are interpreted, and with seeds ∝ corpus this n·k stage is where
    // an expression-based assignment turned superlinear: measured 14×
    // wall at 10× data for all-decimal, 5.2× for lambda-double; the
    // kernel leaves only linear stages above it). Each vector emits
    // just the seeds within `margin` of its fast max (double-vs-exact
    // drift ~1e-12 ≪ margin, so the true exact-argmax seed always
    // survives), and the exact-decimal rescore of that handful —
    // usually one — decides: the OUTPUT argmax is the pure exact one
    // the oracle replays. The frame feeds three consumers (both
    // pair-mining sides + the final join) — checkpoint once, skinny +
    // embedding columns.
    val spark = vecs.sparkSession
    import spark.implicits._
    val seedArr = seedVecs.as[(Long, Array[Float])].collect()
      .map { case (id, a) => (id, unitD(a)) }.sortBy(_._1)
    val bcSeeds = spark.sparkContext.broadcast(seedArr)
    val mg = margin
    val cands = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val seeds = bcSeeds.value
        it.flatMap { case (id, arr) =>
          val u = unitD(arr)
          val dots = new Array[Double](seeds.length)
          var best = -2.0
          var i = 0
          while (i < seeds.length) {
            val s = seeds(i)._2
            var d = 0.0
            var j = 0
            while (j < u.length) { d += u(j) * s(j); j += 1 }
            dots(i) = d
            if (d > best) best = d
            i += 1
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Array[Float], Long)]
          var m = 0
          while (m < seeds.length) {
            if (dots(m) >= best - mg) out += ((id, arr, seeds(m)._1))
            m += 1
          }
          out
        }
      }.toDF("vec_id", "embedding", "__sd_sid_c")
    cands
      .join(broadcast(seedVecs), col("__sd_sid_c") === col("sid"))
      .withColumn("__sd_cos",
        cosExact(col("embedding"), col("se"),
          norm2Decimal(col("embedding")), norm2Decimal(col("se"))))
      .withColumn("__sd_rn", row_number().over(aw))
      .filter(col("__sd_rn") === 1)
      .select(col("vec_id"), col("embedding"), col("sid").as("centroid_id"))
      .checkpointLinted()
  }

  /** Near-duplicate pairs by cosine ≥ threshold. Two-phase:
    *
    *  1. PREFILTER at (threshold − margin) with a broadcast-matrix
    *     primitive-loop kernel: the unit-normalized matrix is broadcast
    *     (n·d doubles — 1 MB per 2k×64), and each partition scans its
    *     rows against all higher ids with tight `while` loops. No
    *     pair-level array materialization, no Catalyst lambda
    *     interpretation. Guarded by `maxBroadcastVectors`: beyond it,
    *     the call fails fast with a pointer to the blocked variant
    *     instead of OOMing the driver.
    *  2. Exact decimal RESCORE of survivors only (a few hundred rows),
    *     so outputs stay bit-identical to the oracle. The margin
    *     (1e-3 ≫ double summation error ~1e-12) makes the prefilter
    *     provably lossless.
    *
    * At 100 TB use [[nearDupPairs]] / [[cosineNearDupPairsBlocked]];
    * phase 2 is shared and unchanged. */
  def cosineNearDupPairs(
      vecs: DataFrame, threshold: Double, margin: Double = 1e-3,
      maxBroadcastVectors: Int = 4 << 20): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._

    val typed = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    // guard BEFORE the collect — a post-collect check could not prevent
    // the driver OOM it exists to prevent
    val n = typed.count()
    require(n <= maxBroadcastVectors,
      s"cosineNearDupPairs collects the full vector set to the driver: " +
        s"$n vectors exceeds maxBroadcastVectors=$maxBroadcastVectors. " +
        s"Use nearDupPairs / cosineNearDupPairsBlocked for corpora this size.")
    val local = typed.collect().sortBy(_._1)
    val ids = local.map(_._1)
    val unit = local.map { case (_, arr) => unitD(arr) }
    val bc = spark.sparkContext.broadcast((ids, unit))
    val cut = threshold - margin

    val candidates = typed.mapPartitions { it =>
      val (allIds, mat) = bc.value
      it.flatMap { case (id, arr) =>
        val v = unitD(arr)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var j = java.util.Arrays.binarySearch(allIds, id) + 1
        if (j < 0) j = -j // id not found: start at insertion point
        while (j < allIds.length) {
          val w = mat(j)
          var dot = 0.0
          var k = 0
          while (k < v.length) { dot += v(k) * w(k); k += 1 }
          if (dot >= cut) out += ((id, allIds(j)))
          j += 1
        }
        out
      }
    }.toDF("id_a", "id_b")

    rescoreExact(candidates, vecs, threshold)
  }

  /** Phase 2 shared by the near-dup variants: exact decimal rescore of
    * (id_a, id_b) candidate pairs. Join strategy left to AQE (see
    * [[rescore]] — a forced broadcast caps the corpus size). */
  private def rescoreExact(
      candidates: DataFrame, vecs: DataFrame, threshold: Double): DataFrame = {
    val ea = vecs.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val eb = vecs.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    candidates
      .join(ea, "id_a").join(eb, "id_b")
      .withColumn("cos",
        cosExact(col("ea"), col("eb"), norm2Decimal(col("ea")), norm2Decimal(col("eb"))))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Beyond-broadcast all-pairs variant: BLOCK the matrix instead of
    * broadcasting it. Vectors are hashed into `blocks` blocks; every
    * block PAIR (i ≤ j) becomes one group whose task materializes just
    * its two blocks (memory per task = 2·n/blocks·d doubles — tune
    * `blocks` to executor memory) and scans them with the same
    * primitive-loop kernel. Work is spread over blocks·(blocks+1)/2
    * independent tasks; no row-pair ever materializes in a shuffle.
    * Output is identical to [[cosineNearDupPairs]] (same exact rescore
    * phase — the query oracle covers both). */
  def cosineNearDupPairsBlocked(
      vecs: DataFrame, threshold: Double, margin: Double = 1e-3,
      blocks: Int = 8): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cut = threshold - margin

    val sided = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, arr) =>
        val b = (id % blocks).toInt
        val left = (b until blocks).map(j => (b * blocks + j, 0.toByte, id, arr))
        val right = (0 until b).map(i => (i * blocks + b, 1.toByte, id, arr))
        left ++ right
      }

    val candidates = sided
      .groupByKey(_._1)
      .flatMapGroups { (pairKey: Int, it: Iterator[(Int, Byte, Long, Array[Float])]) =>
        val sameBlock = pairKey / blocks == pairKey % blocks
        val ls = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        val rs = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
        it.foreach { case (_, role, id, arr) =>
          val u = unitD(arr)
          if (role == 0) ls += ((id, u)) else rs += ((id, u))
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var k = 0
          while (k < a.length) { s += a(k) * b(k); k += 1 }; s
        }
        if (sameBlock) {
          var i = 0
          while (i < ls.length) {
            var j = i + 1
            while (j < ls.length) {
              if (dot(ls(i)._2, ls(j)._2) >= cut) {
                val (x, y) = (ls(i)._1, ls(j)._1)
                out += ((math.min(x, y), math.max(x, y)))
              }
              j += 1
            }
            i += 1
          }
        } else {
          ls.foreach { case (li, lv) =>
            rs.foreach { case (ri, rv) =>
              if (dot(lv, rv) >= cut)
                out += ((math.min(li, ri), math.max(li, ri)))
            }
          }
        }
        out.iterator
      }
      .toDF("id_a", "id_b")

    rescoreExact(candidates, vecs, threshold)
  }

  /** float[] → unit-normalized double[]. */
  private def unitD(arr: Array[Float]): Array[Double] = {
    val v = new Array[Double](arr.length)
    var n2 = 0.0; var i = 0
    while (i < arr.length) { v(i) = arr(i).toDouble; n2 += v(i) * v(i); i += 1 }
    val inv = 1.0 / math.sqrt(n2); i = 0
    while (i < arr.length) { v(i) *= inv; i += 1 }
    v
  }

  /** Unit-normalize a double[] in place-ish (returns a copy; zero
    * vectors pass through unscaled). */
  private def unitOf(arr: Array[Double]): Array[Double] = {
    var n2 = 0.0; var i = 0
    while (i < arr.length) { n2 += arr(i) * arr(i); i += 1 }
    if (n2 == 0.0) arr.clone()
    else {
      val inv = 1.0 / math.sqrt(n2)
      val v = new Array[Double](arr.length)
      i = 0
      while (i < arr.length) { v(i) = arr(i) * inv; i += 1 }
      v
    }
  }

  /** Blocks needed so no task ever holds more than ~2·cap vectors. */
  private[ops] def numBlocks(n: Long, cap: Int): Int =
    math.max(1L, (n + cap - 1) / cap).toInt

  // ---- the blocked top-k kernel, its codecs, cut and rescore ----

  /** Scan representation of [[blockedLocalBests]]: how a unit vector is
    * encoded for the candidate scan, and the ranking score of one
    * (query, candidate) pair. A score must be fixed-order arithmetic,
    * so a pair scores bit-identically in every task — the kernel's
    * independence from the block layout rests on it. Scores only pick
    * the shortlist; every output cosine comes from [[rescore]]. */
  private abstract class Codec[V] extends Serializable {
    def encode(unit: Array[Double]): V
    def score(q: V, c: V): Double
    /** Shortlist rule for a depth k: `true` keeps rank ≤ k plus every
      * candidate within [[tieMargin]] of the k-th score; `false` keeps
      * exactly rank ≤ k. */
    def nearTies: Boolean = true
  }

  /** Float: the double dot of the unit vectors. */
  private object FloatCodec extends Codec[Array[Double]] {
    def encode(unit: Array[Double]): Array[Double] = unit
    def score(q: Array[Double], c: Array[Double]): Double = {
      var dot = 0.0; var d = 0
      while (d < q.length) { dot += q(d) * c(d); d += 1 }
      dot
    }
  }

  /** SQ8 / BQ: the integer dot of byte vectors (≤ 127²·d fits an Int at
    * any practical dimensionality), returned as an exactly
    * representable Double — so [[tieMargin]] on these scores is exactly
    * an integer-tie rule. Pure integer arithmetic: deterministic on any
    * executor, any SIMD width, any reduction order. */
  private abstract class IntDotCodec extends Codec[Array[Byte]] {
    final def score(q: Array[Byte], c: Array[Byte]): Double = {
      var dot = 0; var d = 0
      while (d < q.length) { dot += q(d) * c(d); d += 1 }
      dot.toDouble
    }
  }

  /** SQ8 (int8 scalar quantization): q(i) = round(127·v(i)) ∈
    * [-127, 127]. The scale is a constant (1/127) because the inputs
    * are unit-normalized. At 100 TB this is the representation the
    * scan reads: 4× fewer bytes per vector than float32 (16× vs the
    * double-unit form), which is the difference between an IO-bound
    * and a compute-bound all-pairs pass. */
  private object Sq8Codec extends IntDotCodec {
    def encode(unit: Array[Double]): Array[Byte] = {
      val q = new Array[Byte](unit.length)
      var i = 0
      while (i < unit.length) { q(i) = math.round(unit(i) * 127.0).toByte; i += 1 }
      q
    }
  }

  /** BQ (binary quantization): a unit vector collapses to its sign
    * pattern, stored as ±1 bytes — sign·sign dot = d − 2·hamming, so
    * ranking by the integer dot IS ranking by hamming distance over the
    * bit signatures. At 100 TB the scan representation packs to d/8
    * bytes per vector (32× smaller than float32 — for d = 64, ONE
    * machine word, xor+popcount per candidate); the ±1 byte form here
    * shares the SQ8 score, the ranking identical. */
  private object BqCodec extends IntDotCodec {
    def encode(unit: Array[Double]): Array[Byte] = {
      val q = new Array[Byte](unit.length)
      var i = 0
      while (i < unit.length) { q(i) = if (unit(i) >= 0) 1 else -1; i += 1 }
      q
    }
  }

  /** The blocked top-k kernel every ANN path runs. Rows are (group,
    * role, id, encoded vector) with role bit 0 = query, bit 1 =
    * candidate. Every group is split into `numBlocks(size, maxGroup)`
    * hash blocks and every (queryBlock × candidateBlock) pair becomes
    * ONE task that holds at most two blocks in memory and scores them
    * with `codec` — a hot group becomes nb² bounded tasks instead of
    * one quadratic straggler.
    *
    * Each task applies the codec's shortlist rule ([[Codec.nearTies]])
    * at depth k to its own candidates and returns the survivors as
    * (qid, cid, dot) rows. A task's k-th score never exceeds the global
    * one, so every member of the GLOBAL shortlist at any depth ≤ k
    * survives in each task that sees it — whatever the block layout,
    * the rows hold the whole global shortlist, which
    * [[blockedShortlist]] then cuts. The same (qid, cid) pair may
    * surface from several tasks, always with the bit-identical score
    * (see [[Codec]]), so the cut dedups with a distinct. */
  private def blockedLocalBests[V: TypeTag](
      rows: Dataset[(Long, Byte, Long, V)], codec: Codec[V],
      k: Int, maxGroup: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val cached = rows.cache()
    // group census: #groups is tables·2^planes / lists — tiny; collected
    // and broadcast so block counts are a pure function of (group, cap)
    val nbMap = cached.groupByKey(_._1).count().collect()
      .map { case (g, n) => g -> numBlocks(n, maxGroup) }.toMap
    val bcNb = spark.sparkContext.broadcast(nbMap)
    val nearTies = codec.nearTies
    val margin = tieMargin

    val tasked = cached.flatMap { case (g, role, id, v) =>
      val nb = bcNb.value(g)
      if (nb == 1) Iterator.single((g, 0L, role, id, v))
      else {
        val b = Math.floorMod(XXH64.hashLong(id, 11), nb.toLong).toInt
        val isQ = (role & 1) != 0
        val isC = (role & 2) != 0
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Byte, Long, V)]
        var j = 0
        while (j < nb) {
          // Long ids: nb² exceeds Int past ~23.7M rows per group at
          // cap=512 — the flat (single-group) scans would silently
          // collide task ids right at the scale PQ exists for
          val qTask = b.toLong * nb + j // this block queries block j
          val cTask = j.toLong * nb + b // block j queries this block
          if (qTask == cTask) out += ((g, qTask, role, id, v))
          else {
            if (isQ) out += ((g, qTask, 1.toByte, id, v))
            if (isC) out += ((g, cTask, 2.toByte, id, v))
          }
          j += 1
        }
        out.iterator
      }
    }

    val bests = tasked
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (_: (Long, Long), it: Iterator[(Long, Long, Byte, Long, V)]) =>
        val qs = scala.collection.mutable.ArrayBuffer.empty[(Long, V)]
        val cs = scala.collection.mutable.ArrayBuffer.empty[(Long, V)]
        it.foreach { case (_, _, role, id, v) =>
          if ((role & 1) != 0) qs += ((id, v))
          if ((role & 2) != 0) cs += ((id, v))
        }
        val scores = new Array[Double](cs.length)
        val bDot = new Array[Double](k)
        val bCid = new Array[Long](k)
        qs.iterator.flatMap { case (qid, qv) =>
          // k-best insertion list, ordered by (score desc, cid asc)
          var n = 0
          var j = 0
          while (j < cs.length) {
            val (cid, cv) = cs(j)
            if (cid == qid) scores(j) = Double.NegativeInfinity
            else {
              val dot = codec.score(qv, cv)
              scores(j) = dot
              if (n < k || dot > bDot(n - 1) ||
                  (dot == bDot(n - 1) && cid < bCid(n - 1))) {
                var i = math.min(n, k - 1)
                while (i > 0 && (bDot(i - 1) < dot ||
                    (bDot(i - 1) == dot && bCid(i - 1) > cid))) {
                  bDot(i) = bDot(i - 1); bCid(i) = bCid(i - 1); i -= 1
                }
                bDot(i) = dot; bCid(i) = cid
                if (n < k) n += 1
              }
            }
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          if (nearTies && n == k) {
            // the list's members plus every candidate it dropped on the
            // cid order within the margin of its k-th score
            val floor = bDot(k - 1) - margin
            j = 0
            while (j < cs.length) {
              if (scores(j) >= floor) out += ((qid, cs(j)._1, scores(j)))
              j += 1
            }
          } else {
            var i = 0
            while (i < n) { out += ((qid, bCid(i), bDot(i))); i += 1 }
          }
          out.iterator
        }
      }
      .toDF("qid", "cid", "dot")
      // materialize the (small, ≤ k·tasks-per-query) bests eagerly so
      // the big cached row set can be released immediately — without
      // this, every ANN call leaked a corpus-sized cache entry for the
      // session lifetime
      .checkpointLinted()
    cached.unpersist()
    bests
  }

  /** Safety margin between the double-precision ranking and the
    * exact-decimal re-rank: double-vs-exact cosine order can disagree
    * only when two candidates' dots differ by less than the double
    * summation error (~1e-14 relative at d = 64) — so every fast cut
    * keeps, beyond the top k by double rank, every candidate within
    * `tieMargin` of the k-th dot, and the EXACT rank makes the final
    * cut to k. Without the window, a boundary inversion could drop a
    * true top-k member before the rescore sees it (and the
    * `nprobe = k ⇒ exhaustively exact` IVF invariant would not hold);
    * a blanket k+8 window instead would multiply the expensive exact
    * rescores 9× for nothing — near-ties are what actually needs
    * rescoring, and 1e-9 is five orders looser than the error bound.
    * Integer-valued scores (SQ8 / BQ) differ by ≥ 1, so on them the
    * margin keeps exactly the exact ties of the k-th score. */
  private val tieMargin = 1e-9

  /** Extra per-task candidates kept beyond k by [[Codec.nearTies]]
    * codecs (cheap — insertion-list slots, no exact evals). The global
    * shortlist would survive without them — every task also keeps the
    * near-ties of its last slot — but the local bests would shrink
    * enough for AQE to re-plan the shortlist and rescore stages:
    * measured at sf0.1 on 4 cores, `q_ann_lsh_topk` then ran one more
    * job and ~1 s slower. */
  private val rankWindow = 8

  /** The global shortlist cut across tasks: distinct the
    * (deterministically duplicated) local bests, rank per query by
    * score, keep rank ≤ k — plus, for [[Codec.nearTies]] codecs,
    * anything within [[tieMargin]] of the k-th score. Returns
    * (qid, cid); [[rescore]] re-ranks exactly and makes the final cut.
    * For PQ, k is a RECALL knob rather than the output depth (PQ
    * scores are coarse — the exact rescore needs a window of
    * candidates, not just near-ties), and the cut is deterministic
    * because the approximate scores are: k ≥ corpus sends every
    * candidate to the exact rescore, which then equals brute force
    * (the SimilaritySpec invariant). */
  private def blockedShortlist[V: TypeTag](
      rows: Dataset[(Long, Byte, Long, V)], codec: Codec[V],
      k: Int, maxGroup: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    val ranked = blockedLocalBests(rows, codec,
        if (codec.nearTies) k + rankWindow else k, maxGroup)
      .dropDuplicates("qid", "cid")
      .withColumn("rf", row_number().over(w))
    val kept =
      if (codec.nearTies)
        ranked
          // kth is null when a query has fewer than k candidates — then
          // rf <= k already keeps every row
          .withColumn("kth",
            max(when(col("rf") === k, col("dot"))).over(Window.partitionBy(col("qid"))))
          .filter(col("rf") <= k || col("dot") >= col("kth") - lit(tieMargin))
      else ranked.filter(col("rf") <= k)
    kept.select(col("qid"), col("cid"))
  }

  /** Exact-decimal rescore + re-rank of a per-query shortlist →
    * (qid, rnk, cid, cos). Ranks come from the EXACT cosine (ties →
    * lowest cid), like [[bruteForceTopK]]'s output contract. Query and
    * candidate embeddings may come from different frames (e.g. a fresh
    * query batch vs the stored vectors of a persisted index). No
    * broadcast hint: at harness scale AQE broadcasts the sub-MB
    * embedding side on its own; at 100 TB neither side fits a
    * broadcast and the correct plan is a shuffle join on the ids —
    * forcing broadcast here would re-introduce a driver-memory ceiling
    * the blocked kernel exists to avoid. */
  private def rescore(
      shortlist: DataFrame, qVecs: DataFrame, cVecs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    shortlist
      .join(qVecs.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(cVecs.select(col("vec_id").as("cid"), col("embedding").as("ce")), "cid")
      .withColumn("cos",
        cosExact(col("qe"), col("ce"), norm2Decimal(col("qe")), norm2Decimal(col("ce"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("cid"), col("cos"))
  }

  /** Top-1 per query of `rows`: the k-deep shortlist, exact-decimal
    * rescored → (qid, cid, cos). */
  private def top1[V: TypeTag](
      vecs: DataFrame, rows: Dataset[(Long, Byte, Long, V)], codec: Codec[V],
      k: Int, maxGroup: Int): DataFrame =
    rescore(blockedShortlist(rows, codec, k, maxGroup), vecs, vecs, 1).drop("rnk")

  /** Flat-partition rows, shared by every `*All` / `*Sampled` twin: one
    * group over the whole corpus in which every vector is a candidate
    * and a query where `isQuery` holds (`lit(true)` for the `*All`
    * variants). */
  private def flatRows[V: TypeTag](
      vecs: DataFrame, isQuery: Column, codec: Codec[V]): Dataset[(Long, Byte, Long, V)] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs
      .select(col("vec_id"), col("embedding"), isQuery.cast("boolean").as("isq"))
      .as[(Long, Array[Float], Boolean)]
      .map { case (id, arr, q) => (0L, (if (q) 3 else 2).toByte, id, codec.encode(unitD(arr))) }
  }

  /** Exact top-1 neighbor for EVERY vector (all-pairs, blocked): the
    * ground truth the ANN paths' recall is measured against
    * (`q_ann_recall`). One flat group covering the whole corpus, split
    * by the kernel into bounded block-pair tasks — n²/cap² tasks of
    * ≤ 2·cap vectors each, never a driver collect. */
  def bruteForceTop1All(vecs: DataFrame, maxGroup: Int = 512): DataFrame =
    top1(vecs, flatRows(vecs, lit(true), FloatCodec), FloatCodec, 1, maxGroup)

  /** Exact top-1 for a deterministic SAMPLE of query vectors against
    * the FULL candidate corpus — the scalable form of
    * [[bruteForceTop1All]]'s recall ground truth: task count is
    * sample·corpus/cap² instead of corpus²/cap², which is what a
    * 100 TB deployment's recall gate runs. The sampling contract:
    * `isQuery` must be a deterministic pure function of the row (e.g.
    * the md5-of-id rule of `q_sample_hash`), never `rand()` — the gate
    * has to reproduce bit-identically across runs, engines, and
    * partitionings. Non-sampled vectors still participate as
    * candidates, so each sampled query's neighbor is its true corpus
    * top-1, not a sample-restricted one. */
  def bruteForceTop1Sampled(
      vecs: DataFrame, isQuery: Column, maxGroup: Int = 512): DataFrame =
    top1(vecs, flatRows(vecs, isQuery, FloatCodec), FloatCodec, 1, maxGroup)

  /** SQ8 top-1 for every vector: the blocked all-pairs scan of
    * [[bruteForceTop1All]], but each task ranks candidates by the
    * int8×int8 integer dot over the quantized vectors and only the
    * per-query shortlist is rescored in exact decimal over the
    * original floats. Shortlist misses (a true neighbor quantized below
    * the top integer dot and its exact ties) are the only recall loss —
    * measured end-to-end by the `int8` row of `q_ann_recall`. */
  def int8AnnTop1All(vecs: DataFrame, maxGroup: Int = 512): DataFrame =
    top1(vecs, flatRows(vecs, lit(true), Sq8Codec), Sq8Codec, 1, maxGroup)

  /** [[int8AnnTop1All]] for a deterministic SAMPLE of query vectors
    * against the full candidate corpus — same contract as
    * [[bruteForceTop1Sampled]] (pure-function sampling, full-corpus
    * candidates), int8 scan cost sample·corpus/cap² instead of
    * corpus²/cap². Sampled queries' rows are identical to the full
    * variant's (a query's top-1 never depends on other queries). */
  def int8AnnTop1Sampled(
      vecs: DataFrame, isQuery: Column, maxGroup: Int = 512): DataFrame =
    top1(vecs, flatRows(vecs, isQuery, Sq8Codec), Sq8Codec, 1, maxGroup)

  /** BQ top-1 for every vector: hamming-ranked shortlist over the sign
    * signatures, exact-decimal rescore of the survivors. One bit per
    * dimension is a coarse rank (near-orthogonal random corpora are its
    * worst case), so BQ runs with a DEEP shortlist — rank by hamming,
    * rescore the top `shortlist` and their exact hamming ties exactly;
    * recall loss = true neighbors whose sign pattern ranks outside it —
    * measured end-to-end by the `bin` row of `q_ann_recall`. */
  def binAnnTop1All(vecs: DataFrame, maxGroup: Int = 512,
      shortlist: Int = 32): DataFrame =
    top1(vecs, flatRows(vecs, lit(true), BqCodec), BqCodec, shortlist, maxGroup)

  /** [[binAnnTop1All]] for a deterministic query sample against the
    * full candidate corpus — the [[int8AnnTop1Sampled]] contract. */
  def binAnnTop1Sampled(
      vecs: DataFrame, isQuery: Column, maxGroup: Int = 512,
      shortlist: Int = 32): DataFrame =
    top1(vecs, flatRows(vecs, isQuery, BqCodec), BqCodec, shortlist, maxGroup)

  /** Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    * derived from XXH64 of (table, plane, dim) — identical on every
    * executor, every run, every cluster layout, with no RNG state to
    * ship. */
  private[ops] def planeComponent(table: Int, plane: Int, dim: Int): Double = {
    val h = XXH64.hashLong((table.toLong * 8191 + plane) * 8191 + dim, 42)
    Math.floorMod(h, 1000000L).toDouble / 1000000.0 - 0.5
  }

  /** (table, code)-grouped rows for the LSH variants. The hyperplane
    * matrix is a pure function of (table, plane, dim), so each
    * partition rebuilds it from its first row's dimensionality (2k
    * doubles at the defaults) — no broadcast, no extra `head()` job to
    * probe the dimension, and an empty corpus yields an empty result
    * instead of a NoSuchElementException. */
  private def lshCodedRows(
      vecs: DataFrame, planes: Int, tables: Int): Dataset[(Long, Byte, Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(planes >= 1 && planes <= 20, s"planes=$planes out of range")
    val typed = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]

    typed.mapPartitions { it =>
      var pm: Array[Array[Array[Double]]] = null
      it.flatMap { case (id, arr) =>
        if (pm == null)
          pm = Array.tabulate(tables, planes)((t, p) =>
            Array.tabulate(arr.length)(d => planeComponent(t, p, d)))
        val v = unitD(arr)
        (0 until pm.length).iterator.map { t =>
          var code = 0L
          var p = 0
          while (p < pm(t).length) {
            val pl = pm(t)(p)
            var dot = 0.0
            var k = 0
            while (k < v.length) { dot += v(k) * pl(k); k += 1 }
            if (dot > 0) code |= (1L << p)
            p += 1
          }
          // group key: table in the high bits, bucket code in the low
          ((t.toLong << 32) | code, 3.toByte, id, v)
        }
      }
    }
  }

  /** Multi-table random-hyperplane LSH ANN: top-1 neighbor per vector.
    *
    * Recall comes from OR-amplification: `tables` independent hash
    * tables of `planes` sign bits each; a query's candidate set is the
    * union of its buckets across tables, so a true neighbor at angle θ
    * is found with probability 1 − (1 − p^planes)^tables,
    * p = 1 − θ/π. Defaults (4 planes × 8 tables) are tuned for this
    * corpus's near-orthogonal top-1s (cos ≈ 0.37 → ~0.74 recall,
    * measured by `q_ann_recall` / SimilaritySpec); clustered production
    * corpora support more planes per table for the same recall at a
    * fraction of the candidates.
    *
    * Scale: bucket membership shuffles (table, code, id, unitvec) rows;
    * in-bucket scans go through the blocked kernel, so a hot bucket is
    * split into bounded block-pair tasks instead of one quadratic
    * straggler. The global shortlist cut across tables deduplicates
    * candidates found by several tables for free. */
  def lshAnnTop1(
      vecs: DataFrame, planes: Int = 4, tables: Int = 8,
      maxGroup: Int = 256): DataFrame =
    top1(vecs, lshCodedRows(vecs, planes, tables), FloatCodec, 1, maxGroup)

  /** Top-k LSH ANN: same candidate structure as [[lshAnnTop1]], k best
    * same-bucket neighbors per query across all tables, exact-decimal
    * re-ranked → (qid, rnk, cid, cos). */
  def lshAnnTopK(
      vecs: DataFrame, k: Int, planes: Int = 4, tables: Int = 8,
      maxGroup: Int = 256): DataFrame =
    rescore(blockedShortlist(lshCodedRows(vecs, planes, tables), FloatCodec, k, maxGroup),
      vecs, vecs, k)

  /** Index of the max-dot centroid (ties → lowest index). */
  private def nearestCentroid(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = Double.NegativeInfinity
    var bi = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var dot = 0.0
      var k = 0
      while (k < v.length) { dot += v(k) * c(k); k += 1 }
      if (dot > best) { best = dot; bi = j }
      j += 1
    }
    bi
  }

  /** The `n` max-dot centroids of `v`, best first (ties → lowest
    * index): the lists an IVF query probes. */
  private def probeLists(v: Array[Double], cents: Array[Array[Double]], n: Int): Seq[Int] = {
    val dots = new Array[Double](cents.length)
    var j = 0
    while (j < cents.length) {
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * cents(j)(d); d += 1 }
      dots(j) = dot
      j += 1
    }
    (0 until cents.length).sortBy(i => (-dots(i), i)).take(n)
  }

  /** Deterministic md5 TRAINING sample for the Lloyd loops — the
    * q_sample_hash membership rule applied to training: corpora at or
    * under `minRows` train on every vector (so the small gate corpora
    * are bit-identical with and without this path), larger corpora
    * train on the smallest 1/16-granularity md5-of-id slice whose
    * expected size covers `minRows`. Membership depends only on the id,
    * so the sample — and therefore the centroids — is stable across
    * runs, partitionings, and cluster sizes. This is what keeps a
    * 100 TB epoch rebuild's training cost bounded: iterations scan the
    * cached sample, and the corpus is read in full exactly once for the
    * final assignment pass (which every caller does anyway). */
  private def trainSample(
      units: Dataset[(Long, Array[Double])], minRows: Long): Dataset[(Long, Array[Double])] = {
    val n = units.count()
    val sixteenths = if (n <= minRows) 16 else ((minRows * 16 + n - 1) / n).toInt
    if (sixteenths >= 16) units
    else units.filter(
      substring(md5(col("_1").cast("string")), 1, 1) <
        lit("0123456789abcdef".charAt(sixteenths).toString))
  }

  /** Spherical k-means (Lloyd) centroid training, deterministic and
    * partitioning-independent: seeding is the k lowest-id vectors of
    * the TRAINING SAMPLE ([[trainSample]] — the full corpus up to
    * `minTrainRows`, a deterministic md5 id slice beyond it); each
    * iteration is ONE job — a mapPartitions kernel that assigns every
    * vector to its max-dot centroid AND accumulates per-(list, dim)
    * component sums as exact integer NANO-UNITS (each component rounded
    * once to 9 decimals, then summed in longs — integer addition is
    * order-independent, so the new centroids are bit-identical under
    * any partitioning, unlike a double mean). Partition partials (≤ k·d
    * longs each) are collected and merged on the driver; beyond
    * `treeReduceMinParts` partitions the same partials are merged with
    * `treeReduce` (executor-side combining, driver receives O(√parts)
    * partials instead of one per partition — at 10⁵ partitions × k·d
    * longs a flat collect would be GBs on the driver). Both paths add
    * the same integers, so the centroids are bit-identical (asserted in
    * SimilaritySpec). Long capacity: |unit component| ≤ 1 → |list sum| ≤
    * n·10⁹, exact to ~9·10⁹ vectors per list. Empty lists keep their
    * previous centroid. */
  private[graft] def trainCentroids(
      typed: Dataset[(Long, Array[Float])], k: Int, iters: Int,
      treeReduceMinParts: Int = 512,
      minTrainRows: Long = 4096L): Array[Array[Double]] = {
    val spark = typed.sparkSession
    import spark.implicits._
    val units = typed.map { case (id, arr) => (id, unitD(arr)) }.cache()
    val train = trainSample(units, minTrainRows)
    val sampled = train ne units
    if (sampled) train.cache()
    var cents: Array[Array[Double]] = train.orderBy(col("_1")).take(k).map(_._2)
    val dims = if (cents.isEmpty) 0 else cents(0).length
    if (cents.isEmpty) { if (sampled) train.unpersist(); units.unpersist(); return cents }
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cents)
      // kk = actual centroid count — min(n, k); indexing with k would
      // overrun the partial arrays when the corpus has fewer than k rows
      val kk = cents.length
      val partialsDs =
        train.mapPartitions { it =>
          val cs = bc.value
          val counts = new Array[Long](cs.length)
          val sums = Array.fill(cs.length)(new Array[Long](dims))
          it.foreach { case (_, v) =>
            val j = nearestCentroid(v, cs)
            counts(j) += 1
            val s = sums(j)
            var i = 0
            while (i < dims) { s(i) += math.round(v(i) * 1e9); i += 1 }
          }
          if (counts.exists(_ > 0)) Iterator.single((counts, sums))
          else Iterator.empty
        }
      // in-place merge: integer addition is associative/commutative, so
      // any merge tree yields the same sums bit-for-bit
      def merge(
          a: (Array[Long], Array[Array[Long]]),
          b: (Array[Long], Array[Array[Long]])): (Array[Long], Array[Array[Long]]) = {
        var j = 0
        while (j < kk) {
          a._1(j) += b._1(j)
          var i = 0
          while (i < dims) { a._2(j)(i) += b._2(j)(i); i += 1 }
          j += 1
        }
        a
      }
      val (counts, acc) = {
        val rdd = partialsDs.rdd
        if (rdd.getNumPartitions >= treeReduceMinParts)
          // cents nonEmpty ⇒ ≥ 1 vector ⇒ ≥ 1 partial: treeReduce is safe
          rdd.treeReduce(merge _, depth = 2)
        else {
          val zero = (new Array[Long](kk), Array.fill(kk)(new Array[Long](dims)))
          partialsDs.collect().foldLeft(zero)(merge)
        }
      }
      val next = cents.map(_.clone())
      var j = 0
      while (j < kk) {
        if (counts(j) > 0) {
          val m = new Array[Double](dims)
          var i = 0
          while (i < dims) { m(i) = acc(j)(i) / 1e9 / counts(j); i += 1 }
          next(j) = unitOf(m)
        }
        j += 1
      }
      cents = next
    }
    if (sampled) train.unpersist()
    units.unpersist()
    cents
  }

  /** List-assigned rows for the IVF variants: each vector is a member
    * (candidate) of its top-1 list and a probe (query) of its `nprobe`
    * nearest lists. */
  private def ivfAssignedRows(
      vecs: DataFrame, k: Int, nprobe: Int, lloydIters: Int,
      preTrained: Option[Array[Array[Double]]] = None): Dataset[(Long, Byte, Long, Array[Double])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(nprobe >= 1 && nprobe <= k, s"nprobe=$nprobe out of range for k=$k")
    val typed = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val cents = preTrained.getOrElse(trainCentroids(typed, k, lloydIters))
    preTrained.foreach(c => require(c.length == k,
      s"preTrained centroids: ${c.length} lists, expected k=$k"))
    val bc = spark.sparkContext.broadcast(cents)

    typed.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { case (id, arr) =>
        val v = unitD(arr)
        probeLists(v, cs, nprobe).zipWithIndex.iterator.map { case (list, rank) =>
          // member of the top-1 list (candidate); probe everywhere it searches
          (list.toLong, (if (rank == 0) 3 else 1).toByte, id, v)
        }
      }
    }
  }

  /** DEPLOYMENT SIZING for IVF: the list count that pins expected list
    * population at ~`targetListSize` as the corpus grows. Fixed-k IVF
    * is structurally n²·nprobe/k (query count AND list size both grow
    * with n); holding n/k constant makes per-query probe cost flat and
    * total work linear — the measured difference is 1.4× vs 5.5×
    * wall-clock at 10× data (docs/SCALE.md rehearsal). Floor of 16
    * keeps tiny corpora on the gate configuration. */
  def ivfListsFor(corpusSize: Long, targetListSize: Long = 125L): Int =
    math.max(16L, (corpusSize + targetListSize - 1) / targetListSize).toInt

  /** DEPLOYMENT SIZING for LSH: the hyperplane count that bounds the
    * expected per-table bucket population (n / 2^planes) at
    * ~`targetBucketSize`. More planes shrink buckets (bounded candidate
    * work) at some recall cost per table — compensate with `tables`,
    * which multiplies independent chances without changing bucket
    * size. Capped at 20 planes (beyond that, buckets of a 10⁸ corpus
    * are already ≤ targetBucketSize and more planes only erode
    * recall); floor of 4 keeps tiny corpora on the gate
    * configuration. */
  def lshPlanesFor(corpusSize: Long, targetBucketSize: Long = 125L): Int = {
    var planes = 4
    while (planes < 20 && (corpusSize >> planes) > targetBucketSize) planes += 1
    planes
  }

  /** IVF ANN: coarse quantization into k Lloyd-trained lists, probing
    * the `nprobe` nearest lists per query. Each vector is a MEMBER
    * (searchable candidate) of its top-1 list and a PROBE (query) of
    * its `nprobe` nearest lists; the per-list probe-vs-member scan runs
    * through the blocked kernel with bounded tasks, and the global
    * shortlist cut picks each query's best across its probed lists.
    * Centroids are trained with [[trainCentroids]] (`lloydIters` = 0
    * reproduces the lowest-id seeding, kept for the recall A/B in
    * SimilaritySpec). */
  def ivfAnnTop1(
      vecs: DataFrame, k: Int = 16, nprobe: Int = 4, lloydIters: Int = 3,
      maxGroup: Int = 256,
      preTrained: Option[Array[Array[Double]]] = None): DataFrame =
    top1(vecs, ivfAssignedRows(vecs, k, nprobe, lloydIters, preTrained),
      FloatCodec, 1, maxGroup)

  /** Top-`topK` IVF ANN across the probed lists, exact-decimal
    * re-ranked → (qid, rnk, cid, cos). With nprobe = k every list is
    * probed and the result is exhaustively exact (the SimilaritySpec
    * invariant). */
  def ivfAnnTopK(
      vecs: DataFrame, topK: Int, k: Int = 16, nprobe: Int = 4,
      lloydIters: Int = 3, maxGroup: Int = 256,
      preTrained: Option[Array[Array[Double]]] = None): DataFrame =
    rescore(blockedShortlist(ivfAssignedRows(vecs, k, nprobe, lloydIters, preTrained),
      FloatCodec, topK, maxGroup), vecs, vecs, topK)

  /** IVF with SQ8 in-list scans — the composition a billion-vector
    * deployment actually runs (FAISS calls the shape IVF-SQ8): Lloyd
    * centroids prune the lists (double-precision assignment against
    * the broadcast centroids), while the scanned rows carry int8
    * vectors, so the dominant cost — the in-list candidate scan —
    * reads 4× fewer bytes and ranks by exact integer dots. The
    * per-query shortlist is rescored in exact decimal as everywhere
    * else. Recall ≈ IVF's (list pruning dominates; quantization costs
    * a point or two) — measured and floor-gated in `SimilaritySpec`. */
  def ivfSq8AnnTop1(
      vecs: DataFrame, k: Int = 16, nprobe: Int = 4, lloydIters: Int = 3,
      maxGroup: Int = 256,
      preTrained: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val rows = ivfAssignedRows(vecs, k, nprobe, lloydIters, preTrained)
      .map { case (g, role, id, v) => (g, role, id, Sq8Codec.encode(v)) }
    top1(vecs, rows, Sq8Codec, 1, maxGroup)
  }

  // ---- product quantization (PQ) ----

  /** PQ codebooks: the unit vector splits into `m` contiguous
    * subvectors of d/m dims, and each subspace gets `ksub` L2-k-means
    * centroids — so a vector compresses to `m` BYTES (16× smaller than
    * float32 at the m=16/d=64 defaults), the representation a 100 TB
    * all-pairs scan wants to shuffle and hold. Training mirrors [[trainCentroids]]'s
    * determinism contract, jointly for ALL subspaces in one job per
    * iteration — including its [[trainSample]] (full corpus up to the
    * training floor, a deterministic md5 id slice beyond it, the floor
    * scaled to ≥ 16 vectors per sub-centroid): seeding is the `ksub`
    * lowest-id sampled vectors' subvectors;
    * each iteration assigns every subvector to its min-L2 centroid
    * (ties → lowest index) and accumulates per-(subspace, centroid,
    * dim) component sums as exact integer nano-units, merged by flat
    * collect below `treeReduceMinParts` partitions and `treeReduce`
    * above — both add the same integers, so codebooks are
    * bit-identical under any partitioning. Empty cells keep their
    * previous centroid; sub-centroids are plain means (subvectors are
    * not unit, so no re-normalization — assignment is L2, not dot).
    *
    * Returns codebooks[s][c] = centroid c of subspace s (m × kk × d/m,
    * kk = min(ksub, n)); empty corpus → empty array. */
  private[graft] def trainPqCodebooks(
      typed: Dataset[(Long, Array[Float])], m: Int, ksub: Int, iters: Int,
      treeReduceMinParts: Int = 512,
      minTrainRows: Long = 4096L): Array[Array[Array[Double]]] = {
    val spark = typed.sparkSession
    import spark.implicits._
    require(m >= 1, s"m=$m out of range")
    require(ksub >= 2 && ksub <= 256, s"ksub=$ksub out of range (codes are bytes)")
    val units = typed.map { case (id, arr) => (id, unitD(arr)) }.cache()
    // the sample must comfortably cover ksub cells per subspace, so the
    // floor scales with the codebook size (16 vectors/sub-centroid min)
    val train = trainSample(units, math.max(minTrainRows, ksub.toLong * 16))
    val sampled = train ne units
    if (sampled) train.cache()
    val seeds = train.orderBy(col("_1")).take(ksub).map(_._2)
    if (seeds.isEmpty) { if (sampled) train.unpersist(); units.unpersist(); return Array.empty }
    val dims = seeds(0).length
    // release the cache BEFORE throwing — a bad `m` must not leave a
    // corpus-sized cache entry behind (the BENCH_r02 leak class)
    if (dims % m != 0) {
      if (sampled) train.unpersist()
      units.unpersist()
      throw new IllegalArgumentException(
        s"dims=$dims not divisible by m=$m subspaces")
    }
    val dsub = dims / m
    val kk = seeds.length
    var cbs: Array[Array[Array[Double]]] = Array.tabulate(m, kk) { (s, c) =>
      java.util.Arrays.copyOfRange(seeds(c), s * dsub, (s + 1) * dsub)
    }
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cbs)
      val partialsDs = train.mapPartitions { it =>
        val cs = bc.value
        val counts = Array.fill(m)(new Array[Long](kk))
        val sums = Array.fill(m, kk)(new Array[Long](dsub))
        var any = false
        it.foreach { case (_, v) =>
          any = true
          var s = 0
          while (s < m) {
            val j = nearestSubCentroid(v, s * dsub, dsub, cs(s))
            counts(s)(j) += 1
            val acc = sums(s)(j)
            var i = 0
            while (i < dsub) { acc(i) += math.round(v(s * dsub + i) * 1e9); i += 1 }
            s += 1
          }
        }
        if (any) Iterator.single((counts, sums)) else Iterator.empty
      }
      def merge(
          a: (Array[Array[Long]], Array[Array[Array[Long]]]),
          b: (Array[Array[Long]], Array[Array[Array[Long]]])): (Array[Array[Long]], Array[Array[Array[Long]]]) = {
        var s = 0
        while (s < m) {
          var c = 0
          while (c < kk) {
            a._1(s)(c) += b._1(s)(c)
            var i = 0
            while (i < dsub) { a._2(s)(c)(i) += b._2(s)(c)(i); i += 1 }
            c += 1
          }
          s += 1
        }
        a
      }
      val (counts, acc) = {
        val rdd = partialsDs.rdd
        if (rdd.getNumPartitions >= treeReduceMinParts)
          rdd.treeReduce(merge _, depth = 2)
        else {
          val zero = (Array.fill(m)(new Array[Long](kk)),
            Array.fill(m, kk)(new Array[Long](dsub)))
          partialsDs.collect().foldLeft(zero)(merge)
        }
      }
      val next = cbs.map(_.map(_.clone()))
      var s = 0
      while (s < m) {
        var c = 0
        while (c < kk) {
          if (counts(s)(c) > 0) {
            val mean = new Array[Double](dsub)
            var i = 0
            while (i < dsub) { mean(i) = acc(s)(c)(i) / 1e9 / counts(s)(c); i += 1 }
            next(s)(c) = mean
          }
          c += 1
        }
        s += 1
      }
      cbs = next
    }
    if (sampled) train.unpersist()
    units.unpersist()
    cbs
  }

  /** Min-L2 sub-centroid for v[off, off+dsub) (ties → lowest index),
    * primitive loop — deterministic per (vector, codebook). */
  private def nearestSubCentroid(
      v: Array[Double], off: Int, dsub: Int, cs: Array[Array[Double]]): Int = {
    var best = Double.PositiveInfinity
    var bi = 0
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var dist = 0.0
      var i = 0
      while (i < dsub) { val diff = v(off + i) - c(i); dist += diff * diff; i += 1 }
      if (dist < best) { best = dist; bi = j }
      j += 1
    }
    bi
  }

  /** Encode a unit vector as m codebook indices (one byte each). */
  private def pqEncode(
      v: Array[Double], cbs: Array[Array[Array[Double]]], dsub: Int): Array[Byte] = {
    val code = new Array[Byte](cbs.length)
    var s = 0
    while (s < cbs.length) {
      code(s) = nearestSubCentroid(v, s * dsub, dsub, cbs(s)).toByte
      s += 1
    }
    code
  }

  /** Flattened symmetric centroid dot table:
    * table((s·kk + a)·kk + b) = dot(cb[s][a], cb[s][b]). Computed ONCE
    * on the driver from the (driver-resident) codebooks and broadcast
    * (m·kk² doubles — 8 MB at the m=16/kk=256 defaults, a one-time
    * per-search broadcast, NOT per-row state); the candidate scan is then
    * m table lookups + adds per pair, no float vectors in the scan at
    * all (symmetric-distance PQ: both sides are codes). Entries are
    * fixed-order dsub-element dots — deterministic. */
  private def pqDotTable(cbs: Array[Array[Array[Double]]]): Array[Double] = {
    val m = cbs.length
    val kk = if (m == 0) 0 else cbs(0).length
    val dsub = if (kk == 0) 0 else cbs(0)(0).length
    val t = new Array[Double](m * kk * kk)
    var s = 0
    while (s < m) {
      var a = 0
      while (a < kk) {
        var b = 0
        while (b < kk) {
          var dot = 0.0
          var i = 0
          while (i < dsub) { dot += cbs(s)(a)(i) * cbs(s)(b)(i); i += 1 }
          t((s * kk + a) * kk + b) = dot
          b += 1
        }
        a += 1
      }
      s += 1
    }
    t
  }

  /** PQ: m dot-table lookups per pair over m-byte codes — the scan
    * never touches a float vector. The per-pair score is a fixed-order
    * sum of broadcast-table doubles, so it is bit-identical in every
    * task. The broadcasts are resolved once per deserialized codec
    * (once per task), never per pair. No near-tie window: the PQ
    * shortlist depth is a recall knob (see [[blockedShortlist]]). */
  private final class PqCodec(
      bcCb: Broadcast[Array[Array[Array[Double]]]], bcTab: Broadcast[Array[Double]],
      kk: Int, dsub: Int) extends Codec[Array[Byte]] {
    @transient private lazy val cbs = bcCb.value
    @transient private lazy val tab = bcTab.value
    override def nearTies: Boolean = false
    def encode(unit: Array[Double]): Array[Byte] = pqEncode(unit, cbs, dsub)
    def score(q: Array[Byte], c: Array[Byte]): Double = {
      val t = tab
      var dot = 0.0
      var s = 0
      while (s < q.length) {
        dot += t((s * kk + (q(s) & 0xff)) * kk + (c(s) & 0xff))
        s += 1
      }
      dot
    }
  }

  /** The PQ codec of `vecs`: codebooks trained by [[trainPqCodebooks]]
    * (or pre-trained), broadcast with their dot table. Empty corpus →
    * empty codebooks and a 0-entry table, flowing through to an empty
    * result. */
  private def pqCodec(
      vecs: DataFrame, m: Int, ksub: Int, iters: Int,
      preTrained: Option[Array[Array[Array[Double]]]]): PqCodec = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cbs = preTrained.getOrElse(trainPqCodebooks(
      vecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])], m, ksub, iters))
    preTrained.foreach(c => require(c.isEmpty || c.length == m,
      s"preTrained codebooks: ${c.length} subspaces, expected m=$m"))
    val kk = if (cbs.isEmpty) 0 else cbs(0).length
    val dsub = if (kk == 0) 0 else cbs(0)(0).length
    new PqCodec(spark.sparkContext.broadcast(cbs),
      spark.sparkContext.broadcast(pqDotTable(cbs)), kk, dsub)
  }

  /** PQ top-1 for every vector: blocked all-pairs scan over m-byte
    * codes (16× fewer scan/shuffle bytes than float32 at the
    * defaults), `shortlist`-deep approximate ranking, exact-decimal
    * rescore of the shortlist. Recall is measured end-to-end by the
    * `pq` row of `q_ann_recall` (0.996–1.000 across SFs at the
    * defaults on the near-orthogonal probe corpus — floor 0.90). */
  def pqAnnTop1All(
      vecs: DataFrame, m: Int = 16, ksub: Int = 256, iters: Int = 3,
      shortlist: Int = 64, maxGroup: Int = 512,
      preTrainedCodebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val codec = pqCodec(vecs, m, ksub, iters, preTrainedCodebooks)
    top1(vecs, flatRows(vecs, lit(true), codec), codec, shortlist, maxGroup)
  }

  /** [[pqAnnTop1All]] for a deterministic query sample against the full
    * candidate corpus — same contract as [[int8AnnTop1Sampled]]. */
  def pqAnnTop1Sampled(
      vecs: DataFrame, isQuery: Column, m: Int = 16, ksub: Int = 256,
      iters: Int = 3, shortlist: Int = 64, maxGroup: Int = 512,
      preTrainedCodebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val codec = pqCodec(vecs, m, ksub, iters, preTrainedCodebooks)
    top1(vecs, flatRows(vecs, isQuery, codec), codec, shortlist, maxGroup)
  }

  /** Top-k PQ ANN, exact-decimal re-ranked → (qid, rnk, cid, cos). */
  def pqAnnTopK(
      vecs: DataFrame, topK: Int, m: Int = 16, ksub: Int = 256,
      iters: Int = 3, shortlist: Int = 64, maxGroup: Int = 512): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist < topK=$topK")
    val codec = pqCodec(vecs, m, ksub, iters, None)
    rescore(blockedShortlist(flatRows(vecs, lit(true), codec), codec, shortlist, maxGroup),
      vecs, vecs, topK)
  }

  /** IVF-PQ: Lloyd list pruning + PQ-code in-list scans — the FAISS
    * family completed (float / SQ8 / PQ × flat / IVF). The coarse
    * quantizer prunes lists exactly as [[ivfAnnTop1]]; the scanned
    * rows carry m-byte PQ codes, so the in-list candidate scan reads
    * 16× fewer bytes than float32 and each pair costs m dot-table
    * lookups; the per-query shortlist is rescored in exact decimal as
    * everywhere else. Recall ≈ min(IVF's list-pruning recall, PQ's
    * shortlist recall) — on the gate corpus PQ's is ~1.0, so this
    * measures ≈ IVF's (asserted within 0.05 in SimilaritySpec). */
  def ivfPqAnnTop1(
      vecs: DataFrame, k: Int = 16, nprobe: Int = 4, lloydIters: Int = 3,
      m: Int = 16, ksub: Int = 256, pqIters: Int = 3,
      shortlist: Int = 64, maxGroup: Int = 256,
      preTrained: Option[Array[Array[Double]]] = None,
      preTrainedCodebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val codec = pqCodec(vecs, m, ksub, pqIters, preTrainedCodebooks)
    val rows = ivfAssignedRows(vecs, k, nprobe, lloydIters, preTrained)
      .map { case (g, role, id, v) => (g, role, id, codec.encode(v)) }
    top1(vecs, rows, codec, shortlist, maxGroup)
  }

  // ---- persisted IVF-SQ8 index (build once per corpus epoch,
  //      search every query batch against it) ----

  /** Build and persist the IVF-SQ8 index — the similarity twin of
    * [[graft.ops.Dedup.writeDedupIndex]]: Lloyd-trained centroids
    * (k·d doubles — metadata-sized) plus one row per corpus vector
    * holding its list assignment, its int8 code, AND its original
    * float embedding, hive-partitioned by list. Parquet column
    * pruning makes the search's candidate scan read ONLY
    * (vec_id, list, q) — the int8 bytes — while the float originals
    * are touched just for the per-query shortlist rescore; partition
    * pruning skips unprobed lists entirely for small query batches.
    * Index cost is one training pass + one write; every subsequent
    * batch searches it without re-reading the corpus. */
  def writeAnnIndex(
      vecs: DataFrame, path: String, k: Int = 16, lloydIters: Int = 3,
      preTrained: Option[Array[Array[Double]]] = None): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val typed = vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val cents = preTrained.getOrElse(trainCentroids(typed, k, lloydIters))
    preTrained.foreach(c => require(c.length == k,
      s"preTrained centroids: ${c.length} lists, expected k=$k"))
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("list", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // an epoch rebuild retrains centroids, so vectors appended under a
    // PREVIOUS epoch (lists/batch=<id>) carry dead list assignments —
    // clear the whole lists root before laying down the new batch=-1,
    // mirroring [[graft.ops.Dedup.writeDedupIndex]]'s overwrite branch
    graft.io.Fs.deleteRecursive(spark, s"$path/lists")
    // the corpus epoch is batch=-1; streamed batches land beside it
    // ([[appendAnnIndexBatch]]), all discovered as one partitioned read
    writeAssigned(vecs, s"$path/lists/batch=-1", cents)
  }

  /** Load + sort the persisted centroid matrix (k·d doubles —
    * metadata-sized; one read per call, so hoist it out of per-batch
    * loops as [[graft.streaming.DocStreams.annIngest]] does). */
  private[graft] def readCentroids(
      spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("list"), col("centroid")).as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    require(cents.nonEmpty, s"empty ANN index at $path")
    cents
  }

  /** Assign every vector to its nearest centroid and write
    * (vec_id, q, embedding) hive-partitioned by list under `dir`.
    * One file per list (the per-call `repartition` on list): a
    * streaming ingest of many small batches grows the index by
    * ≤ k files per batch, not tasks·k. */
  private def writeAssigned(
      vecs: DataFrame, dir: String, cents: Array[Array[Double]]): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dims = cents(0).length
    val bc = spark.sparkContext.broadcast(cents)
    vecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, arr) =>
        // fail fast on foreign dimensionality — a silently truncated
        // dot would mis-assign AND permanently corrupt the index
        require(arr.length == dims,
          s"embedding dim ${arr.length} != index dim $dims (vec_id=$id)")
        val v = unitD(arr)
        (id, nearestCentroid(v, bc.value), Sq8Codec.encode(v), arr)
      }
      .toDF("vec_id", "list", "q", "embedding")
      .repartition(col("list"))
      .write.mode("overwrite").partitionBy("list").parquet(dir)
  }

  /** Append one ingest batch to a persisted index, IDEMPOTENTLY: the
    * batch lands at `lists/batch=<epoch>` with overwrite semantics, so
    * an at-least-once replay of the same batch (foreachBatch's
    * contract after a crash) overwrites its own partition instead of
    * duplicating vectors — the same self-healing property the dedup
    * ingest gets from its exact-dup classifier. Assignment uses the
    * stored centroids passed in by the caller (load them ONCE per
    * stream, not per batch). Centroids are deliberately not retrained:
    * recall drifts with the data distribution, not appended volume;
    * retraining is the epoch rebuild ([[writeAnnIndex]]), which also
    * compacts the accumulated per-batch files. */
  private[graft] def appendAnnIndexBatch(
      vecs: DataFrame, path: String, cents: Array[Array[Double]],
      epoch: Long): Unit =
    writeAssigned(vecs, s"$path/lists/batch=$epoch", cents)

  /** One-shot batch append (loads the centroids itself); `epoch` keys
    * the batch's partition — replays with the same epoch are
    * idempotent. */
  def appendAnnIndex(vecs: DataFrame, path: String, epoch: Long): Unit =
    appendAnnIndexBatch(vecs, path,
      readCentroids(vecs.sparkSession, path), epoch)

  /** EPOCH COMPACTION for a streamed ANN index: fold every
    * `lists/batch=<id>` partition into a single fresh `batch=-1`
    * epoch, in place, keeping the centroids untouched. A streaming
    * ingest grows the index by ≤ k files per micro-batch
    * ([[appendAnnIndexBatch]]); every search lists and scans all of
    * them, so after enough batches the candidate scan's cost is file
    * handles, not vectors. Rows are merged unchanged (assignments are
    * deterministic against the SAME stored centroids the batches used,
    * so re-assignment is pointless work); the `repartition(list)` +
    * `partitionBy(list)` rewrite lands each list in exactly one task →
    * exactly one file per non-empty list, the same shape
    * [[writeAssigned]] produces for a fresh epoch. Search results are
    * byte-identical before and after (asserted in SimilaritySpec) —
    * this is the "compacted at the epoch rebuild" maintenance step,
    * available WITHOUT paying a retrain. Swap is delete→rename
    * ([[graft.io.Fs.replaceDir]]); don't run concurrently with
    * readers of the same path. */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val fam = s"$path/lists"
    val tmp = s"$fam.compact"
    spark.read.parquet(fam).drop("batch")
      .repartition(col("list"))
      .write.mode("overwrite").partitionBy("list").parquet(s"$tmp/batch=-1")
    graft.io.Fs.replaceDir(spark, tmp, fam)
  }

  /** Top-`topK` neighbors for a NEW query batch against a persisted
    * index ([[writeAnnIndex]]): centroids are read and broadcast
    * (metadata-sized), each query routes to its `nprobe` nearest
    * lists, candidates stream through the blocked kernel with the SQ8
    * codec, and only the shortlist is exact-decimal rescored against
    * the stored float embeddings. Per-batch cost ∝ batch·corpus/k·
    * nprobe/cap² tasks — the corpus is never rescanned in full
    * precision. Query and corpus `vec_id`s must be disjoint (the
    * kernel treats an id match as a self-pair and skips it). */
  def annIndexTopK(
      indexPath: String, queries: DataFrame, topK: Int,
      nprobe: Int = 4, maxGroup: Int = 256): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = readCentroids(spark, indexPath)
    require(nprobe >= 1 && nprobe <= cents.length,
      s"nprobe=$nprobe out of range for ${cents.length} lists")
    val bc = spark.sparkContext.broadcast(cents)
    val qRows = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, arr) =>
          val v = unitD(arr)
          val qv = Sq8Codec.encode(v)
          probeLists(v, cs, nprobe).iterator.map(list => (list.toLong, 1.toByte, id, qv))
        }
      }
      // the probed-list set feeds a partition-pruning filter below and
      // the coded rows feed the kernel — materialize once
      .checkpointLinted()
    // ≤ k distinct values by construction (metadata-sized, NOT
    // data-sized): collecting them turns the candidate read into a
    // partition-pruned scan — lists no query probes are never touched
    // (asserted via PartitionFilters in SimilaritySpec)
    val probed = qRows.map(_._1).distinct().collect()
    val cRows = annIndexCandidateFrame(spark, indexPath, probed)
      .as[(Long, Long, Array[Byte])]
      .map { case (l, id, q) => (l, 2.toByte, id, q) }
    val shortlist = blockedShortlist(qRows.union(cRows), Sq8Codec, topK, maxGroup)
    // every shortlist candidate comes from a probed list, so the
    // SECOND (float32, heavier) read of the index prunes identically —
    // the corpus' unprobed float bytes are never touched either
    rescore(shortlist, queries,
      spark.read.parquet(s"$indexPath/lists")
        .filter(col("list").isin(probed.toSeq: _*))
        .select(col("vec_id"), col("embedding")), topK)
  }

  /** The candidate scan of [[annIndexTopK]], split out so its plan
    * shape is assertable: partition-pruned to the probed lists,
    * column-pruned to the int8 codes (the float embeddings are read
    * only by the rescore join). The kernel's eager materialization
    * hides this scan from the final query plan. */
  private[ops] def annIndexCandidateFrame(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      probed: Array[Long]): DataFrame =
    spark.read.parquet(s"$indexPath/lists")
      .filter(col("list").isin(probed.toSeq: _*))
      .select(col("list").cast("long").as("list"), col("vec_id"), col("q"))
}
