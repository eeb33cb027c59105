package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  // unit-ish vectors with a known similarity ranking relative to v10
  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (20L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // most similar to 10
      (30L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (40L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to 10
      (50L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
  }

  private lazy val realVecs =
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")

  "bruteForceTopK" should "rank by exact cosine" in {
    val out = Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") === 10), vecs.filter(col("vec_id") =!= 10), k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    out.toSeq shouldBe Seq((1, 20L), (2, 30L), (3, 40L))
  }

  "hardNegativesTopK" should "exclude near-dups and rank the rest by exact cosine" in {
    // candidate 11 is an exact duplicate of the anchor (cos = 1.0) and
    // 20 a near-dup (cos ≈ 0.994) — both above the 0.9 line; the
    // hardest NEGATIVE is 30 (cos ≈ 0.707), then 40, then 50
    import spark.implicits._
    val anchor = Seq((10L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val cands = Seq(
      (11L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (20L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (30L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (40L, Array(0.5f, 0.6f, 0.0f, 0.0f)),
      (50L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegativesTopK(anchor, cands, k = 3, dupThreshold = 0.9)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    out.toSeq shouldBe Seq((1, 30L), (2, 40L), (3, 50L))
  }

  it should "equal the threshold-filtered brute-force ranking on real vectors" in {
    val q = realVecs.filter(col("vec_id") < 10)
    val c = realVecs.filter(col("vec_id") >= 10)
    val got = Similarity.hardNegativesTopK(q, c, k = 3, dupThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // reference: exact cosines for ALL pairs, dup-gate applied, re-ranked
    val ref = Similarity.bruteForceTopK(q, c, k = Int.MaxValue - 32)
      .filter(col("cos") < 0.5)
      .withColumn("rnk2", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      .filter(col("rnk2") <= 3)
      .collect().map(r => (r.getLong(0), r.getInt(4), r.getLong(2))).toSeq
    got.sorted shouldBe ref.sorted
  }

  "bruteForceTop1All" should "agree with bruteForceTopK at k=1 for every query" in {
    val all = Similarity.bruteForceTop1All(vecs, maxGroup = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    all.size shouldBe 5
    all(10L) shouldBe 20L
    all(20L) shouldBe 10L
    all(40L) shouldBe 30L
  }

  "cosineNearDupPairs" should "find exactly the high-cosine pairs" in {
    val pairs = Similarity.cosineNearDupPairs(vecs, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs shouldBe Set((10L, 20L)) // cos ≈ 0.9939
  }

  it should "refuse to collect a corpus above the broadcast ceiling" in {
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(vecs, threshold = 0.9, maxBroadcastVectors = 3)
    }
    e.getMessage should include("cosineNearDupPairsBlocked")
  }

  "nearDupPairs" should "route to the blocked variant by default" in {
    val viaDefault = Similarity.nearDupPairs(vecs, threshold = 0.3)
      .collect().map(_.toSeq).toSet
    val blocked = Similarity.cosineNearDupPairsBlocked(vecs, threshold = 0.3)
      .collect().map(_.toSeq).toSet
    viaDefault shouldBe blocked
  }

  "cosineNearDupPairsBlocked" should "match the broadcast variant exactly" in {
    val broadcastOut = Similarity.cosineNearDupPairs(vecs, threshold = 0.3)
      .collect().map(_.toSeq).toSet
    val blockedOut = Similarity.cosineNearDupPairsBlocked(vecs, threshold = 0.3, blocks = 2)
      .collect().map(_.toSeq).toSet
    blockedOut shouldBe broadcastOut
    blockedOut should not be empty
  }

  "ivfAnnTop1" should "return one nearest neighbor per vector" in {
    val out = Similarity.ivfAnnTop1(vecs, k = 2, nprobe = 2).collect()
    out.length shouldBe 5
    val top10 = out.find(_.getLong(0) == 10L).get
    top10.getLong(1) shouldBe 20L
  }

  it should "handle a corpus smaller than k (fewer vectors than centroids)" in {
    // regression: the Lloyd partial merge indexed arrays of length
    // min(n, k) with k and crashed on any corpus below the default k=16
    val out = Similarity.ivfAnnTop1(vecs).collect() // defaults: k=16 > 5 vectors
    out.length shouldBe 5
  }

  "lshAnnTop1" should "be deterministic across runs" in {
    val a = Similarity.lshAnnTop1(vecs, planes = 2, tables = 4).collect().map(_.toSeq)
    val b = Similarity.lshAnnTop1(vecs, planes = 2, tables = 4).collect().map(_.toSeq)
    a should not be empty
    a should contain theSameElementsAs b
  }

  "ivfAnnTopK" should "be exhaustively exact when every list is probed" in {
    val out = Similarity.ivfAnnTopK(vecs, topK = 2, k = 2, nprobe = 2, lloydIters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val perQuery = out.groupBy(_._1).map { case (q, rs) =>
      q -> rs.sortBy(_._2).map(_._3).toSeq
    }
    // hand-computed exact top-2 by cosine (ties → lowest cid):
    // cos(10,20)=.9939 cos(10,30)=cos(30,40)=.7071 cos(20,30)=.7809
    perQuery shouldBe Map(
      10L -> Seq(20L, 30L),
      20L -> Seq(10L, 30L),
      30L -> Seq(20L, 10L), // 10 ties 40 at .7071 → lower cid wins
      40L -> Seq(30L, 20L),
      50L -> Seq(10L, 20L)) // all cos 0 → two lowest cids
  }

  "lshAnnTopK" should "be deterministic and rank-consistent with top-1" in {
    val topk = Similarity.lshAnnTopK(realVecs, k = 3, planes = 4, tables = 8)
    val first = topk.filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val top1 = Similarity.lshAnnTop1(realVecs, planes = 4, tables = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    first shouldBe top1
  }

  // A hot group must split into bounded block-pair tasks with output
  // invariant to the block layout — on every codec × partition path.
  "blocked group splitting" should "leave ANN output unchanged when buckets are force-split" in {
    import spark.implicits._
    val typed = realVecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // trained once, so both runs of a path scan the same lists and codes
    val cents = Some(Similarity.trainCentroids(typed, k = 8, iters = 1))
    val cbs = Some(Similarity.trainPqCodebooks(typed, m = 16, ksub = 256, iters = 1))
    val paths: Seq[(String, Int => DataFrame)] = Seq(
      "lshAnnTop1" -> (g =>
        Similarity.lshAnnTop1(realVecs, planes = 4, tables = 4, maxGroup = g)),
      "lshAnnTopK" -> (g =>
        Similarity.lshAnnTopK(realVecs, k = 3, planes = 4, tables = 4, maxGroup = g)),
      "ivfAnnTop1" -> (g => Similarity.ivfAnnTop1(realVecs, k = 8, nprobe = 2,
        maxGroup = g, preTrained = cents)),
      "ivfSq8AnnTop1" -> (g => Similarity.ivfSq8AnnTop1(realVecs, k = 8, nprobe = 2,
        maxGroup = g, preTrained = cents)),
      "ivfPqAnnTop1" -> (g => Similarity.ivfPqAnnTop1(realVecs, k = 8, nprobe = 2,
        maxGroup = g, preTrained = cents, preTrainedCodebooks = cbs)),
      "int8AnnTop1All" -> (g => Similarity.int8AnnTop1All(realVecs, maxGroup = g)),
      "binAnnTop1All" -> (g => Similarity.binAnnTop1All(realVecs, maxGroup = g)),
      "pqAnnTop1All" -> (g =>
        Similarity.pqAnnTop1All(realVecs, maxGroup = g, preTrainedCodebooks = cbs)))
    // 500 vectors: 500 rows in the flat group, ≈ 62 members plus their
    // probes per IVF list, ≈ 31 per LSH bucket (16 buckets) — cap 8
    // splits any group of ≥ 25 rows into ≥ 4 blocks → ≥ 16 tasks
    Similarity.numBlocks(31, 8) should be >= 4
    paths.foreach { case (name, run) =>
      withClue(s"$name: ") {
        val oneTask = run(Int.MaxValue).collect().map(_.toSeq).toSet
        oneTask should not be empty
        run(8).collect().map(_.toSeq).toSet shouldBe oneTask
      }
    }
  }

  it should "leave IVF output unchanged when lists are force-split" in {
    val oneTask = Similarity.ivfAnnTop1(realVecs, k = 8, nprobe = 2,
      lloydIters = 1, maxGroup = Int.MaxValue).collect().map(_.toSeq).toSet
    val manyTasks = Similarity.ivfAnnTop1(realVecs, k = 8, nprobe = 2,
      lloydIters = 1, maxGroup = 16).collect().map(_.toSeq).toSet
    manyTasks shouldBe oneTask
  }

  // Round-1 verdict item 2: ANN recall measured against the exact
  // brute-force ground truth; floors must hold deterministically.
  private def recallOf(ann: DataFrame): Double = {
    val truth = Similarity.bruteForceTop1All(realVecs)
      .select(col("qid"), col("cid").as("tcid"), col("cos").as("tcos"))
    val joined = truth.join(
      ann.select(col("qid"), col("cid"), col("cos")), Seq("qid"), "left")
    val n = joined.count()
    val found = joined.filter(
      col("cid") === col("tcid") || col("cos") === col("tcos")).count()
    found.toDouble / n
  }

  "ANN recall" should "clear the q_ann_recall floors on the gate corpus" in {
    val lsh = recallOf(Similarity.lshAnnTop1(realVecs, planes = 4, tables = 8))
    val ivf = recallOf(Similarity.ivfAnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 3))
    info(f"sf0.01 recall: lsh=$lsh%.3f ivf=$ivf%.3f")
    lsh should be >= 0.60
    ivf should be >= 0.50
  }

  it should "hold IVF-level recall with SQ8 in-list scans" in {
    val ivf = recallOf(Similarity.ivfAnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 3))
    val sq8 = recallOf(Similarity.ivfSq8AnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 3))
    info(f"sf0.01 IVF recall: float=$ivf%.3f sq8=$sq8%.3f")
    // same list pruning, int8 in-list ranking: quantization may cost a
    // few points but must stay above the q_ann_recall IVF floor
    sq8 should be >= 0.50
    sq8 should be >= ivf - 0.05
  }

  // Round-1 verdict item 4: Lloyd training must beat the lowest-id
  // centroid seeding it replaced.
  it should "improve IVF recall via Lloyd iterations" in {
    val seeded = recallOf(Similarity.ivfAnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 0))
    val trained = recallOf(Similarity.ivfAnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 3))
    info(f"sf0.01 IVF recall: seeded=$seeded%.3f trained=$trained%.3f")
    trained should be > seeded
  }

  "trainCentroids" should "produce roughly balanced unit-norm lists" in {
    import spark.implicits._
    val typed = realVecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val cents = Similarity.trainCentroids(typed, k = 16, iters = 3)
    cents.length shouldBe 16
    all(cents.map(c => math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0))) should be < 1e-9
    // assignment balance: no list dominates (round-1 seeding gave
    // arbitrary list sizes; Lloyd pulls them toward n/k)
    val sizes = typed.collect()
      .map { case (_, arr) =>
        val v = arr.map(_.toDouble)
        val n = math.sqrt(v.map(x => x * x).sum)
        val u = v.map(_ / n)
        cents.zipWithIndex.maxBy { case (c, i) =>
          (c.zip(u).map { case (a, b) => a * b }.sum, -i)
        }._2
      }
      .groupBy(identity).map(_._2.length)
    sizes.max should be < (500 / 16) * 3
  }

  it should "produce bit-identical centroids via the treeReduce merge path" in {
    import spark.implicits._
    val typed = realVecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val viaCollect = Similarity.trainCentroids(typed, k = 8, iters = 2)
    // threshold 1 forces every merge through treeReduce; integer-nano
    // partials make the result independent of the merge tree
    val viaTree = Similarity.trainCentroids(typed, k = 8, iters = 2,
      treeReduceMinParts = 1)
    viaTree.length shouldBe viaCollect.length
    viaTree.zip(viaCollect).foreach { case (a, b) => a shouldBe b }
  }

  "int8AnnTop1All" should "agree with the exact top-1 within the quantization budget" in {
    val exact = Similarity.bruteForceTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sq8 = Similarity.int8AnnTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    sq8.keySet shouldBe exact.keySet
    // same deterministic measurement the q_ann_recall int8 floor (0.85)
    // sits under: 0.936 on this corpus (integer dots → bit-stable)
    val hits = exact.count { case (q, (cid, cos)) =>
      sq8(q)._1 == cid || sq8(q)._2 == cos
    }
    hits.toDouble / exact.size should be >= 0.9
    // every returned cosine is the EXACT decimal cosine of its pair
    // (quantization only picks the shortlist, never the reported score):
    // a hit's cosine must equal the exact ground-truth cosine bit-for-bit
    exact.foreach { case (q, (cid, cos)) =>
      if (sq8(q)._1 == cid) sq8(q)._2 shouldBe cos
    }
  }

  it should "equal exact search when gaps exceed the quantization error" in {
    import spark.implicits._
    // orthogonal-ish axis vectors: top-1 gaps are ~1.0, far beyond any
    // int8 rounding — SQ8 must return exactly the brute-force result
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(0.9f, 0.1f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f), 4L -> Array(0f, 0.9f, 0.1f, 0f),
      5L -> Array(0f, 0f, 1f, 0f), 6L -> Array(0f, 0f, 0.9f, 0.1f))
      .toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTop1All(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sq8 = Similarity.int8AnnTop1All(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    sq8 shouldBe exact
  }

  it should "carry exact int8 ties at rank k to the exact rescore" in {
    import spark.implicits._
    // a and b quantize to the same int8 dot with q (127·102 each) while
    // their exact cosines differ (0.800 vs 0.805): the shortlist must
    // keep the whole tie so the exact rescore can pick b, the HIGHER cid
    val q = Array(1f, 0f, 0f, 0f)
    val a = Array(0.8f, 0.6f, 0f, 0f)
    val b = Array(0.805f, 0f, 0.5933f, 0f)
    def sq8(v: Array[Float]): Array[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => math.round(x / n * 127.0))
    }
    def dot(x: Array[Long], y: Array[Long]): Long = x.zip(y).map { case (i, j) => i * j }.sum
    dot(sq8(q), sq8(a)) shouldBe dot(sq8(q), sq8(b))
    val vecs = Seq(1L -> q, 2L -> a, 3L -> b).toDF("vec_id", "embedding")
    def top1Of1(df: DataFrame): Seq[(Long, Double)] =
      df.filter(col("qid") === 1L).collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val exact = top1Of1(Similarity.bruteForceTop1All(vecs))
    exact.map(_._1) shouldBe Seq(3L)
    top1Of1(Similarity.int8AnnTop1All(vecs)) shouldBe exact
  }

  "int8AnnTop1Sampled" should "equal the full int8 result restricted to the sample" in {
    val isQ = substring(md5(col("vec_id").cast("string")), 1, 1) < lit("4")
    val full = Similarity.int8AnnTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampled = Similarity.int8AnnTop1Sampled(realVecs, isQ)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampleIds = realVecs.filter(isQ)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    sampled.keySet shouldBe sampleIds
    sampled.foreach { case (q, v) => v shouldBe full(q) }
  }

  "binAnnTop1All" should "report exact cosines with measured-floor recall" in {
    val exact = Similarity.bruteForceTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val bin = Similarity.binAnnTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    bin.keySet shouldBe exact.keySet // every vector answered
    // the q_ann_recall `bin` floor (0.50) sits under the measured
    // 0.572-0.764 (ProbeBin 2026-08-14); this corpus measures ≥ 0.6
    val hits = exact.count { case (q, (cid, cos)) =>
      bin(q)._1 == cid || bin(q)._2 == cos
    }
    hits.toDouble / exact.size should be >= 0.5
    // sign bits only pick the shortlist — reported scores are the
    // exact decimal cosine (hit rows match ground truth bit-for-bit)
    exact.foreach { case (q, (cid, cos)) =>
      if (bin(q)._1 == cid) bin(q)._2 shouldBe cos
    }
  }

  "binAnnTop1Sampled" should "equal the full bin result restricted to the sample" in {
    val isQ = substring(md5(col("vec_id").cast("string")), 1, 1) < lit("4")
    val full = Similarity.binAnnTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampled = Similarity.binAnnTop1Sampled(realVecs, isQ)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampleIds = realVecs.filter(isQ)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    sampled.keySet shouldBe sampleIds
    sampled.foreach { case (q, v) => v shouldBe full(q) }
  }

  "annIndexTopK" should "search a persisted index like direct search" in {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ann-index").toString
    // toy axis vectors: gaps dwarf quantization, results must be exact
    val corpus = Seq(
      10L -> Array(1f, 0f, 0f, 0f), 11L -> Array(0.9f, 0.1f, 0f, 0f),
      12L -> Array(0f, 1f, 0f, 0f), 13L -> Array(0f, 0.9f, 0.1f, 0f),
      14L -> Array(0f, 0f, 1f, 0f), 15L -> Array(0f, 0f, 0.9f, 0.1f))
      .toDF("vec_id", "embedding")
    val queries = Seq(
      1L -> Array(0.95f, 0.05f, 0f, 0f), 2L -> Array(0f, 0f, 0.95f, 0.05f))
      .toDF("vec_id", "embedding")
    Similarity.writeAnnIndex(corpus, tmp, k = 3, lloydIters = 2)
    // nprobe = k probes every list → same candidates as brute force
    val viaIndex = Similarity.annIndexTopK(tmp, queries, topK = 2, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = Similarity.bruteForceTopK(queries, corpus, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    viaIndex shouldBe direct

    // real embeddings: persisted-index search must agree with direct
    // search on the top-1 for ≥ 90% of queries (quantized shortlist)
    val tmp2 = java.nio.file.Files.createTempDirectory("graft-ann-index2").toString
    val corpus2 = realVecs.filter(col("vec_id") >= 10)
    val queries2 = realVecs.filter(col("vec_id") < 10)
    Similarity.writeAnnIndex(corpus2, tmp2, k = 8, lloydIters = 2)
    val idx1 = Similarity.annIndexTopK(tmp2, queries2, topK = 1, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bf1 = Similarity.bruteForceTopK(queries2, corpus2, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    idx1.keySet shouldBe bf1.keySet
    val agree = idx1.count { case (q, c) => bf1(q) == c }
    agree.toDouble / idx1.size should be >= 0.9

    // scale shape of the candidate scan (hidden from the final plan by
    // the kernel's eager materialization): partition-pruned to the
    // probed lists — a NON-empty PartitionFilters on list, not just
    // the header — and column-pruned to the int8 codes
    val plan = Similarity.annIndexCandidateFrame(spark, tmp2, Array(0L, 1L))
      .queryExecution.executedPlan.toString
    plan should include regex """PartitionFilters: \[[^\]]*list#\d+ IN"""
    plan should include("ReadSchema: struct<vec_id:bigint,q:binary>")
  }

  "pqAnnTop1All" should "equal brute force when the shortlist covers the corpus" in {
    // shortlist ≥ corpus ⇒ every candidate reaches the exact rescore,
    // so PQ's approximate ranking cannot change the answer
    val exact = Similarity.bruteForceTop1All(vecs, maxGroup = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pq = Similarity.pqAnnTop1All(
        vecs, m = 2, ksub = 4, iters = 2, shortlist = 10, maxGroup = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    pq shouldBe exact
  }

  it should "be bit-identical under repartitioning" in {
    val a = Similarity.pqAnnTop1All(realVecs)
      .collect().map(_.toSeq).toSet
    val b = Similarity.pqAnnTop1All(realVecs.repartition(7))
      .collect().map(_.toSeq).toSet
    a shouldBe b
    a should not be empty
  }

  it should "clear the q_ann_recall pq floor on the gate corpus" in {
    val pq = recallOf(Similarity.pqAnnTop1All(realVecs))
    info(f"sf0.01 PQ recall: $pq%.3f")
    pq should be >= 0.90
  }

  "ivfPqAnnTop1" should "hold IVF-level recall with PQ in-list scans" in {
    val ivf = recallOf(Similarity.ivfAnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 3))
    val ivfpq = recallOf(Similarity.ivfPqAnnTop1(realVecs, k = 16, nprobe = 4, lloydIters = 3))
    info(f"sf0.01 IVF recall: float=$ivf%.3f ivf-pq=$ivfpq%.3f")
    ivfpq should be >= 0.50
    ivfpq should be >= ivf - 0.05
  }

  "pqAnnTop1Sampled" should "equal the full pq result restricted to the sample" in {
    val isQ = substring(md5(col("vec_id").cast("string")), 1, 1) < lit("4")
    val sampleIds = realVecs.filter(isQ)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val full = Similarity.pqAnnTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampled = Similarity.pqAnnTop1Sampled(realVecs, isQ)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    sampled.keySet shouldBe sampleIds
    sampled.foreach { case (q, v) => v shouldBe full(q) }
  }

  "pqAnnTopK" should "rank consistently with top-1 and by exact cosine" in {
    val topk = Similarity.pqAnnTopK(
      vecs, topK = 2, m = 2, ksub = 4, iters = 2, shortlist = 10, maxGroup = 2)
    val rows = topk.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val top1 = Similarity.pqAnnTop1All(
        vecs, m = 2, ksub = 4, iters = 2, shortlist = 10, maxGroup = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_._2 == 1).foreach { case (q, _, c, _) => c shouldBe top1(q) }
    rows.groupBy(_._1).values.foreach { rs =>
      rs.sortBy(_._2).map(_._4).toSeq shouldBe rs.map(_._4).sorted.reverse.toSeq
    }
  }

  "bruteForceTop1Sampled" should "equal the full ground truth restricted to the sample" in {
    val isQ = substring(md5(col("vec_id").cast("string")), 1, 1) < lit("4")
    val sampleIds = realVecs.filter(isQ)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val full = Similarity.bruteForceTop1All(realVecs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sampled = Similarity.bruteForceTop1Sampled(realVecs, isQ)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    sampled.keySet shouldBe sampleIds
    sampleIds.size should be < full.size
    sampled.foreach { case (q, v) => v shouldBe full(q) }
  }

  "deployment sizing" should "hold per-unit candidate work constant as the corpus grows" in {
    // gate corpora stay on the gate configuration
    Similarity.ivfListsFor(500) shouldBe 16
    Similarity.ivfListsFor(2000) shouldBe 16
    Similarity.lshPlanesFor(500) shouldBe 4
    Similarity.lshPlanesFor(2000) shouldBe 4
    // scaling: expected list/bucket population bounded by the target
    for (n <- Seq(20000L, 1000000L, 100000000L)) {
      val k = Similarity.ivfListsFor(n)
      (n.toDouble / k) should be <= 125.0
      val planes = Similarity.lshPlanesFor(n)
      assert((n >> planes) <= 125 || planes == 20,
        s"n=$n planes=$planes leaves ${n >> planes} per bucket")
    }
    // monotone, and capped where recall would erode
    Similarity.lshPlanesFor(Long.MaxValue) shouldBe 20
    Similarity.ivfListsFor(20000) shouldBe 160
  }

  "semDedup" should "prune a subset of the global near-dup decision and stay deterministic" in {
    val sem = Similarity.semDedup(realVecs, seeds = 16, tau = 0.4)
    val semRows = sem.collect()
    semRows.length shouldBe realVecs.count()
    // every vector lands in exactly one of ≤ 16 seed clusters
    semRows.map(_.getLong(1)).distinct.length should be <= 16
    // cluster-scoped edges ⊆ global edges ⇒ pruned(sem) ⊆ pruned(global)
    val semPruned = semRows.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    semPruned should not be empty // non-vacuous on the gate corpus
    val globalPruned = graft.ops.Dedup.dedupDecision(
        realVecs.select(col("vec_id")),
        Similarity.cosineNearDupPairsBlocked(realVecs, threshold = 0.4),
        "vec_id", aCol = "id_a", bCol = "id_b")
      .filter(!col("keep")).collect().map(_.getLong(0)).toSet
    semPruned.subsetOf(globalPruned) shouldBe true
    // pure function of the corpus: same decisions from another layout
    val again = Similarity
      .semDedup(realVecs.repartition(7, col("vec_id")), seeds = 16, tau = 0.4)
      .collect()
    again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq shouldBe
      semRows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .sortBy(_._1).toSeq
  }

  "semDedupIncremental" should "classify a batch against the persisted epoch index deterministically" in {
    val idx = tmpDir("sem-index")
    val isBatch =
      substring(md5(col("vec_id").cast("string")), 1, 1) < lit("2")
    val corpus = realVecs.filter(!isBatch)
    val batch = realVecs.filter(isBatch)
    Similarity.writeSemIndex(
      corpus, Similarity.ivfListsFor(corpus.count()), idx)
    def probe(b: org.apache.spark.sql.DataFrame) =
      Similarity.semDedupIncremental(idx, b, tau = 0.4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val out = probe(batch)
    out.length shouldBe batch.count()
    out.map(_._3).toSet.subsetOf(
      Set("new", "dup_in_batch", "dup_of_corpus")) shouldBe true
    // the gate corpus exercises at least the corpus-dup and new arms
    out.count(_._3 == "dup_of_corpus") should be > 0
    out.count(_._3 == "new") should be > 0
    // replay-idempotent: an at-least-once redelivery relabels identically
    probe(batch.repartition(5, col("vec_id"))).toSeq shouldBe out.toSeq
  }
}
