package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.SkewJoin
import graft.ops.Similarity.decToDouble
import graft.tools.Ckpt._

/** Second wave of relational capability: skew-salted joins, exact
  * percentiles, moment-based variance, range window frames, pivot, and
  * approximate distinct counting. Same numeric policy as
  * [[RelationalQueries]].
  */
object AdvancedQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(s, dir) else Tables.t(s, dir, name)

  private def dec(c: String, p: Int = 12, sc: Int = 2) =
    col(c).cast(s"decimal($p,$sc)")

  /** Salted join (8 buckets): result is EXACTLY the plain join — the
    * oracle is the plain join — only the shuffle distribution differs.
    * Demonstrates the hot-key escape hatch AQE can't always reach. */
  def joinSalted(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val small = t(s, dir, "part")
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    SkewJoin.saltedJoin(big, small, "partkey", saltBuckets = 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(dec("l_quantity")).cast("double").as("qty"))
      .orderBy(col("p_brand"))
  }

  /** ADAPTIVE salted join: hot partkeys (≥ 35 lineitem rows — the
    * per-key distribution has median 30 / p90 37 at every SF, so both
    * the hot and the cold path are genuinely exercised) are detected by
    * a partial-agg census and salted; cold keys join unsalted, so the
    * small side is exploded only |hot|·buckets deep. Same oracle as
    * q_join_salted: the plain join — adaptivity must not change one
    * row. */
  def joinSaltedAdaptive(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val small = t(s, dir, "part")
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    SkewJoin.adaptiveSaltedJoin(big, small, "partkey",
        saltBuckets = 8, hotThreshold = 35)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(dec("l_quantity")).cast("double").as("qty"))
      .orderBy(col("p_brand"))
  }

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_extendedprice, 0.5)").as("p50_price"))
      .orderBy(col("l_returnflag"))

  /** Per-priority exact decimal moments of o_totalprice — the ONE
    * source of the numeric policy [[variance]] and [[outliers]] share:
    * decimal(12,2) ingest, exact Σx/Σx², string-hopped doubles out
    * (partitioning-independent per COVERAGE.md's rules). */
  private def orderMoments(s: SparkSession, dir: String): DataFrame = {
    val sx = sum(dec("o_totalprice")) // Σx exact
    val sx2 = sum(dec("o_totalprice") * dec("o_totalprice")) // Σx² exact
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decToDouble(sx).as("sum_x"),
        decToDouble(sx2).as("sum_x2"))
      .withColumn("mean", col("sum_x") / col("n"))
  }

  /** Z-score outlier detection — the data-quality gate a training
    * pipeline runs over numeric columns: per-group mean/std from
    * [[orderMoments]] (exact sums, so the doubles are
    * partitioning-independent), then every row scored and filtered at
    * |z| ≥ 1.6. (Threshold calibrated to the corpus: the synthetic
    * columns are near-uniform, so |z| is bounded by √3 ≈ 1.73 and a
    * textbook 3σ gate would vacuously pass on zero rows — a
    * heavy-tailed production column uses 3.0 with the same plan.) Two
    * narrow scans of orders (one aggregated to 5 stats rows that join
    * back via AQE broadcast, one scoring pass) — no window, and the
    * fact rows themselves never shuffle. */
  def outliers(s: SparkSession, dir: String): DataFrame = {
    val stats = orderMoments(s, dir)
      .withColumn("std",
        sqrt((col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) / col("n")))
      .select(col("o_orderpriority"), col("mean"), col("std"))
    t(s, dir, "orders")
      .join(stats, "o_orderpriority")
      .withColumn("z", (col("o_totalprice").cast("double") - col("mean")) / col("std"))
      .filter(abs(col("z")) >= 1.6)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("double").as("price"), col("z"))
      .orderBy(col("o_orderkey"))
  }

  /** Population variance from exact decimal moments (n, Σx, Σx²): the
    * double formula runs on string-hopped exact sums, so it is
    * partitioning-independent — unlike var_pop over doubles. */
  def variance(s: SparkSession, dir: String): DataFrame =
    orderMoments(s, dir)
      .withColumn("var_pop",
        (col("sum_x2") - col("sum_x") * col("sum_x") / col("n")) / col("n"))
      .select(col("o_orderpriority"), col("n"), col("mean"), col("var_pop"))
      .orderBy(col("o_orderpriority"))

  /** RANGE window frame: trailing-30-day spend per customer, evaluated
    * per order. Frame bounds in epoch seconds == the oracle's INTERVAL
    * bounds. */
  def windowRange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("sec"))
      .rangeBetween(-30L * 86400, 0)
    t(s, dir, "orders")
      .withColumn("sec", unix_timestamp(col("o_orderdate")))
      .withColumn("trailing_30d",
        sum(dec("o_totalprice")).over(w).cast("double"))
      .select(col("o_orderkey"), col("o_custkey"), col("trailing_30d"))
      .orderBy(col("o_orderkey"))
  }

  /** Pivot (explicit value list for a stable schema). */
  def pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0L)
      .orderBy(col("bucket"))

  /** Unpivot (melt, r15) — the inverse of [[pivot]]: wide per-metric
    * columns back to long (key, metric, value) form, the layout a
    * metrics store or feature pipeline ingests. Spark-native
    * `Dataset.unpivot` compiles to one Expand projection — zero
    * shuffle, codegen'd, embarrassingly parallel at any scale. Values
    * pass through as unmodified doubles (no arithmetic), so the oracle
    * is an exact UNION ALL replay. */
  def unpivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"),
        col("c_acctbal").cast("double").as("acctbal"),
        col("c_nationkey").cast("double").as("nationkey"))
      .unpivot(Array(col("c_custkey")),
        Array(col("acctbal"), col("nationkey")), "metric", "value")
      .orderBy(col("c_custkey"), col("metric"))

  /** HLL approximate distinct as an INVARIANT oracle (round-1 verdict
    * item 6): the sketch estimate itself is implementation-specific, so
    * the hashed output carries the exact counts plus a boolean asserting
    * the estimate landed within 5·rsd of the exact answer — DuckDB
    * reproduces the exact side and the constant `true`. HLL++ at
    * rsd=0.01 is empirically within ~1% here; the 5σ band makes the
    * boolean robust without being vacuous. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users").cast("double") <= 0.05).as("approx_ok"))
      .orderBy(col("event_type"))

  /** HLL register machinery with an EXACT value oracle (round-11,
    * VERDICT r10 item 6 — the q_bloom_exact pattern applied to
    * distinct-count sketching). Spark's builtin `approx_count_distinct`
    * (HLL++, xxhash64) cannot be value-replayed in SQL, so
    * q_approx_distinct stays an invariant gate; THIS query runs the
    * same sketch mechanism — hash → bucket → leading-zero rank →
    * per-bucket max-merge (the mergeable partial that makes HLL scale)
    * — under an md5 draw both engines compute bit-identically, and
    * keeps every output either integer-exact or an IEEE-identical
    * final expression:
    *
    *  - m = 256 registers (bucket = first 2 md5 hex chars), rank from
    *    the next 13 hex chars (52 bits) via `length(bin(w))` — integer
    *    math in both engines, no float in the sketch itself;
    *  - `harmonic_den` = Σ 2^(53−M_j) over all 256 registers (absent
    *    registers contribute 2^53) — an EXACT BIGINT (max 2^61), i.e.
    *    the HLL harmonic sum scaled by 2^53, so the whole estimator
    *    state is value-checked without any floating accumulation;
    *  - `est_raw` = α·m²·2^53 / harmonic_den — ONE double division of
    *    identically-rounded constants, bit-identical across engines
    *    (no libm, no float sum; the small-range correction is omitted
    *    deliberately — ln() differs by ULPs across libms).
    *
    * Scale shape: identical to production HLL — one partial-aggregated
    * shuffle of (group, bucket, rank) with map-side max-combine, then
    * a 256-row-per-group reduce; register count is independent of
    * input size. */
  def hllExact(s: SparkSession, dir: String): DataFrame = {
    val m = 256
    val e = t(s, dir, "events").select(col("event_type"), col("user_id"))
    val h = md5(col("user_id").cast("string"))
    val w = conv(substring(h, 3, 13), 16, 10).cast("long")
    val regs = e
      .withColumn("bucket", conv(substring(h, 1, 2), 16, 10).cast("long"))
      // rank = leading zeros of the 52-bit field + 1
      //      = (52 - bitlength(w)) + 1; w = 0 ⇒ 53
      .withColumn("rnk",
        when(w === 0L, lit(53)).otherwise(lit(53) - length(bin(w))).cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rnk")).as("m_j"))
    val sk = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("m_j")).as("register_sum"),
        sum(call_function("shiftleft", lit(1L),
          (lit(53) - col("m_j")).cast("int"))).as("h_present"))
      .withColumn("zero_buckets", lit(m.toLong) - col("n_buckets"))
      .withColumn("harmonic_den",
        col("h_present") + col("zero_buckets") * lit(1L << 53))
      .drop("h_present")
    val ex = e.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    // α(256)·m²·2^53 — a compile-time double; the oracle spells the
    // identical left-associated expression, so DuckDB rounds to the
    // same bits
    val alphaNum = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0
    sk.join(ex, Seq("event_type"))
      .withColumn("est_raw", lit(alphaNum) / col("harmonic_den").cast("double"))
      // regime-aware sanity: raw HLL OVERESTIMATES by design below
      // ~2.5m distincts (the regime linear counting exists for — its
      // ln() is libm, 1-ULP-unstable across engines, so it stays out
      // of the value surface); there the check is "linear counting is
      // viable" (zero registers remain), above it the raw estimate
      // must sit within 25% (≈3.8σ at m=256) of exact. The branch
      // condition compares the bit-identical est_raw, so both engines
      // take the same arm.
      .withColumn("approx_ok",
        when(col("est_raw") <= lit(640.0), col("zero_buckets") > 0L)
          .otherwise(
            abs(col("est_raw") - col("exact_users").cast("double"))
              / col("exact_users").cast("double") <= lit(0.25)))
      .select(col("event_type"), col("exact_users"), col("n_buckets"),
        col("zero_buckets"), col("register_sum"), col("harmonic_den"),
        col("est_raw"), col("approx_ok"))
      .orderBy(col("event_type"))
  }

  /** q_hll_exact oracle: the 13-hex-char→52-bit decode is generated
    * (the instr() positional-sum idiom of q_bloom_exact, 13 terms). */
  private[queries] val hllExactOracle: String = {
    val wTerms = (0 until 13).map { i =>
      val weight = BigInt(16).pow(12 - i)
      s"(instr('0123456789abcdef', substr(hx, ${3 + i}, 1)) - 1) * CAST($weight AS BIGINT)"
    }.mkString("\n            + ")
    s"""WITH h AS (
         SELECT event_type, user_id,
           md5(CAST(user_id AS VARCHAR)) AS hx
         FROM events),
       hw AS (
         SELECT event_type, user_id,
           (instr('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
           $wTerms AS w
         FROM h),
       regs AS (
         SELECT event_type, bucket,
           max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS m_j
         FROM hw GROUP BY 1, 2),
       sk AS (
         SELECT event_type, count(1) AS n_buckets,
           CAST(sum(m_j) AS BIGINT) AS register_sum,
           CAST(sum(CAST(1 AS BIGINT) << CAST(53 - m_j AS INT)) AS BIGINT)
             AS h_present
         FROM regs GROUP BY 1),
       ex AS (
         SELECT event_type, count(DISTINCT user_id) AS exact_users
         FROM events GROUP BY 1),
       j AS (
         SELECT s.event_type, ex.exact_users, s.n_buckets,
           256 - s.n_buckets AS zero_buckets, s.register_sum,
           s.h_present + (256 - s.n_buckets) * (CAST(1 AS BIGINT) << 53)
             AS harmonic_den
         FROM sk s JOIN ex USING (event_type))
       SELECT event_type, exact_users, n_buckets, zero_buckets,
         register_sum, harmonic_den,
         (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0)
           / CAST(harmonic_den AS DOUBLE) AS est_raw,
         CASE WHEN (0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                    * 9007199254740992.0) / CAST(harmonic_den AS DOUBLE)
                   <= 640.0
              THEN 256 - n_buckets > 0
              ELSE abs((0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
                        * 9007199254740992.0)
                       / CAST(harmonic_den AS DOUBLE)
                     - CAST(exact_users AS DOUBLE))
                   / CAST(exact_users AS DOUBLE) <= 0.25
         END AS approx_ok
       FROM j ORDER BY event_type"""
  }

  /** Sketch-based percentiles vs the exact sort — the 100 TB posture
    * for q_percentiles: exact `percentile` holds a per-group sorted
    * buffer (all values of the group through one aggregation path),
    * while `approx_percentile` (t-digest-style sketch, accuracy 1e4)
    * is a bounded-memory mergeable partial like any other partial
    * aggregate. Invariant oracle (q_approx_distinct's pattern): the
    * sketch estimate must sit within 5% of the exact interpolated
    * percentile — deterministic, because Spark's sketch is
    * deterministic for a given dataset and accuracy. */
  def percentilesApprox(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").cast("double").as("ap50"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("ap50") - col("p50")) / col("p50") <= 0.05).as("approx_ok"))
      .orderBy(col("l_returnflag"))

  /** Histogram quantiles, EXACT-VALUE gated (round-11, the carry-over
    * "upgrade an invariant gate" item): [[graft.ops.Quantiles]]'s
    * two-pass integer histogram over l_extendedprice in cents, per
    * return flag. Unlike `approx_percentile` (float-merged t-digest,
    * invariant-gated only in q_percentiles_approx), every step here is
    * integer floor-division both engines compute bit-identically, so
    * DuckDB replays the envelope pass, the bucket counts, the
    * cumulative rank selection, and the edge estimates value-for-value
    * — and the estimate carries a proven ≤ range/B + 1 error bound
    * (asserted against the true sorted quantile in `QuantilesSpec`). */
  def quantileHistogram(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.histogramQuantiles(
      t(s, dir, "lineitem"),
      (dec("l_extendedprice") * 100).cast("long"),
      col("l_returnflag"))
      .withColumnRenamed("g", "l_returnflag")
      .orderBy(col("l_returnflag"))

  /** SCD2 dimension history (round-11, [[graft.etl.Scd]]): each
    * customer's order-priority timeline collapsed to validity
    * intervals — the incremental-warehouse shape the reference's
    * recreate-everything gold stage cannot express. One hash exchange
    * on the key + per-key sort; ties broken by o_orderkey so the
    * emitted history is partitioning-independent. */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    graft.etl.Scd.scd2FromEvents(
      t(s, dir, "orders"),
      col("o_custkey"), col("o_orderdate"),
      tracked = Seq(col("o_orderpriority")),
      tieCols = Seq(col("o_orderkey")))
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("effective_from"), col("effective_to"), col("is_current"))
      .orderBy(col("o_custkey"), col("version"))

  /** ZONE-MAP pruned range scan (round-13, [[graft.io.Zones]]):
    * lineitem range-clustered on l_shipdate into 16 zone files with a
    * per-file (min, max) manifest; the 1996-Q1 query consults the
    * manifest FIRST so only overlapping files enter the scan (the
    * pruning itself is asserted in `ZonesSpec`; at gate scale Q1-96
    * touches ~1/16 of the zones). The gate proves value parity —
    * manifest routing must lose and duplicate nothing against the
    * oracle's plain filter over the raw table. */
  def zonemapScan(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1996-03-31").cast("timestamp")
    graft.io.Zones.readZoneRange(s, sharedZonesPath(s, dir), "l_shipdate", lo, hi)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy(col("l_returnflag"))
  }

  /** The zoned lineitem layout shared by q_zonemap_count and
    * q_zonemap_scan — an epoch artifact of the lineitem table, built
    * once and reused (the README bench charging rule: the
    * alphabetically first consumer, q_zonemap_count, carries the
    * build; q_zonemap_scan's number is the steady-state serve). */
  private def sharedZonesPath(s: SparkSession, dir: String): String =
    Harness.memo(s, "zones", dir, Seq("lineitem.parquet"), "zones-v1") { m =>
      graft.io.Zones.writeZoned(
        t(s, dir, "lineitem").select(col("l_shipdate"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice")),
        m, "l_shipdate", 16)
    }

  /** METADATA-ONLY range count (round-13,
    * [[graft.io.Zones.countRange]]): count(*) over the Q2+Q3-96 ship
    * window answered mostly from the manifest's per-file row counts —
    * only boundary-straddling files are scanned. The emitted count
    * must equal the oracle's full filter; the meta-vs-scan file split
    * is asserted in ZonesSpec. */
  def zonemapCount(s: SparkSession, dir: String): DataFrame = {
    val (n, metaF, scanF) = graft.io.Zones.countRange(s,
      sharedZonesPath(s, dir), "l_shipdate",
      lit("1996-04-01").cast("timestamp"), lit("1996-09-30").cast("timestamp"))
    require(metaF + scanF > 0, "range unexpectedly empty")
    import s.implicits._
    Seq(n).toDF("cnt")
  }

  /** LUHN-VALIDATED card detection (round-13, [[graft.ops.Text
    * .luhnValid]] — ISO/IEC 7812, the checksum every card detector
    * runs to kill bare-regex false positives): candidates are
    * 15-digit strings derived deterministically from orders keys (the
    * corpus carries no card-shaped digit runs, so a corpus gate would
    * assert only negatives); the engine decides validity via the
    * codegen'd array fold and the oracle re-derives every checksum
    * digit-by-digit. ~11 % of candidates validate — a mod-10 check's
    * expected rate. */
  def piiLuhn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(col("o_orderkey"))
      .filter(col("o_orderkey") <= 800)
      .withColumn("digits",
        lpad((col("o_orderkey") * 7919 % 1000000000000000L).cast("string"),
          15, "0"))
      .withColumn("luhn_ok", graft.ops.Text.luhnValid(col("digits")))
      .orderBy(col("o_orderkey"))

  /** INCREMENTAL zone maps (round-13, [[graft.io.Zones.appendZoned]]):
    * lineitem lands in two md5-split batches, each range-clustered
    * with its own additive manifest slice; the same Q1-96 range read
    * routes through the union manifest and must equal the oracle's
    * plain filter — the batch seam is value-invisible. */
  def zonemapIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = Harness.scratch(s, "zones-incr", dir)
    val li = t(s, dir, "lineitem").select(col("l_shipdate"),
      col("l_returnflag"), col("l_quantity"), col("l_extendedprice"),
      col("l_orderkey"))
    val firstHalf = substring(md5(col("l_orderkey").cast("string")), 1, 1) < "8"
    graft.io.Zones.appendZoned(
      li.filter(firstHalf).drop("l_orderkey"), base, "l_shipdate", 16, 0)
    graft.io.Zones.appendZoned(
      li.filter(!firstHalf).drop("l_orderkey"), base, "l_shipdate", 16, 1)
    graft.io.Zones.readZoneRange(s, base, "l_shipdate",
        lit("1996-01-01").cast("timestamp"), lit("1996-03-31").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
      .orderBy(col("l_returnflag"))
  }

  /** Z-ORDER pruned scan (round-13, [[graft.io.Zones.writeZonedMulti]]):
    * lineitem Morton-clustered on (l_shipdate, l_partkey) into 32
    * files; the probe predicate ranges over l_partkey — the SECOND
    * dimension, which plain range clustering on shipdate could never
    * prune — and still routes through the per-file manifest (pruning
    * asserted in ZonesSpec on both dimensions). The gate proves value
    * parity vs the oracle's plain filter. */
  def zorderScan(s: SparkSession, dir: String): DataFrame = {
    val base = Harness.scratch(s, "zorder", dir)
    graft.io.Zones.writeZonedMulti(
      t(s, dir, "lineitem").select(col("l_shipdate"), col("l_partkey"),
        col("l_returnflag"), col("l_quantity")),
      base, Seq("l_shipdate", "l_partkey"), 32)
    val maxPk = t(s, dir, "lineitem").agg(max(col("l_partkey"))).head().getLong(0)
    graft.io.Zones.readZoneRangeOn(s, base, "l_partkey",
        lit(1L), lit(maxPk / 10))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
      .orderBy(col("l_returnflag"))
  }

  /** SCD2 TIME TRAVEL (round-13, [[graft.etl.Scd.snapshotAt]]): the
    * customer-priority dimension AS OF 1997-06-01 — each key's one
    * version valid at the instant, keys born later absent. On a
    * materialized history this is a predicate-pushed scan; here the
    * history builds from events first, so the gate proves the
    * interval filter against the oracle's independent rebuild. */
  def scd2AsOf(s: SparkSession, dir: String): DataFrame =
    graft.etl.Scd.snapshotAt(
      scd2History(s, dir), lit("1997-06-01").cast("timestamp"))
      .orderBy(col("o_custkey"), col("version"))

  /** INCREMENTAL SCD2 (round-11, [[graft.etl.Scd.scd2Apply]]): the
    * pre-1998 history is built once, then the 1998+ orders fold in as
    * a change batch — cost ∝ batch + touched current rows, never the
    * history's depth. The oracle is the FULL from-scratch rebuild (the
    * q_scd2_history SQL verbatim), so the gate proves incremental ≡
    * rebuild row-for-row. */
  def scd2ApplyQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val cut = lit("1998-01-01").cast("timestamp")
    val hist = graft.etl.Scd.scd2FromEvents(
      o.filter(col("o_orderdate") < cut),
      col("o_custkey"), col("o_orderdate"),
      tracked = Seq(col("o_orderpriority")),
      tieCols = Seq(col("o_orderkey")))
      .select(col("o_custkey"), col("version"), col("effective_from"),
        col("effective_to"), col("is_current"), col("o_orderpriority"))
      // scd2Apply's contract input is a MATERIALIZED history table (in
      // production it is read from storage); cut the build pipeline's
      // lineage so the apply's three branch reads don't re-window it
      .checkpointLinted()
    graft.etl.Scd.scd2Apply(hist, o.filter(col("o_orderdate") >= cut),
      "o_custkey", "o_orderdate", Seq("o_orderpriority"), Seq("o_orderkey"))
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("effective_from"), col("effective_to"), col("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /** STREAMING SCD2 parity gate (round-11,
    * [[graft.streaming.ScdStreams]]): the pre-1998 history is
    * persisted hive-bucketed, the 1998+ observations arrive through a
    * REAL file-stream in time-ordered micro-batches
    * (`maxFilesPerTrigger=1`), each folding into the history via the
    * partition-pruned bucket rewrite — and the final on-disk history
    * must equal the one-shot rebuild, so the oracle is the
    * q_scd2_history SQL for the THIRD time: batch build, incremental
    * fold, and streamed fold all land on identical rows. */
  def scd2StreamParity(s: SparkSession, dir: String): DataFrame =
      Tables.withGateShuffle(s) {
    val base = Harness.scratch(s, "scd-stream", dir)
    val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderdate"),
      col("o_orderkey"), col("o_orderpriority"))
    val cut = lit("1998-01-01").cast("timestamp")
    val mid = lit("1999-07-01").cast("timestamp")
    // the PRISTINE fixtures — the pre-1998 bucketed history and the two
    // observation files — are a pure function of the orders table:
    // disk-memoized across processes (StageMemo, r14 / VERDICT r13
    // task 5); each run works on a cheap file copy, because the stream
    // fold MUTATES the history tree in place
    val stage = Harness.memo(s, "scd-stream", dir, Seq("orders.parquet"),
        "scd-stream-hist-v1") { m =>
      val hist = graft.etl.Scd.scd2FromEvents(
        o.filter(col("o_orderdate") < cut),
        col("o_custkey"), col("o_orderdate"),
        Seq(col("o_orderpriority")), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("version"), col("effective_from"),
          col("effective_to"), col("is_current"), col("o_orderpriority"))
      graft.streaming.ScdStreams.writeScdHistory(
        hist, s"$m/hist", "o_custkey", buckets = 8)
      o.filter(col("o_orderdate") >= cut && col("o_orderdate") < mid)
        .coalesce(1).write.parquet(s"$m/in1")
      o.filter(col("o_orderdate") >= mid)
        .coalesce(1).write.parquet(s"$m/in2")
    }
    graft.io.StageMemo.copyTree(s"$stage/hist", s"$base/hist")
    // two time-ordered files → two micro-batches. FileStreamSource
    // orders by modification time, and files landing with EQUAL mtimes
    // have unspecified delivery order — scd2Apply(onLateDrop) would
    // silently drop a later-date-range-first batch, failing this gate
    // flakily. Pin distinct mtimes explicitly so batch order is
    // deterministic.
    val inDir = java.nio.file.Paths.get(base, "in")
    val t0 = System.currentTimeMillis() - 60000L
    def copyParts(sub: String, mtime: Long, pfx: String): Unit = {
      val parts = new java.io.File(s"$stage/$sub").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      assert(parts.nonEmpty, s"no staged part files under $stage/$sub")
      parts.zipWithIndex.foreach { case (f, i) =>
        val d = inDir.resolve(f"$pfx-$i%05d.parquet")
        java.nio.file.Files.copy(f.toPath, d)
        assert(d.toFile.setLastModified(mtime), s"mtime: $d")
      }
    }
    Harness.streamParity(s, base, o.schema)(() => {
      java.nio.file.Files.createDirectories(inDir)
      copyParts("in1", t0, "a")
      copyParts("in2", t0 + 30000L, "b")
    }) { stream =>
      graft.streaming.ScdStreams.scdIngest(
        stream, s"$base/hist", s"$base/ckpt", "o_custkey", "o_orderdate",
        Seq("o_orderpriority"), Seq("o_orderkey"), buckets = 8)
    }
    // r14 (VERDICT r13 task 8, closing r12 task 3's second half): fold
    // the per-batch applied markers into one watermark BEFORE serving,
    // so this gate also proves the read lands byte-identical through a
    // COMPACTED history (marker-fold mechanics spec'd in ScdStreamsSpec;
    // here the oracle hash would catch any value drift)
    graft.streaming.ScdStreams.compactScdMarkers(s, s"$base/hist")
    graft.streaming.ScdStreams.readScdHistory(s, s"$base/hist")
      .select(col("o_custkey"), col("version"),
        col("o_orderpriority").as("priority"),
        col("effective_from"), col("effective_to"), col("is_current"))
      .orderBy(col("o_custkey"), col("version"))
  }

  /** Incremental materialized view (round-11, [[graft.ops.MatView]]):
    * orders arrive as three key-mod epochs (an ORDER-FREE split — the
    * fold must not care), one partial is deliberately re-written
    * (replay idempotence exercised inside the gate), the partials
    * compact, and the derived view must equal DuckDB's one-shot
    * aggregate over all of orders. */
  def matviewIncremental(s: SparkSession, dir: String): DataFrame = {
    val base = Harness.scratch(s, "matview", dir)
    val o = t(s, dir, "orders")
    (0 until 3).foreach { i =>
      graft.ops.MatView.writePartial(
        o.filter(pmod(col("o_orderkey"), lit(3)) === i), base,
        col("o_orderpriority"), col("o_totalprice"), i.toLong)
    }
    // at-least-once replay of epoch 1: must rewrite the identical partial
    graft.ops.MatView.writePartial(
      o.filter(pmod(col("o_orderkey"), lit(3)) === 1), base,
      col("o_orderpriority"), col("o_totalprice"), 1L)
    graft.ops.MatView.compact(s, base)
    graft.ops.MatView.withDerived(
      graft.ops.MatView.readMatView(s, base))
      .orderBy(col("k"))
  }

  /** Keyed MERGE/upsert: evens updated in place, a %7 slice arrives as
    * brand-new keys, everything else survives — the anti-join + union
    * plan that replaces a full-table rewrite. */
  def dimUpsert(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val updates = c.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
        lit("UPDATED").as("c_mktsegment"))
      .unionByName(c.filter(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          col("c_name"), lit("NEW").as("c_mktsegment")))
    graft.etl.Scd.upsertByKey(c, updates, Seq("c_custkey"))
      .orderBy(col("c_custkey"))
  }

  /** Change-data extract between two synthetic epochs of customer
    * (deletes %11, re-segments %7, inserts a %13 slice of new keys):
    * per key, insert/delete/update with the attribute before/after —
    * the delta a downstream consumer replays instead of re-reading the
    * table. One co-partitioned full-outer join. */
  def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val after = c.filter(col("c_custkey") % 11 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")))
      .unionByName(c.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          col("c_name"), lit("FRESH").as("c_mktsegment")))
    graft.etl.Scd.snapshotDiff(c, after, Seq("c_custkey"))
      .select(col("c_custkey"), col("change"),
        col("before.c_mktsegment").as("seg_before"),
        col("after.c_mktsegment").as("seg_after"))
      .orderBy(col("c_custkey"))
  }

  /** Bucketed SCD maintenance layout, built once per (session, sf):
    * the dimension snapshot, the [[dimUpsert]] update batch, and the
    * [[snapshotDiffQ]] after-epoch, all written as 8-bucket tables on
    * the merge key so every maintenance join is co-located. Same
    * memo + stale-location contract as
    * [[RelationalQueries.joinBucketed]] (an earlier PROCESS may have
    * left the managed location behind; the in-memory catalog forgets,
    * the warehouse dir does not). */
  private def scdBucketedTables(
      s: SparkSession, dir: String): (String, String, String) = {
    val slug = Harness.slug(dir).replace('.', '_')
    val ct = s"graft_bk_scd_cur_$slug"
    val ut = s"graft_bk_scd_upd_$slug"
    val at = s"graft_bk_scd_after_$slug"
    if (!s.catalog.tableExists(ct) || !s.catalog.tableExists(ut) ||
        !s.catalog.tableExists(at)) {
      val wh = s.conf.get("spark.sql.warehouse.dir")
      Seq(ct, ut, at).foreach { tb =>
        s.sql(s"DROP TABLE IF EXISTS $tb")
        graft.io.Fs.deleteRecursive(s, s"$wh/$tb")
      }
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val updates = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), upper(col("c_name")).as("c_name"),
          lit("UPDATED").as("c_mktsegment"))
        .unionByName(c.filter(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("c_name"), lit("NEW").as("c_mktsegment")))
      val after = c.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 7 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")))
        .unionByName(c.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 10000000L).as("c_custkey"),
            col("c_name"), lit("FRESH").as("c_mktsegment")))
      graft.io.Layout.writeBucketed(c, ct, "c_custkey", 8)
      graft.io.Layout.writeBucketed(updates, ut, "c_custkey", 8)
      graft.io.Layout.writeBucketed(after, at, "c_custkey", 8)
    }
    (ct, ut, at)
  }

  /** String census of Exchange operators anywhere in a frame's
    * executed plan (robust under AQE, where the adaptive wrapper hides
    * children from TreeNode.collect) — the [[RelationalQueries
    * .joinBucketed]] probe generalized to whole-plan scope: SCD
    * maintenance must be exchange-free END TO END, not just below one
    * join. */
  private def exchangeCensus(df: DataFrame): Long =
    "(?m)^.*Exchange".r
      .findAllIn(df.queryExecution.executedPlan.toString).size.toLong

  /** Exchange-FREE keyed MERGE (round-13; delivers the bucketed
    * promise in [[graft.etl.Scd.upsertByKey]]'s scaladoc as a
    * driver-gated oracle row): snapshot and update batch are 8-bucket
    * tables on the key, broadcast is disabled, and the merge —
    * anti-join + union — plans with ZERO Exchange anywhere (the plain
    * shuffle plan has one per join side). `scd_upsert_exchanges`
    * censuses the executed plan and rides the result hash, so a
    * planner regression re-introducing the shuffle flips the gate red,
    * not just slower. This is the nightly-merge lever at 100 TB: the
    * dimension pays its shuffle once at layout time, then every batch
    * merge streams bucket-to-bucket. The merge hint pins the sort-merge
    * choice on the RE-planned frame too (the harness executes this
    * DataFrame after the finally block restores the broadcast
    * threshold — same trap as joinBucketed). It rides the snapshot
    * side only: the update batch also feeds the union outside the
    * anti-join, where Spark drops a hint as reaching no join. */
  def scd2UpsertBucketed(s: SparkSession, dir: String): DataFrame = {
    val (ct, ut, _) = scdBucketedTables(s, dir)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = graft.etl.Scd.upsertByKey(
        s.table(ct).hint("merge"), s.table(ut),
        Seq("c_custkey"))
      merged.withColumn("scd_upsert_exchanges", lit(exchangeCensus(merged)))
        .orderBy(col("c_custkey"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Exchange-FREE change-data extract (round-13): the two epochs are
    * co-bucketed, so [[graft.etl.Scd.snapshotDiff]]'s full-outer join
    * needs no shuffle at all — `scd_diff_exchanges` asserts it
    * structurally, same contract as [[scd2UpsertBucketed]]. The CDC
    * sweep a warehouse runs per epoch thus costs one co-located scan
    * of each epoch, never a re-shuffle of either. */
  def snapshotDiffBucketed(s: SparkSession, dir: String): DataFrame = {
    val (ct, _, at) = scdBucketedTables(s, dir)
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val d = graft.etl.Scd.snapshotDiff(
        s.table(ct).hint("merge"), s.table(at).hint("merge"),
        Seq("c_custkey"))
      d.select(col("c_custkey"), col("change"),
        col("before.c_mktsegment").as("seg_before"),
        col("after.c_mktsegment").as("seg_after"))
        .withColumn("scd_diff_exchanges", lit(exchangeCensus(d)))
        .orderBy(col("c_custkey"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Blocked fuzzy entity pairs (round-11, [[graft.ops.Entities]]):
    * the part-name catalog (distinct names — vocabulary-sized, never
    * row-stream-sized), blocked on the last word, verified by exact
    * Levenshtein ≤ 3. Both engines run the same DP, so every pair and
    * distance value-matches. */
  def entityPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.Entities.fuzzyPairs(
      graft.ops.Entities.catalog(
        t(s, dir, "part"), col("p_partkey"), col("p_name")),
      maxDist = 3)
      .orderBy(col("id_a"), col("id_b"))

  /** Full entity resolution: fuzzy-match components over the catalog,
    * min-id canonical per cluster (the dedup survivor rule re-used at
    * the entity level). */
  def entityResolution(s: SparkSession, dir: String): DataFrame =
    graft.ops.Entities.resolve(
      t(s, dir, "part"), col("p_partkey"), col("p_name"), maxDist = 3)
      .orderBy(col("entity_id"))

  /** Calendar gap-fill + moving window (round-11,
    * [[graft.ops.TimeSeries]]): monthly order totals per priority over
    * a gap-FREE spine (months with no orders contribute real zeros),
    * then a trailing 3-month moving sum whose frame arithmetic is
    * exact row counts because the grid is regular. Decimals exact
    * until the output hop. */
  def timeseriesGapfill(s: SparkSession, dir: String): DataFrame =
    graft.ops.TimeSeries.gapFillMonthly(
      t(s, dir, "orders"),
      col("o_orderpriority"), col("o_orderdate"), col("o_totalprice"))
      .select(col("k").as("priority"), col("month"), col("n"),
        decToDouble(col("total_d")).as("total"),
        decToDouble(col("trailing_d")).as("trailing_3m"))
      .orderBy(col("priority"), col("month"))

  /** EXACT median without a sort (round-11,
    * [[graft.ops.Quantiles.exactQuantileByRefinement]]): two histogram
    * refinement rounds shrink each group's candidate range ×256², then
    * a per-value count pass reads the exact rank-⌈n/2⌉ value — four
    * linear scans, every exchange ≤ B rows per group, integer-only so
    * DuckDB replays all bounds, rebased targets, and the final value
    * bit-identically. `QuantilesSpec` additionally asserts equality
    * with the sorted median. */
  def quantileExact(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quantiles.exactQuantileByRefinement(
      t(s, dir, "lineitem"),
      (dec("l_extendedprice") * 100).cast("long"),
      col("l_returnflag"), num = 1, den = 2)
      .withColumnRenamed("g", "l_returnflag")
      .orderBy(col("l_returnflag"))

  /** Same variance via the typed [[graft.functions.MomentsAggregator]]
    * UDAF — covers the custom-Aggregator extension surface; oracle is
    * the moment formula. */
  def udafVariance(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        graft.functions.MomentsAggregator.varPopExact(
          col("o_totalprice").cast("decimal(12,2)")).as("var_pop"))
      .orderBy(col("o_orderpriority"))

  /** Uncorrelated scalar subquery: orders above the global mean (the
    * mean from exact decimal sums, string-hopped in both engines). */
  def subqueryScalar(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("sq_orders")
    s.sql("""
      SELECT o_orderkey, o_totalprice FROM sq_orders
      WHERE o_totalprice > (
        SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
               / count(1)
        FROM sq_orders)
      ORDER BY o_orderkey""")
  }

  /** Correlated scalar subquery (Catalyst decorrelates it into an
    * aggregate + join — no per-row re-execution): orders above their
    * own customer's mean. */
  def subqueryCorrelated(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("sqc_orders")
    s.sql("""
      SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM sqc_orders o
      WHERE o.o_totalprice > (
        SELECT CAST(CAST(sum(CAST(i.o_totalprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE)
               / count(1)
        FROM sqc_orders i WHERE i.o_custkey = o.o_custkey)
      ORDER BY o.o_orderkey""")
  }

  /** Per-column data-quality profile of `customer`: one scan. */
  def dqProfile(s: SparkSession, dir: String): DataFrame =
    graft.ops.Quality.profile(t(s, dir, "customer"))
      .orderBy(col("column"))

  /** Declarative expectation suite over the corpus (dbt-test / Great-
    * Expectations posture): six rules — incl. one that FAILS with a
    * real violation count (n_chars ∈ [100, 400] against a corpus
    * spanning past both edges) — evaluated in ONE scan. */
  def dqExpectations(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Quality._
    graft.ops.Quality.expectations(t(s, dir, "documents"), Seq(
      NotNull("doc_id"), Unique("doc_id"),
      InRange("n_chars", 1L, 100000L),
      InRange("n_chars", 100L, 400L),
      InSet("lang", Seq("de", "en", "es", "fr", "zh")),
      Matches("source", "^src[0-9]+$")))
  }

  /** Distributed (no-global-sort) surrogate ids over the fact-sized
    * events table — the 100 TB id path. Ids themselves depend on the
    * partitioning, so the oracle checks the INVARIANT instead: ids are
    * unique and dense-count (n_distinct == n_rows). */
  def distributedId(s: SparkSession, dir: String): DataFrame = {
    val withIds = graft.etl.Dims.withDistributedId(t(s, dir, "events"), "row_id")
    withIds.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("row_id")).as("n_distinct_ids"))
  }

  /** Bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep duplicate
    * multiplicity (the plain variants in q_set_ops deduplicate). */
  def setOpsAll(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def typed(kind: String) =
      ev.filter(col("event_type") === kind).select(col("user_id"))
    val interAll = typed("click").intersectAll(typed("view"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .select(lit("click_intersect_all_view").as("tag"), col("user_id"), col("n"))
    val exceptAll = typed("click").exceptAll(typed("purchase"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .select(lit("click_except_all_purchase").as("tag"), col("user_id"), col("n"))
    interAll.unionAll(exceptAll).orderBy(col("tag"), col("user_id"))
  }

  /** Scalar string-function battery (upper/substring/replace/lpad/
    * reverse/levenshtein/strpos — all definition-identical in DuckDB). */
  def stringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        substring(col("p_name"), 1, 5).as("sub"),
        regexp_replace(col("p_name"), "a", "@").as("rep"),
        lpad(col("p_brand"), 12, "_").as("pad"),
        reverse(col("p_type")).as("rev"),
        levenshtein(col("p_brand"), col("p_type")).as("lev"),
        instr(col("p_name"), "e").as("pos"))
      .orderBy(col("p_partkey"))

  /** Scalar math functions over exact decimal inputs (ln verified
    * bit-identical across engines; the rest are exact or IEEE). */
  def mathFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        abs(dec("o_totalprice") * -1).cast("double").as("abs_v"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("ce"),
        sqrt(col("o_totalprice")).as("sq"),
        pmod(col("o_orderkey"), lit(97)).as("md"))
      .orderBy(col("o_orderkey"))

  /** Array functions over the embedding vectors (element extraction and
    * extrema — no arithmetic, so float values pass through exactly). */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).as("dims"),
        array_max(col("embedding")).cast("double").as("mx"),
        array_min(col("embedding")).cast("double").as("mn"),
        element_at(col("embedding"), 1).cast("double").as("first"),
        element_at(col("embedding"), -1).cast("double").as("last"))
      .orderBy(col("vec_id"))

  /** Link-graph centrality gates (graft.ops.Graph): exact-integer
    * PageRank over the customer↔supplier interaction graph. */
  /** Memoized shared PageRank run per (application, sfDir) — the
    * [[SimilarityQueries]] trainedCents contract: the top-k and
    * mass-ledger gates report over ONE 6-round iterate (a production
    * pipeline ranks once per epoch and publishes every report from
    * it), instead of each paying the full iterate. The final rank
    * frame is localCheckpointed inside [[graft.ops.Graph.iterate]],
    * so the memoized reference stays valid across queries. */
  private val pagerankCache = new java.util.concurrent.ConcurrentHashMap[
    String, (DataFrame, Seq[(Int, Long, Long)])]()
  /** Memo key + stale-app eviction. MUST be called OUTSIDE any
    * `computeIfAbsent` mapping function: `removeIf` during a compute
    * violates ConcurrentHashMap's recursive-update prohibition. Callers
    * compute the key once up front and pass it down. */
  private def graphMemoKey(s: SparkSession,
      caches: Seq[java.util.concurrent.ConcurrentHashMap[String, _]],
      dir: String): String = {
    val appId = s.sparkContext.applicationId
    caches.foreach(_.keySet.removeIf(k => !k.startsWith(appId + ":")))
    appId + ":" + dir
  }

  /** Memoized DIRECTED edge list per (application, sfDir) — the one
    * lineitem⋈orders + distinct derivation ALL four graph gates share
    * (r13 VERDICT task: the bench re-paid this setup in q_graph_degrees,
    * q_graph_hits, AND the pagerank run; a production pipeline derives
    * the edge list once per epoch and publishes every centrality
    * report from it). Checkpointed so consumers read materialized
    * blocks, never re-run the join. */
  private val edgesCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def directedEdges(s: SparkSession, dir: String): DataFrame =
    directedEdgesAt(graphMemoKey(s, Seq(edgesCache, pagerankCache), dir),
      s, dir)

  /** Eviction-free inner lookup: `key` was computed (and stale apps
    * purged) by the caller, so this is safe inside computeIfAbsent. */
  private def directedEdgesAt(key: String, s: SparkSession,
      dir: String): DataFrame =
    edgesCache.computeIfAbsent(key, _ =>
      graft.ops.Graph.directedInteractionEdges(
        Tables.t(s, dir, "lineitem"), Tables.t(s, dir, "orders"))
        .checkpointLinted())

  private def pagerankRun(s: SparkSession,
      dir: String): (DataFrame, Seq[(Int, Long, Long)]) = {
    val key = graphMemoKey(s, Seq(edgesCache, pagerankCache), dir)
    pagerankCache.computeIfAbsent(key, _ =>
      graft.ops.Graph.pageRankWithMass(
        graft.ops.Graph.symmetricFromDirected(directedEdgesAt(key, s, dir)),
        iters = 6,
        // symmetric construction: every node appears as src — skip the
        // full-edge dangling audit job (r19)
        noDanglingByConstruction = true))
  }

  private def graphPagerank(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.pageRankTopFrom(pagerankRun(s, dir)._1, k = 20)

  private def graphPagerankMass(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pagerankRun(s, dir)._2.toDF("round", "n_nodes", "total_pr_u")
      .orderBy(col("round"))
  }

  private def graphHits(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.hitsTopFrom(directedEdges(s, dir), iters = 4, k = 10)

  private def graphDegrees(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.degreeProfileFrom(
      graft.ops.Graph.symmetricFromDirected(directedEdges(s, dir)))

  /** The from-scratch SCD2 rebuild through a final `h` CTE — shared by
    * the full-history oracles and the as-of snapshot filter. */
  private val scd2Cte: String =
    """WITH s AS (
         SELECT o_custkey, o_orderdate, o_orderkey, o_orderpriority,
           CASE WHEN lag(o_orderpriority) OVER w IS NOT DISTINCT FROM o_orderpriority
                THEN 0 ELSE 1 END AS chg
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
       v AS (
         SELECT o_custkey, o_orderdate, o_orderpriority,
           CAST(sum(chg) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS BIGINT) AS version
         FROM s),
       r AS (
         SELECT o_custkey, version, o_orderpriority AS priority,
           min(o_orderdate) AS effective_from
         FROM v GROUP BY o_custkey, version, o_orderpriority),
       h AS (
         SELECT o_custkey, version, priority, effective_from,
           lead(effective_from) OVER (
             PARTITION BY o_custkey ORDER BY version) AS effective_to,
           lead(effective_from) OVER (
             PARTITION BY o_custkey ORDER BY version) IS NULL AS is_current
         FROM r)"""

  /** Shared by q_scd2_history AND q_scd2_apply: the incremental fold
    * must reproduce the from-scratch rebuild row-for-row. */
  private val scd2HistorySql: String = scd2Cte +
    """
       SELECT o_custkey, version, priority, effective_from,
         effective_to, is_current
       FROM h ORDER BY o_custkey, version"""

  /** Shared by q_zonemap_scan and q_zonemap_incremental: manifest
    * routing (flat or batched) must equal the plain filter. */
  private val zonemapSql: String =
    """SELECT l_returnflag, count(1) AS cnt,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
         min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate <= TIMESTAMP '1996-03-31'
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Oracle for q_scd2_asof: the rebuild filtered to the versions
    * valid at the snapshot instant. */
  private def scd2AsofSql(ts: String): String = scd2Cte +
    s"""
       SELECT o_custkey, version, priority, effective_from,
         effective_to, is_current
       FROM h
       WHERE effective_from <= TIMESTAMP '$ts'
         AND (effective_to IS NULL OR effective_to > TIMESTAMP '$ts')
       ORDER BY o_custkey, version"""

  val queries: Seq[Query] = Seq(
    // generated unrolled-round oracles (graft.ops.Graph): every
    // PageRank iteration re-derived independently, exact integer
    Query("q_graph_pagerank", graphPagerank, graft.ops.Graph.pageRankTopOracleSql(6, 20)),
    Query("q_graph_hits", graphHits, graft.ops.Graph.hitsTopOracleSql(4, 10)),
    Query("q_graph_pagerank_mass", graphPagerankMass, graft.ops.Graph.pageRankMassOracleSql(6)),
    Query("q_graph_degrees", graphDegrees, graft.ops.Graph.degreeProfileOracleSql),
    Query("q_string_funcs", stringFuncs,
      """SELECT p_partkey,
           upper(p_name) AS up,
           substr(p_name, 1, 5) AS sub,
           regexp_replace(p_name, 'a', '@', 'g') AS rep,
           lpad(p_brand, 12, '_') AS pad,
           reverse(p_type) AS rev,
           CAST(levenshtein(p_brand, p_type) AS INT) AS lev,
           CAST(strpos(p_name, 'e') AS INT) AS pos
         FROM part ORDER BY p_partkey"""),
    Query("q_math_funcs", mathFuncs,
      """SELECT o_orderkey,
           CAST(abs(CAST(o_totalprice AS DECIMAL(12,2)) * -1) AS DOUBLE) AS abs_v,
           CAST(floor(o_totalprice) AS BIGINT) AS fl,
           CAST(ceil(o_totalprice) AS BIGINT) AS ce,
           sqrt(o_totalprice) AS sq,
           o_orderkey % 97 AS md
         FROM orders ORDER BY o_orderkey"""),
    Query("q_array_funcs", arrayFuncs,
      """SELECT vec_id,
           CAST(len(embedding) AS INT) AS dims,
           CAST(list_max(embedding) AS DOUBLE) AS mx,
           CAST(list_min(embedding) AS DOUBLE) AS mn,
           CAST(embedding[1] AS DOUBLE) AS "first",
           CAST(embedding[-1] AS DOUBLE) AS "last"
         FROM embeddings ORDER BY vec_id"""),
    Query("q_distributed_id", distributedId,
      """SELECT count(1) AS n_rows, count(1) AS n_distinct_ids FROM events"""),
    Query("q_set_ops_all", setOpsAll,
      """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
            v AS (SELECT user_id FROM events WHERE event_type = 'view'),
            p AS (SELECT user_id FROM events WHERE event_type = 'purchase')
         SELECT 'click_intersect_all_view' AS tag, user_id, count(1) AS n
         FROM (SELECT user_id FROM c INTERSECT ALL SELECT user_id FROM v)
         GROUP BY user_id
         UNION ALL
         SELECT 'click_except_all_purchase' AS tag, user_id, count(1) AS n
         FROM (SELECT user_id FROM c EXCEPT ALL SELECT user_id FROM p)
         GROUP BY user_id
         ORDER BY tag, user_id"""),
    // every rule re-derived as an independent subquery; the booleans
    // are computed, not echoed — a drifted violation count flips pass
    Query("q_dq_expectations", dqExpectations,
      """WITH t AS (SELECT count(1) AS n FROM documents)
         SELECT expectation, "column", n_rows, n_violations,
           n_violations = 0 AS pass
         FROM (
           SELECT 'in_range(n_chars,1,100000)' AS expectation,
             'n_chars' AS "column", n AS n_rows,
             (SELECT count(1) FROM documents
              WHERE n_chars IS NULL OR n_chars < 1 OR n_chars > 100000)
               AS n_violations FROM t
           UNION ALL
           SELECT 'in_range(n_chars,100,400)', 'n_chars', n,
             (SELECT count(1) FROM documents
              WHERE n_chars IS NULL OR n_chars < 100 OR n_chars > 400) FROM t
           UNION ALL
           SELECT 'in_set(lang)', 'lang', n,
             (SELECT count(1) FROM documents
              WHERE lang IS NULL OR lang NOT IN ('de','en','es','fr','zh')) FROM t
           UNION ALL
           SELECT 'matches(source)', 'source', n,
             (SELECT count(1) FROM documents
              WHERE source IS NULL OR NOT regexp_matches(source, '^src[0-9]+$')) FROM t
           UNION ALL
           SELECT 'not_null(doc_id)', 'doc_id', n,
             (SELECT count(1) FROM documents WHERE doc_id IS NULL) FROM t
           UNION ALL
           SELECT 'unique(doc_id)', 'doc_id', n,
             (SELECT count(1) - count(DISTINCT doc_id) FROM documents) FROM t)
         ORDER BY expectation"""),
    Query("q_dq_profile", dqProfile,
      """WITH t AS (SELECT count(1) AS n_rows FROM customer)
         SELECT * FROM (
           SELECT 'c_custkey' AS "column",
             (SELECT count(1) FROM customer WHERE c_custkey IS NULL) AS n_nulls,
             (SELECT count(DISTINCT c_custkey) FROM customer) AS n_distinct, n_rows FROM t
           UNION ALL
           SELECT 'c_name',
             (SELECT count(1) FROM customer WHERE c_name IS NULL),
             (SELECT count(DISTINCT c_name) FROM customer), n_rows FROM t
           UNION ALL
           SELECT 'c_nationkey',
             (SELECT count(1) FROM customer WHERE c_nationkey IS NULL),
             (SELECT count(DISTINCT c_nationkey) FROM customer), n_rows FROM t
           UNION ALL
           SELECT 'c_acctbal',
             (SELECT count(1) FROM customer WHERE c_acctbal IS NULL),
             (SELECT count(DISTINCT c_acctbal) FROM customer), n_rows FROM t
           UNION ALL
           SELECT 'c_mktsegment',
             (SELECT count(1) FROM customer WHERE c_mktsegment IS NULL),
             (SELECT count(DISTINCT c_mktsegment) FROM customer), n_rows FROM t)
         ORDER BY "column""""),
    Query("q_udaf_variance", udafVariance,
      """WITH m AS (
           SELECT o_orderpriority, count(1) AS n,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_x,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_x2
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, n,
           (sum_x2 - sum_x * sum_x / n) / n AS var_pop
         FROM m ORDER BY o_orderpriority"""),
    Query("q_subquery_scalar", subqueryScalar,
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (
           SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
                  / count(1)
           FROM orders)
         ORDER BY o_orderkey"""),
    Query("q_subquery_correlated", subqueryCorrelated,
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice FROM orders o
         WHERE o.o_totalprice > (
           SELECT CAST(CAST(sum(CAST(i.o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
                  / count(1)
           FROM orders i WHERE i.o_custkey = o.o_custkey)
         ORDER BY o.o_orderkey"""),
    Query("q_join_salted", joinSalted,
      """SELECT p_brand, count(1) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),
    Query("q_join_salted_adaptive", joinSaltedAdaptive,
      """SELECT p_brand, count(1) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),
    Query("q_percentiles", percentiles,
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS p50_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           quantile_cont(l_extendedprice, 0.5) AS p50_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_dq_outliers", outliers,
      """WITH m AS (
           SELECT o_orderpriority, count(1) AS n,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_x,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_x2
           FROM orders GROUP BY o_orderpriority),
         st AS (
           SELECT o_orderpriority, sum_x / n AS mean,
             sqrt((sum_x2 - sum_x * sum_x / n) / n) AS std
           FROM m)
         SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price,
           (CAST(o_totalprice AS DOUBLE) - mean) / std AS z
         FROM orders JOIN st USING (o_orderpriority)
         WHERE abs((CAST(o_totalprice AS DOUBLE) - mean) / std) >= 1.6
         ORDER BY o_orderkey"""),
    Query("q_agg_variance", variance,
      """WITH m AS (
           SELECT o_orderpriority, count(1) AS n,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_x,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_x2
           FROM orders GROUP BY o_orderpriority)
         SELECT o_orderpriority, n, sum_x / n AS mean,
           (sum_x2 - sum_x * sum_x / n) / n AS var_pop
         FROM m ORDER BY o_orderpriority"""),
    Query("q_window_range", windowRange,
      """SELECT o_orderkey, o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS trailing_30d
         FROM orders ORDER BY o_orderkey"""),
    Query("q_approx_distinct", approxDistinct,
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
           count(1) AS n, true AS approx_ok
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("q_hll_exact", hllExact, hllExactOracle),
    Query("q_percentiles_approx", percentilesApprox,
      """SELECT l_returnflag, count(1) AS n, true AS approx_ok
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // full integer replay of the refinement: envelope + rank target,
    // two bucket rounds with rebased bounds/targets, final per-value
    // cumulative pick — the exact median, no sort in either engine
    Query("q_quantile_exact", quantileExact,
      """WITH vals AS (
           SELECT l_returnflag AS g,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         s0 AS (
           SELECT g, min(v) AS lo, max(v) AS hi,
             CAST((count(1) * 1 + 1) // 2 AS BIGINT) AS target
           FROM vals GROUP BY g),
         c1 AS (
           SELECT v.g, s.lo, s.hi, s.hi - s.lo + 1 AS rng, s.target,
             ((v.v - s.lo) * 256) // (s.hi - s.lo + 1) AS bucket,
             CAST(count(1) AS BIGINT) AS cnt
           FROM vals v JOIN s0 s USING (g)
           WHERE v.v BETWEEN s.lo AND s.hi
           GROUP BY 1, 2, 3, 4, 5, 6),
         u1 AS (
           SELECT *, CAST(sum(cnt) OVER (
             PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum FROM c1),
         s1 AS (
           SELECT g,
             lo + (bucket * rng + 255) // 256 AS lo,
             LEAST(hi, lo + ((bucket + 1) * rng + 255) // 256 - 1) AS hi,
             target - (cum - cnt) AS target
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY g ORDER BY bucket) AS rn
                 FROM u1 WHERE cum >= target)
           WHERE rn = 1),
         c2 AS (
           SELECT v.g, s.lo, s.hi, s.hi - s.lo + 1 AS rng, s.target,
             ((v.v - s.lo) * 256) // (s.hi - s.lo + 1) AS bucket,
             CAST(count(1) AS BIGINT) AS cnt
           FROM vals v JOIN s1 s USING (g)
           WHERE v.v BETWEEN s.lo AND s.hi
           GROUP BY 1, 2, 3, 4, 5, 6),
         u2 AS (
           SELECT *, CAST(sum(cnt) OVER (
             PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum FROM c2),
         s2 AS (
           SELECT g,
             lo + (bucket * rng + 255) // 256 AS lo,
             LEAST(hi, lo + ((bucket + 1) * rng + 255) // 256 - 1) AS hi,
             target - (cum - cnt) AS target
           FROM (SELECT *, row_number() OVER (
                   PARTITION BY g ORDER BY bucket) AS rn
                 FROM u2 WHERE cum >= target)
           WHERE rn = 1),
         fin AS (
           SELECT v.g, s.target, v.v, CAST(count(1) AS BIGINT) AS cnt
           FROM vals v JOIN s2 s USING (g)
           WHERE v.v BETWEEN s.lo AND s.hi
           GROUP BY 1, 2, 3),
         fc AS (
           SELECT *, CAST(sum(cnt) OVER (
             PARTITION BY g ORDER BY v) AS BIGINT) AS cum FROM fin)
         SELECT g AS l_returnflag, v AS quantile
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY g ORDER BY v) AS rn
               FROM fc WHERE cum >= target)
         WHERE rn = 1
         ORDER BY l_returnflag"""),
    // full integer replay of ops.Quantiles.histogramQuantiles: same
    // envelope, same floor-division bucketing ( // ≡ Spark's div on
    // non-negative BIGINT), same ceil-rank targets, same clamped
    // upper-edge estimates — every output column value-matched
    Query("q_quantile_histogram", quantileHistogram,
      """WITH vals AS (
           SELECT l_returnflag AS g,
             CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         st AS (
           SELECT g, min(v) AS vmin, max(v) AS vmax,
             CAST(count(1) AS BIGINT) AS n
           FROM vals GROUP BY g),
         b AS (
           SELECT g, n, vmin, vmax, vmax - vmin + 1 AS rng,
             ((v - vmin) * 256) // (vmax - vmin + 1) AS bucket,
             CAST(count(1) AS BIGINT) AS cnt
           FROM vals JOIN st USING (g)
           GROUP BY g, n, vmin, vmax, rng, bucket),
         c AS (
           SELECT g, n, vmin, vmax, rng, bucket,
             CAST(sum(cnt) OVER (
               PARTITION BY g ORDER BY bucket) AS BIGINT) AS cum
           FROM b),
         p AS (
           SELECT g, n, vmin, vmax, rng,
             min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN bucket END) AS p50_bucket,
             min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN bucket END) AS p90_bucket,
             min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bucket END) AS p99_bucket
           FROM c GROUP BY g, n, vmin, vmax, rng)
         SELECT g AS l_returnflag, n, vmin, vmax,
           p50_bucket, p90_bucket, p99_bucket,
           least(vmax, vmin + ((p50_bucket + 1) * rng + 255) // 256 - 1) AS p50_est,
           least(vmax, vmin + ((p90_bucket + 1) * rng + 255) // 256 - 1) AS p90_est,
           least(vmax, vmin + ((p99_bucket + 1) * rng + 255) // 256 - 1) AS p99_est,
           rng // 256 + 1 AS err_bound
         FROM p ORDER BY l_returnflag"""),
    // gaps-and-islands replay: same null-safe change test, same
    // running-sum version ids, same per-island min / lead windows.
    // q_scd2_apply shares the SAME oracle text: the incremental fold
    // must equal the from-scratch rebuild row-for-row.
    Query("q_scd2_history", scd2History, scd2HistorySql),
    Query("q_scd2_apply", scd2ApplyQ, scd2HistorySql),
    Query("q_scd2_asof", scd2AsOf, scd2AsofSql("1997-06-01")),
    // zone-map routing must be value-invisible vs the plain filter —
    // one-shot AND across the incremental batch seam
    Query("q_zonemap_scan", zonemapScan, zonemapSql),
    Query("q_zonemap_incremental", zonemapIncremental, zonemapSql),
    Query("q_zonemap_count", zonemapCount,
      """SELECT count(1) AS cnt FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-04-01'
           AND l_shipdate <= TIMESTAMP '1996-09-30'"""),
    // the Luhn fold re-derived digit-by-digit in SQL
    Query("q_pii_luhn", piiLuhn,
      """WITH c AS (
           SELECT o_orderkey,
             lpad(CAST(o_orderkey * 7919 % 1000000000000000 AS VARCHAR),
               15, '0') AS digits
           FROM orders WHERE o_orderkey <= 800),
         r AS (SELECT o_orderkey, digits, reverse(digits) AS rd FROM c),
         t AS (
           SELECT o_orderkey, digits,
             list_sum([CASE WHEN (i - 1) % 2 = 1
                            THEN CASE WHEN 2 * CAST(rd[i] AS INT) > 9
                                      THEN 2 * CAST(rd[i] AS INT) - 9
                                      ELSE 2 * CAST(rd[i] AS INT) END
                            ELSE CAST(rd[i] AS INT) END
                       FOR i IN range(1, len(rd) + 1)]) AS total
           FROM r)
         SELECT o_orderkey, digits, total % 10 = 0 AS luhn_ok
         FROM t ORDER BY o_orderkey"""),
    Query("q_zorder_scan", zorderScan,
      """SELECT l_returnflag, count(1) AS cnt,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
         FROM lineitem
         WHERE l_partkey >= 1
           AND l_partkey <= (SELECT max(l_partkey) // 10 FROM lineitem)
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    Query("q_scd2_stream_parity", scd2StreamParity, scd2HistorySql, gate = true),
    // the epoch-folded algebraic state must equal the one-shot
    // aggregate: exact decimal sums make the fold order-free
    // gate: partial writes + compaction / bucketed table builds dominate
    Query("q_matview_incremental", matviewIncremental,
      """SELECT o_orderpriority AS k, count(1) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS total,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / count(1) AS mean,
           CAST(CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS mn,
           CAST(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS mx
         FROM orders GROUP BY 1 ORDER BY k""", gate = true),
    // gap-free spine replay: same monthly partial agg, same envelope,
    // same generate_series grid, zero-fills, and exact-decimal moving
    // sum — values identical down to the row-count window frame
    Query("q_timeseries_gapfill", timeseriesGapfill,
      """WITH monthly AS (
           SELECT o_orderpriority AS k,
             date_trunc('month', o_orderdate) AS month,
             count(1) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS total_d
           FROM orders GROUP BY 1, 2),
         env AS (
           SELECT date_trunc('month', min(o_orderdate)) AS lo,
                  date_trunc('month', max(o_orderdate)) AS hi
           FROM orders),
         spine AS (
           SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS month
           FROM (SELECT DISTINCT k FROM monthly) CROSS JOIN env),
         filled AS (
           SELECT s.k, s.month,
             CAST(coalesce(m.n, 0) AS BIGINT) AS n,
             coalesce(m.total_d, CAST(0 AS DECIMAL(18,2))) AS total_d
           FROM spine s LEFT JOIN monthly m
             ON m.k = s.k AND m.month = s.month)
         SELECT k AS priority, month, n,
           CAST(CAST(total_d AS VARCHAR) AS DOUBLE) AS total,
           CAST(CAST(CAST(sum(total_d) OVER (
               PARTITION BY k ORDER BY month
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             AS DECIMAL(20,2)) AS VARCHAR) AS DOUBLE) AS trailing_3m
         FROM filled ORDER BY priority, month"""),
    // both engines implement classic Levenshtein; the blocking, the
    // pair set, and every distance value-match
    Query("q_entity_pairs", entityPairs,
      """WITH cat AS (
           SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS entity_id
           FROM part GROUP BY 1),
         blocked AS (
           SELECT name, entity_id,
             regexp_extract(lower(name), '[a-z]+$') AS block
           FROM cat
           WHERE regexp_extract(lower(name), '[a-z]+$') <> '')
         SELECT a.name AS name_a, b.name AS name_b,
           a.entity_id AS id_a, b.entity_id AS id_b,
           CAST(levenshtein(a.name, b.name) AS INT) AS dist
         FROM blocked a JOIN blocked b
           ON a.block = b.block AND a.entity_id < b.entity_id
         WHERE levenshtein(a.name, b.name) <= 3
         ORDER BY id_a, id_b"""),
    Query("q_entity_resolution", entityResolution,
      """WITH RECURSIVE cat AS (
           SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS entity_id,
             count(1) AS members
           FROM part GROUP BY 1),
         blocked AS (
           SELECT name, entity_id, members,
             regexp_extract(lower(name), '[a-z]+$') AS block
           FROM cat
           WHERE regexp_extract(lower(name), '[a-z]+$') <> ''),
         pairs AS (
           SELECT a.entity_id AS id_a, b.entity_id AS id_b
           FROM blocked a JOIN blocked b
             ON a.block = b.block AND a.entity_id < b.entity_id
           WHERE levenshtein(a.name, b.name) <= 3),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION SELECT id_b AS src, id_a AS dst FROM pairs),
         walk(id, r) AS (
           SELECT src, src FROM edges
           UNION
           SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.r),
         comp AS (SELECT id, min(r) AS canonical FROM walk GROUP BY id)
         SELECT c.name, c.entity_id,
           coalesce(m.canonical, c.entity_id) AS canonical_id,
           coalesce(m.canonical, c.entity_id) = c.entity_id AS is_canonical,
           c.members
         FROM cat c LEFT JOIN comp m ON m.id = c.entity_id
         ORDER BY c.entity_id"""),
    Query("q_dim_upsert", dimUpsert,
      """WITH c AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         u AS (
           SELECT c_custkey, upper(c_name) AS c_name,
             'UPDATED' AS c_mktsegment
           FROM c WHERE c_custkey % 2 = 0
           UNION ALL
           SELECT c_custkey + 10000000, c_name, 'NEW'
           FROM c WHERE c_custkey % 7 = 0)
         SELECT * FROM (
           SELECT e.c_custkey, e.c_name, e.c_mktsegment FROM c e
           WHERE NOT EXISTS (
             SELECT 1 FROM u WHERE u.c_custkey = e.c_custkey)
           UNION ALL SELECT c_custkey, c_name, c_mktsegment FROM u)
         ORDER BY c_custkey"""),
    // the bucketed twin adds the plan census to the hash: the values
    // must equal the plain merge AND the exchange count must be zero
    // gate: partial writes + compaction / bucketed table builds dominate
    Query("q_scd2_upsert_bucketed", scd2UpsertBucketed,
      """WITH c AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         u AS (
           SELECT c_custkey, upper(c_name) AS c_name,
             'UPDATED' AS c_mktsegment
           FROM c WHERE c_custkey % 2 = 0
           UNION ALL
           SELECT c_custkey + 10000000, c_name, 'NEW'
           FROM c WHERE c_custkey % 7 = 0)
         SELECT *, CAST(0 AS BIGINT) AS scd_upsert_exchanges FROM (
           SELECT e.c_custkey, e.c_name, e.c_mktsegment FROM c e
           WHERE NOT EXISTS (
             SELECT 1 FROM u WHERE u.c_custkey = e.c_custkey)
           UNION ALL SELECT c_custkey, c_name, c_mktsegment FROM u)
         ORDER BY c_custkey""", gate = true),
    Query("q_snapshot_diff", snapshotDiffQ,
      """WITH c AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         a AS (
           SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment
           FROM c WHERE c_custkey % 11 <> 0
           UNION ALL
           SELECT c_custkey + 10000000, c_name, 'FRESH'
           FROM c WHERE c_custkey % 13 = 0)
         SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
           CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN a.c_custkey IS NULL THEN 'delete'
                WHEN b.c_name IS DISTINCT FROM a.c_name
                  OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
                  THEN 'update' END AS change,
           b.c_mktsegment AS seg_before, a.c_mktsegment AS seg_after
         FROM c b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey
         WHERE CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN a.c_custkey IS NULL THEN 'delete'
                WHEN b.c_name IS DISTINCT FROM a.c_name
                  OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
                  THEN 'update' END IS NOT NULL
         ORDER BY c_custkey"""),
    // gate: partial writes + compaction / bucketed table builds dominate
    Query("q_snapshot_diff_bucketed", snapshotDiffBucketed,
      """WITH c AS (
           SELECT c_custkey, c_name, c_mktsegment FROM customer),
         a AS (
           SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
                  ELSE c_mktsegment END AS c_mktsegment
           FROM c WHERE c_custkey % 11 <> 0
           UNION ALL
           SELECT c_custkey + 10000000, c_name, 'FRESH'
           FROM c WHERE c_custkey % 13 = 0)
         SELECT coalesce(b.c_custkey, a.c_custkey) AS c_custkey,
           CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN a.c_custkey IS NULL THEN 'delete'
                WHEN b.c_name IS DISTINCT FROM a.c_name
                  OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
                  THEN 'update' END AS change,
           b.c_mktsegment AS seg_before, a.c_mktsegment AS seg_after,
           CAST(0 AS BIGINT) AS scd_diff_exchanges
         FROM c b FULL OUTER JOIN a ON b.c_custkey = a.c_custkey
         WHERE CASE WHEN b.c_custkey IS NULL THEN 'insert'
                WHEN a.c_custkey IS NULL THEN 'delete'
                WHEN b.c_name IS DISTINCT FROM a.c_name
                  OR b.c_mktsegment IS DISTINCT FROM a.c_mktsegment
                  THEN 'update' END IS NOT NULL
         ORDER BY c_custkey""", gate = true),
    Query("q_pivot", pivot,
      """SELECT CAST(user_id % 10 AS INT) AS bucket,
           count(1) FILTER (WHERE event_type = 'click') AS click,
           count(1) FILTER (WHERE event_type = 'error') AS error,
           count(1) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(1) FILTER (WHERE event_type = 'signup') AS signup,
           count(1) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY 1"""),
    // exact UNION ALL replay of the melt: values are unmodified doubles
    Query("q_unpivot", unpivotQ,
      """SELECT c_custkey, metric, value FROM (
           SELECT c_custkey, 'acctbal' AS metric,
             CAST(c_acctbal AS DOUBLE) AS value FROM customer
           UNION ALL
           SELECT c_custkey, 'nationkey',
             CAST(c_nationkey AS DOUBLE) FROM customer)
         ORDER BY c_custkey, metric""")
  )
}
