package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin

/** Relational capability queries (SURVEY.md §2.1: joins, aggregations,
  * windows, sorts, set ops — all absent from the reference, required of
  * the engine), each with a DuckDB oracle.
  *
  * Numeric policy: aggregates over double columns go through exact
  * DECIMAL arithmetic (cast inputs to a fixed DECIMAL(p,s), sum exactly)
  * and only the FINAL value is cast back to DOUBLE. The identical exact
  * value is produced regardless of partitioning/summation order, so the
  * engine result is bit-equal to the oracle by construction — and stays
  * deterministic on a 1000-executor cluster.
  *
  * Scale notes are per-query in the scaladoc.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(s, dir) else Tables.t(s, dir, name)

  private def dec(c: String, p: Int = 12, sc: Int = 2) =
    col(c).cast(s"decimal($p,$sc)")

  /** TPC-H Q1-shaped scan+aggregate: selective predicate (pushed to the
    * parquet reader), map-side partial aggregation, 6 groups. */
  def aggPricing(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount", 4, 2)))
          .cast("double").as("sum_disc_price"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount", 4, 2)) *
            (lit(1) + dec("l_tax", 4, 2)))
          .cast("double").as("sum_charge"),
        (sum(dec("l_quantity")).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q5-shaped composite STAR query — the multi-join optimizer
    * exercise the pairwise join queries don't cover: six tables, a
    * selective region filter and an order-date window, revenue per
    * nation with customer and supplier in the SAME nation. Catalyst
    * broadcasts the dimension chain (region 5 rows → nation 25 →
    * supplier) and AQE picks the fact⋈fact strategy; only the
    * order/line join shuffles at scale. Revenue is exact DECIMAL,
    * doubled at the edge (COVERAGE.md numeric rules), so the oracle
    * hash-matches bit-for-bit. */
  def starRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount", 4, 2)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10-shaped composite: top-20 customers by RETURNED revenue
    * in a quarter — the returns-analysis star (fact filter + 3 dims +
    * group-by + deterministic top-N via revenue/custkey tiebreak). */
  def starReturns(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount", 4, 2)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Selective scan: predicate + column pruning reach the parquet reader
    * (PushedFilters in the physical plan). */
  def filterPushdown(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R" && col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** COUNT(DISTINCT) — expands to a two-phase aggregate. */
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))

  /** ROLLUP — partial aggregates reused across grouping levels. */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(dec("l_quantity")).cast("double").as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** CUBE over two order dimensions. */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** GROUPING SETS via SQL (the DataFrame API has no direct form). */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("gs_orders")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority, count(1) AS n
      FROM gs_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """)
  }

  /** Shuffle hash/sort-merge join territory: orders ⋈ customer (both
    * large → shuffle on the key; AQE may still broadcast the smaller
    * side) then ⋈ nation (tiny → broadcast). */
  def joinHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec("o_totalprice")).cast("double").as("total"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))

  /** Explicit broadcast join of two tiny dims. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation")
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))

  /** BUCKETED co-located join (round-11; promotes the `LayoutSpec`
    * claim to a driver-gated oracle row): orders and customer are
    * written once as 8-bucket tables on the join key, then joined with
    * broadcast DISABLED — the only thing that can remove the join
    * exchanges is the bucket metadata. The gate asserts it structurally:
    * `bucket_join_exchanges` counts Exchange operators BELOW the join
    * in the executed plan (must be 0 — a plain shuffle join has 2) and
    * rides the result hash. This is the repeated-join lever at 100 TB:
    * the fact table pays its shuffle once at write time, then every
    * subsequent join on that key is exchange-free. */
  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    val slug = dir.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, ct) = (s"graft_bk_orders_$slug", s"graft_bk_customer_$slug")
    // build once per (session, sf): rebuilding per call would measure
    // the write, not the join (same memo contract as the ANN index)
    if (!s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)) {
      // a PREVIOUS process may have left the managed location behind
      // (in-memory catalog forgets the table, the warehouse dir does
      // not — saveAsTable refuses to adopt an existing location)
      val wh = s.conf.get("spark.sql.warehouse.dir")
      Seq(ot, ct).foreach { tb =>
        s.sql(s"DROP TABLE IF EXISTS $tb")
        graft.io.Fs.deleteRecursive(s, s"$wh/$tb")
      }
      graft.io.Layout.writeBucketed(
        t(s, dir, "orders").select(col("o_custkey"), dec("o_totalprice").as("price")),
        ot, "o_custkey", 8)
      graft.io.Layout.writeBucketed(
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        ct, "c_custkey", 8)
    }
    val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the merge hint rides the RETURNED plan too: the harness plans
      // and executes this DataFrame after the finally block restores
      // the broadcast threshold, and without the hint the small
      // customer table would broadcast there — making the executed
      // query a broadcast-hash join while the census below (taken
      // under threshold=-1) still reported the bucketed sort-merge
      // shape. With the hint, probe plan and executed plan agree.
      val joined = s.table(ot).hint("merge")
        .join(s.table(ct), col("o_custkey") === col("c_custkey"))
      // string census of the join's plan tree: robust under AQE, where
      // the adaptive wrapper hides children from TreeNode.collect
      val belowJoin = "(?m)^.*Exchange".r
        .findAllIn(joined.queryExecution.executedPlan.toString).size
      joined
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price")).cast("double").as("total"))
        .withColumn("bucket_join_exchanges", lit(belowJoin.toLong))
        .orderBy(col("c_mktsegment"))
    } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Left-semi (EXISTS): customers having at least one open order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(
        t(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Left-anti (NOT EXISTS): orders with no lineitems. */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(
        t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Theta/range join against a tiny literal band table — broadcast
    * nested-loop on a 3-row build side, so the big side streams. */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("low", 0d, 100000d),
      ("mid", 100000d, 300000d),
      ("high", 300000d, 600000d)
    ).toDF("band", "lo", "hi")
    t(s, dir, "orders")
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"),
        sum(dec("o_totalprice")).cast("double").as("total"))
      .orderBy(col("band"))
  }

  /** As-of join: each click event picks up the user's most recent
    * purchase at or before it. Union+window implementation — see
    * [[graft.operators.AsOfJoin]]. Oracle uses DuckDB's native ASOF. */
  def joinAsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    AsOfJoin.asOf(
        clicks, purchases,
        keyCols = Seq("user_id"),
        leftTime = "ts", rightTime = "ts",
        payload = Map("ts" -> "purchase_ts", "value" -> "purchase_value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_ts"), col("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of: the earliest purchase at or after each click. */
  def joinAsOfForward(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts",
        Map("ts" -> "purchase_ts", "value" -> "purchase_value"),
        direction = "forward")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_ts"), col("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** NEAREST as-of under a 24 h tolerance: the temporally closest
    * purchase either side of each click, ties backward, matches
    * farther than a day nulled — the complete merge_asof surface. */
  def joinAsOfNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    AsOfJoin.asOf(clicks, purchases, Seq("user_id"), "ts", "ts",
        Map("ts" -> "purchase_ts", "value" -> "purchase_value"),
        direction = "nearest", tolerance = Some(24L * 3600 * 1000000))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("purchase_ts"), col("purchase_value"))
      .orderBy(col("event_id"))
  }

  /** rank / lag / running-sum window functions per customer. */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_custkey"),
        rank().over(byPrice).as("rnk"),
        lag(col("o_orderkey"), 1).over(byDate).as("prev_key"),
        sum(dec("o_totalprice")).over(
            byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running"))
      .orderBy(col("o_orderkey"))
  }

  /** Distribution ranks: ntile / percent_rank / cume_dist (exact
    * integer-ratio outputs — deterministic doubles). */
  def windowRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(
        col("o_orderkey"), col("o_orderpriority"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("o_orderkey"))
  }

  /** Top-k per group via row_number ≤ k — the scalable top-k: partial
    * per-partition top-k under AQE, no global sort of the fact table. */
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Global ORDER BY + LIMIT — compiles to TakeOrderedAndProject:
    * per-partition top-50 then a driver merge, never a full sort. */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)
      .select(col("o_orderkey"), col("o_totalprice"))

  /** INTERSECT / EXCEPT / UNION ALL over event-actor sets. */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def actors(kind: String) =
      ev.filter(col("event_type") === kind).select(col("user_id")).distinct()
    val clickAndBuy = actors("click").intersect(actors("purchase"))
      .select(lit("click_and_buy").as("tag"), col("user_id"))
    val clickNoSignup = actors("click").except(actors("signup"))
      .select(lit("click_no_signup").as("tag"), col("user_id"))
    clickAndBuy.unionAll(clickNoSignup).orderBy(col("tag"), col("user_id"))
  }

  /** JSON extraction from the events `props` payload. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Date/time bucketing functions. */
  def dateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderdate")).as("first_ts"),
        max(col("o_orderdate")).as("last_ts"))
      .orderBy(col("yr"), col("mo"))

  /** EXACT GLOBAL RANK, distributed (round-14, [[graft.ops.GlobalRank]]):
    * the leaderboard / dense-global-id shape over the whole orders
    * table — value-identical to `row_number().over(Window.orderBy(...))`
    * but the plan is range-partition + partition-local rank + a
    * partition-count-sized offset census: no corpus-sized frame ever
    * meets a single task (PlanLintSpec enforces the shape). The order
    * is total (orderkey tie-break), so the rank is deterministic. */
  def rankGlobal(s: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalRank.withGlobalRowNumber(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "rnk", Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .orderBy(col("rnk"))

  /** Exact distributed ntile over the same total order — the engine's
    * curriculum-bucketing primitive gated on a plain relational
    * surface. */
  def rankGlobalNtile(s: SparkSession, dir: String): DataFrame =
    graft.ops.GlobalRank.withNtile(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        7, "tile", Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .orderBy(col("o_orderkey"))

  val queries: Seq[Query] = Seq(
    Query("q_rank_global", rankGlobal,
      """SELECT o_orderkey, o_totalprice,
           CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
             AS BIGINT) AS rnk
         FROM orders ORDER BY rnk"""),
    Query("q_rank_global_ntile", rankGlobalNtile,
      """SELECT o_orderkey, o_totalprice,
           CAST(ntile(7) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
             AS INT) AS tile
         FROM orders ORDER BY o_orderkey"""),
    Query("q_window_ranks", windowRanks,
      """SELECT o_orderkey, o_orderpriority,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
         ORDER BY o_orderkey"""),
    Query("q_star_revenue", starRevenue,
      """SELECT n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           count(1) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name"""),
    Query("q_star_returns", starReturns,
      """SELECT c_custkey, c_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           count(1) AS n_items
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY revenue DESC, c_custkey
         LIMIT 20"""),
    Query("q_agg_pricing", aggPricing,
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(1) AS avg_qty,
           count(1) AS cnt
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    Query("q_filter_pushdown", filterPushdown,
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_returnflag = 'R' AND l_quantity >= 45
         ORDER BY l_orderkey, l_linenumber"""),
    Query("q_agg_distinct", aggDistinct,
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(1) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    Query("q_agg_rollup", aggRollup,
      """SELECT l_returnflag, l_linestatus, count(1) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    Query("q_agg_cube", aggCube,
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
    Query("q_agg_grouping_sets", aggGroupingSets,
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""),
    Query("q_join_hash", joinHash,
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           count(1) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),
    Query("q_join_broadcast", joinBroadcast,
      """SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_nationkey"""),
    // result = the plain join (bucketing must not change semantics);
    // the 0 literal is the plan assertion — any Exchange below the
    // bucketed join flips the column and breaks the hash
    // gate: partial writes + compaction / bucketed table builds dominate
    Query("q_join_bucketed", joinBucketed,
      """SELECT c_mktsegment, count(1) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           CAST(0 AS BIGINT) AS bucket_join_exchanges
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""", gate = true),
    Query("q_join_semi", joinSemi,
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey"""),
    Query("q_join_anti", joinAnti,
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey"""),
    Query("q_join_range", joinRange,
      """WITH bands(band, lo, hi) AS (
           VALUES ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0),
                  ('high', 300000.0, 600000.0))
         SELECT band, count(1) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
         FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY band ORDER BY band"""),
    Query("q_join_asof", joinAsOf,
      """SELECT e.event_id, e.user_id, e.ts, p.ts AS purchase_ts, p.value AS purchase_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') e
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts >= p.ts
         ORDER BY e.event_id"""),
    // forward = DuckDB ASOF with the inequality flipped
    Query("q_join_asof_forward", joinAsOfForward,
      """SELECT e.event_id, e.user_id, e.ts, p.ts AS purchase_ts, p.value AS purchase_value
         FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') e
         ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
           ON e.user_id = p.user_id AND e.ts <= p.ts
         ORDER BY e.event_id"""),
    // nearest has no native ASOF form: per click, the minimum |Δ|
    // within 24 h, ties to the backward side (rt <= lt)
    Query("q_join_asof_nearest", joinAsOfNearest,
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
         r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
         cand AS (
           SELECT l.event_id, r.ts AS rts, r.value,
             abs(epoch_us(l.ts) - epoch_us(r.ts)) AS d,
             CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END AS side
           FROM l JOIN r USING (user_id)
           WHERE abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 86400000000),
         pick AS (
           SELECT event_id, rts, value,
             row_number() OVER (PARTITION BY event_id ORDER BY d, side) AS rn
           FROM cand)
         SELECT l.event_id, l.user_id, l.ts,
           p.rts AS purchase_ts, p.value AS purchase_value
         FROM l LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p USING (event_id)
         ORDER BY l.event_id"""),
    Query("q_window_funcs", windowFuncs,
      """SELECT o_orderkey, o_custkey,
           CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk,
           lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_key,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders ORDER BY o_orderkey"""),
    Query("q_topk_per_group", topkPerGroup,
      """SELECT o_orderpriority, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_orderpriority, rn"""),
    Query("q_sort_limit", sortLimit,
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 50"""),
    Query("q_set_ops", setOps,
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
            b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
            sg AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
         SELECT 'click_and_buy' AS tag, user_id FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM b)
         UNION ALL
         SELECT 'click_no_signup' AS tag, user_id FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM sg)
         ORDER BY tag, user_id"""),
    Query("q_json_extract", jsonExtract,
      """SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(1) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),
    Query("q_date_funcs", dateFuncs,
      """SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
           count(1) AS n, min(o_orderdate) AS first_ts, max(o_orderdate) AS last_ts
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2""")
  )
}
