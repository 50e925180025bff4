package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Materialize
import graft.sources.Tables
import graft.operators.{AsOfJoin, Bucketing}

/**
 * R-series declared queries (SURVEY.md §2.4): the relational/batch
 * surface the reference lacks entirely (§2.2 — no joins, no SQL, no
 * sorts, no set ops). All Catalyst built-ins; the interesting work is
 * scale shape: dimension tables broadcast, aggregates partial-agg before
 * the shuffle, exact decimal arithmetic so sums are order-independent
 * and hash-stable against the oracle.
 */
object RelationalQueries {

  /** l_extendedprice * (1 - l_discount) in exact decimal — double SUM
    * order-sensitivity would straddle the driver's 6-dp rounding at
    * 60k+ rows. */
  private val revenueExpr =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** The r18 managed-table names for one sf dir. */
  def bucketedTableNames(d: String): (String, String) = {
    val tag = d.replaceAll("[^A-Za-z0-9]+", "_")
    (s"graft_lineitem_b$tag", s"graft_orders_b$tag")
  }

  /** One-time bucketed-table prep for r18 (CTAS of lineitem/orders,
    * bucketed+sorted on the join key). Idempotent per (session, dir).
    * Bench calls this during warmup so the CTAS never lands inside a
    * timed rep; the r18 query body calls it too so the query stays
    * self-contained. */
  def ensureBucketedTables(s: SparkSession, d: String): Unit = {
    val (li, ord) = bucketedTableNames(d)
    if (!s.catalog.tableExists(li))
      Bucketing.writeBucketed(Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity"), li, "l_orderkey", 8)
    if (!s.catalog.tableExists(ord))
      Bucketing.writeBucketed(Tables.orders(s, d)
        .select("o_orderkey", "o_custkey"), ord, "o_orderkey", 8)
  }

  /** Drop r18's managed tables and their warehouse files — Verify runs
    * this after its dump so a correctness pass leaves no `graft_*_b…`
    * litter in `spark-warehouse`. */
  def dropBucketedTables(s: SparkSession, d: String): Unit = {
    val (li, ord) = bucketedTableNames(d)
    Bucketing.dropTable(s, li)
    Bucketing.dropTable(s, ord)
  }

  val defs: Map[String, QueryDef] = Map(

    // R1 — multi-way join + agg: revenue per nation. nation (25 rows) is
    // broadcast explicitly; customer⋈orders⋈lineitem are shuffle hash
    // joins on their keys (AQE picks broadcast when a side is small).
    // Lineitem revenue is eagerly pre-aggregated by order key BEFORE the
    // join chain (Catalyst has no eager-aggregation rule to do it
    // itself): the decimal sum is exact and associative, so results are
    // bit-identical, and the join carries one row per order instead of
    // every line item — at 100 TB that is the difference between
    // shuffling the fact table and shuffling ~1/4 of it.
    "r1_join_agg" -> QueryDef(
      (s, d) => {
        val orderRev = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(revenueExpr).as("__rev"))
        Tables.customer(s, d)
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
          .join(orderRev, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"))
          .agg(sum(col("__rev")).cast("double").as("revenue"))
          .orderBy("n_name")
      },
      Some("SELECT n_name, CAST(SUM(" + revenueSql + ") AS DOUBLE) AS revenue " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN orders ON o_custkey = c_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "GROUP BY n_name ORDER BY n_name")),

    // R2 — TPC-H Q1-style scan-heavy sort-agg with pushed-down filter.
    "r2_pricing_summary" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(revenueExpr).cast("double").as("sum_disc_price"),
          (sum(col("l_discount").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(" + revenueSql + ") AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    // R3 — ranking window function: top-3 orders per customer.
    "r3_window_topk" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) " +
        "WHERE rn <= 3 ORDER BY o_custkey, rn")),

    // R4 — anti join: customers with no big (>400k) order — the exact
    // complement of R6's semi join, so together they partition `customer`.
    // (A plain no-orders anti join is empty in this synthetic data: every
    // customer has orders, which would make the check vacuous.)
    "r4_anti_join" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000) " +
        "ORDER BY c_custkey")),

    // R5 — set op + distinct: suppliers that both appear in lineitem and
    // have positive balance.
    "r5_intersect" -> QueryDef(
      (s, d) => Tables.lineitem(s, d).select(col("l_suppkey").as("suppkey"))
        .intersect(Tables.supplier(s, d).filter(col("s_acctbal") > 0)
          .select(col("s_suppkey").as("suppkey")))
        .orderBy("suppkey"),
      Some("SELECT l_suppkey AS suppkey FROM lineitem INTERSECT " +
        "SELECT s_suppkey AS suppkey FROM supplier WHERE s_acctbal > 0 " +
        "ORDER BY suppkey")),

    // R6 — semi join: customers with at least one big order.
    "r6_semi_join" -> QueryDef(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000) " +
        "ORDER BY c_custkey")),

    // R7 — rollup (grouping sets): subtotal rows labelled 'ALL'.
    "r7_rollup" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag, " +
        "COALESCE(l_linestatus, 'ALL') AS l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem " +
        "GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag, l_linestatus")),

    // R8 — as-of join (custom operator, graft.operators.AsOfJoin): each
    // purchase paired with the user's most recent click at-or-before it.
    "r8_asof_join" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d)
        AsOfJoin.lastValueAsOf(
            e.filter(col("event_type") === "purchase"),
            e.filter(col("event_type") === "click"),
            "user_id", "ts", "event_id")
          .select(col("left_id").as("purchase_id"), col("right_id").as("click_id"))
          .orderBy("purchase_id")
      },
      Some("WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT p.event_id AS purchase_id, c.event_id AS click_id, " +
        "ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rn " +
        "FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts) " +
        "SELECT purchase_id, click_id FROM j WHERE rn = 1 ORDER BY purchase_id")),

    // R9 — range join: event pairs of the same user within a 5-minute
    // follow window, via the time-bucketed operator
    // (graft.operators.RangeJoin — equi-join on (user_id, bucket),
    // candidates bounded by events-per-5-minutes; cross-checked against
    // the naive form on random input in RangeJoinPropSpec).
    "r9_range_join" -> QueryDef(
      (s, d) => {
        val e = Tables.events(s, d)
        graft.operators.RangeJoin.follows(e, e, "user_id", "ts", "event_id", 300000000L)
          .select("a_id", "b_id").orderBy("a_id", "b_id")
      },
      Some("SELECT a.event_id AS a_id, b.event_id AS b_id FROM events a " +
        "JOIN events b ON a.user_id = b.user_id AND b.ts > a.ts " +
        "AND b.ts <= a.ts + INTERVAL 5 MINUTE ORDER BY a_id, b_id")),

    // R13 — time-range window frame: each event's trailing 1-hour sum of
    // `value` within its user. RANGE frames are evaluated in one pass
    // over the per-key sort (no self-join, no explode) — the window
    // analogue of the r9 range join.
    "r13_rolling_window" -> QueryDef(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").cast("long"))
          .rangeBetween(-3600, 0)
        Tables.events(s, d)
          .select(col("event_id"),
            sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("rolling_sum"))
          .orderBy("event_id")
      },
      Some("SELECT event_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (" +
        "PARTITION BY user_id ORDER BY date_trunc('second', ts) " +
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_sum " +
        "FROM events ORDER BY event_id")),

    // R10 — TPC-H Q3-style shipping priority: join + selective filters +
    // agg + deterministic top-10.
    "r10_ship_priority" -> QueryDef(
      (s, d) => Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(revenueExpr).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10),
      Some("SELECT l_orderkey, o_orderdate, CAST(SUM(" + revenueSql + ") AS DOUBLE) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00' " +
        "GROUP BY l_orderkey, o_orderdate " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 10")),

    // R11 — scalar subquery: parts priced above the average retail price.
    "r11_scalar_subquery" -> QueryDef(
      (s, d) => {
        val parts = Tables.part(s, d)
        val avgPrice = parts.agg(
          (sum(col("p_retailprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
            .as("a"))
        parts.join(broadcast(avgPrice))
          .filter(col("p_retailprice") > col("a"))
          .select("p_partkey", "p_retailprice").orderBy("p_partkey")
      },
      Some("SELECT p_partkey, p_retailprice FROM part WHERE p_retailprice > " +
        "(SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM part) " +
        "ORDER BY p_partkey")),

    // R14 — CUBE: all four grouping sets of (status, priority) in one
    // pass (Expand + one partial-aggregating shuffle — Spark evaluates
    // the whole lattice without rescanning the input).
    "r14_cube" -> QueryDef(
      (s, d) => Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
          col("sum_price"), col("n"))
        .orderBy("o_orderstatus", "o_orderpriority"),
      Some("SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus, " +
        "COALESCE(o_orderpriority, 'ALL') AS o_orderpriority, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, " +
        "COUNT(*) AS n FROM orders " +
        "GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus, o_orderpriority")),

    // R12 — EXCEPT: suppliers not involved in the earliest orders.
    // (Unfiltered EXCEPT against lineitem is empty in this synthetic
    // data — every supplier ships something — which would be vacuous.)
    "r12_except" -> QueryDef(
      (s, d) => Tables.supplier(s, d).select(col("s_suppkey").as("suppkey"))
        .except(Tables.lineitem(s, d).filter(col("l_orderkey") < 10)
          .select(col("l_suppkey").as("suppkey")))
        .orderBy("suppkey"),
      Some("SELECT s_suppkey AS suppkey FROM supplier EXCEPT " +
        "SELECT l_suppkey AS suppkey FROM lineitem WHERE l_orderkey < 10 " +
        "ORDER BY suppkey")),

    // R15 — GROUPING SETS with non-hierarchical sets ((flag), (status)):
    // a lattice neither ROLLUP (r7) nor CUBE (r14) expresses. One scan,
    // one Expand, one aggregation — the grouping lattice costs one extra
    // row per set per input row, never a rescan.
    "r15_grouping_sets" -> QueryDef(
      (s, d) => Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag, " +
        "COALESCE(l_linestatus, 'ALL') AS l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus)) " +
        "ORDER BY l_returnflag, l_linestatus")),

    // R16 — FULL OUTER join: daily order intake vs daily shipments —
    // days with orders but no shipments (and vice versa) survive with
    // zero-filled counts. Both sides pre-aggregate to one row per day
    // BEFORE the join, so the full-outer is between two tiny relations
    // regardless of fact-table size.
    "r16_full_outer" -> QueryDef(
      (s, d) => {
        val o = Tables.orders(s, d).groupBy(col("o_orderdate").as("d"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        val l = Tables.lineitem(s, d).groupBy(col("l_shipdate").as("d"))
          .agg(count(lit(1)).as("n_ship"))
        // full-outer can't broadcast; hint the hash variant so the two
        // tiny aggregated sides don't both pay a sort for a sort-merge
        o.join(l.hint("shuffle_hash"), Seq("d"), "full_outer")
          .select(col("d"), coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("sum_price"), lit(0.0)).as("sum_price"),
            coalesce(col("n_ship"), lit(0L)).as("n_ship"))
          .orderBy("d")
      },
      Some("WITH o AS (SELECT o_orderdate AS d, COUNT(*) AS n_orders, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price " +
        "FROM orders GROUP BY o_orderdate), " +
        "l AS (SELECT l_shipdate AS d, COUNT(*) AS n_ship FROM lineitem GROUP BY l_shipdate) " +
        "SELECT COALESCE(o.d, l.d) AS d, COALESCE(n_orders, 0) AS n_orders, " +
        "COALESCE(sum_price, 0.0) AS sum_price, COALESCE(n_ship, 0) AS n_ship " +
        "FROM o FULL JOIN l ON o.d = l.d ORDER BY d")),

    // R17 — distribution windows: customer spend quartiles within market
    // segment (NTILE + PERCENT_RANK). The window runs on the aggregated
    // per-customer relation (one row per customer), partitioned by
    // segment — never a single-partition global sort.
    // R18 — co-bucketed fact⋈fact join: lineitem and orders are written
    // ONCE per (session, sf dir) as bucketed + sorted managed tables on
    // the join key; every subsequent join on that key then plans with NO
    // exchange on either side — the sort-merge runs directly over
    // co-located, pre-sorted buckets (PlanSpec pins the shape). This is
    // the amortization that matters for a 100 TB fact table joining on
    // the same key across many queries: pay the shuffle once at ingest,
    // never again. Bucketing is physical layout only, so the result —
    // and the oracle, which runs on the raw parquet — is identical to
    // the plain join.
    "r18_bucketed_join" -> QueryDef(
      (s, d) => {
        // idempotent guard only — Bench pre-creates the tables in its
        // warmup phase so no timed rep ever pays the two CTAS writes,
        // and Verify drops them afterwards (dropBucketedTables)
        ensureBucketedTables(s, d)
        val (li, ord) = bucketedTableNames(d)
        s.table(li).join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
            count(lit(1)).as("n_items"))
          .select(col("o_custkey").as("custkey"), col("sum_qty"), col("n_items"))
          .orderBy("custkey")
      },
      Some("SELECT o_custkey AS custkey, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_custkey ORDER BY custkey")),

    // R19 — salted skew join: lineitem⋈part through SkewJoin's manual
    // 8-way salt (hot keys widen into 8 shuffle partitions, the small
    // side replicates 8×). Salting never changes row multiplicity, so
    // the oracle is the PLAIN join — that equivalence is the point of
    // declaring it. DECIMAL sums keep the aggregate shuffle-order-exact.
    "r19_salted_join" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_partkey").as("partkey"),
            col("l_quantity").cast("decimal(18,2)").as("__qty"))
        val pt = Tables.part(s, d)
          .select(col("p_partkey").as("partkey"), col("p_brand"))
        graft.operators.SkewJoin.saltedInnerJoin(li, pt, "partkey", 8)
          .groupBy(col("p_brand"))
          .agg(sum(col("__qty")).cast("double").as("sum_qty"),
            count(lit(1)).as("n_items"))
          .select(col("p_brand").as("brand"), col("sum_qty"), col("n_items"))
          .orderBy("brand")
      },
      Some("SELECT p_brand AS brand, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY brand")),

    // R20 — per-group Pearson correlation with EXACT sufficient
    // statistics: the built-in corr() folds doubles in shuffle order
    // (non-deterministic last bits), so instead quantity and price go to
    // integer units (quantity is integral, price is exact at 2dp —
    // data-verified), the five sufficient sums accumulate in
    // DECIMAL(38,0) (oracle: HUGEINT — both 128-bit-class exact, the
    // l47 discipline), and the closed form divides once at the end:
    // identical IEEE (sqrt, /) trees over identical integers ⇒
    // bit-equal across engines and shuffle orders. One partial agg is
    // the entire plan.
    "r20_correlation" -> QueryDef(
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("__x"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("__y"))
        def dsum(c: Column) = sum(c.cast("decimal(38,0)"))
        val agg = li.groupBy("flag").agg(
          count(lit(1)).as("__n"),
          dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
          dsum(col("__x") * col("__y")).as("__sxy"),
          dsum(col("__x") * col("__x")).as("__sxx"),
          dsum(col("__y") * col("__y")).as("__syy"))
        val n = col("__n").cast("decimal(38,0)")
        val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
        val denx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
        val deny = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
        agg.select(col("flag"), col("__n").as("n_rows"),
          round(num / (sqrt(denx) * sqrt(deny)), 6).as("corr_qty_price"))
          .orderBy("flag")
      },
      Some("WITH b AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS x, " +
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem), " +
        "a AS (SELECT flag, CAST(COUNT(*) AS HUGEINT) AS n, " +
        "CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy, " +
        "CAST(SUM(x*y) AS HUGEINT) AS sxy, CAST(SUM(x*x) AS HUGEINT) AS sxx, " +
        "CAST(SUM(y*y) AS HUGEINT) AS syy FROM b GROUP BY flag) " +
        "SELECT flag, CAST(n AS BIGINT) AS n_rows, " +
        "ROUND(CAST(n*sxy - sx*sy AS DOUBLE) / " +
        "(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) " +
        "AS corr_qty_price FROM a ORDER BY flag")),

    // NTILE and PERCENT_RANK partitioned by segment would single-task
    // each segment's full customer set (5 segments over 100 TB =
    // multi-100M-row sorts). Both are CLOSED FORMS of (rank, partition
    // count) when the ordering is tie-free (custkey breaks ties, so
    // RANK = ROW_NUMBER): percent_rank = (rk−1)/(c−1); ntile(4) puts the
    // first c%4 buckets at ⌊c/4⌋+1 rows. So: two-pass rank
    // (runningSumScalable, bucketed by -spend/1000 — monotone along
    // spend DESC), tiny per-segment counts broadcast back, arithmetic
    // per row. Bit-identical to the window form (integer-exact; the
    // double divisions are of exact small ints — see SCALE.md).
    "r17_spend_quartiles" -> QueryDef(
      (s, d) => {
        // spend feeds FIVE consumers (the ranked rows, both sides of
        // runningSumScalable's triangular offsets self-join, and the
        // per-segment counts): unmaterialized the plan replays the
        // orders agg + customer join per consumer — 16 parquet scans /
        // 32 exchanges in plans/r19/r17_..._before.txt (guide §3.3:
        // materialize an intermediate to truncate a plan that
        // multiplies a subtree)
        val spend = Materialize(Tables.orders(s, d).groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
          .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey")), "r17_spend_quartiles")
        val ranked = graft.operators.Windows.runningSumScalable(
          spend, Seq("c_mktsegment"),
          floor(-col("spend") / lit(1000.0)).cast("long"),
          Seq(col("spend").desc, col("o_custkey")), lit(1L), "__rk")
        val counts = spend.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("__c"))
        val base = floor(col("__c") / 4).cast("long")
        val rem = col("__c") % 4
        val quartile = when(col("__rk") <= rem * (base + 1),
            floor((col("__rk") - 1) / (base + 1)).cast("long") + 1)
          .otherwise(rem + floor((col("__rk") - rem * (base + 1) - 1) /
            greatest(base, lit(1L))).cast("long") + 1)
        ranked.join(broadcast(counts), Seq("c_mktsegment"))
          .select(col("c_mktsegment"), col("o_custkey").as("custkey"), col("spend"),
            quartile.cast("long").as("quartile"),
            round(when(col("__c") > 1,
                (col("__rk") - 1).cast("double") / (col("__c") - 1).cast("double"))
              .otherwise(lit(0.0)), 6).as("pct_rank"))
          .orderBy("c_mktsegment", "custkey")
      },
      Some("WITH spend AS (SELECT o_custkey, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend " +
        "FROM orders GROUP BY o_custkey) " +
        "SELECT c_mktsegment, o_custkey AS custkey, spend, " +
        "NTILE(4) OVER w AS quartile, ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank " +
        "FROM spend JOIN customer ON o_custkey = c_custkey " +
        "WINDOW w AS (PARTITION BY c_mktsegment ORDER BY spend DESC, o_custkey) " +
        "ORDER BY c_mktsegment, custkey")),

    // R21 — join pre-flight skew diagnostics (SkewJoin.keyStats): the 20
    // heaviest join keys with exact counts, ppm share, and skew ratio
    // ×1000 vs the mean key — the measurement that picks broadcast vs
    // salting (r19) vs AQE before committing a 100 TB shuffle. One
    // partial-agg count shuffle + a 1-row scalar broadcast +
    // TakeOrderedAndProject; DECIMAL(38,0) products, integer outputs.
    "r21_skew_stats" -> QueryDef(
      (s, d) => graft.operators.SkewJoin.keyStats(
          Tables.events(s, d), "user_id", 20)
        .orderBy(col("key_count").desc, col("user_id")),
      Some("WITH c AS (SELECT user_id, COUNT(*) AS key_count FROM events GROUP BY user_id), " +
        "t AS (SELECT SUM(key_count) AS total, COUNT(*) AS nkeys FROM c) " +
        "SELECT user_id, key_count, " +
        "CAST(CAST(key_count AS HUGEINT) * 1000000 // total AS BIGINT) AS share_ppm, " +
        "CAST(CAST(key_count AS HUGEINT) * nkeys * 1000 // total AS BIGINT) AS skew_x1000 " +
        "FROM c, t ORDER BY key_count DESC, user_id LIMIT 20")),

    // R22 — time-series gap fill + cumulative resample
    // (Windows.gapFillCumulative): per user, one row per hour from the
    // user's first to last event, zero-filled gaps, hourly count +
    // running cumulative — the dense step function a dashboard or
    // downstream as-of join samples; no SQL engine has a primitive for
    // it. Plan: one (user, hour) count agg → per-user spine via min/max
    // + arithmetic sequence explode (never a calendar cross join) →
    // hash join back → cumulative in the bucketed two-pass form chunked
    // by day, so no user's full history sorts in one task. All-integer
    // output; hour index = epoch-seconds div 3600, identical floor
    // arithmetic in both engines.
    "r22_gap_fill" -> QueryDef(
      (s, d) => graft.operators.Windows.gapFillCumulative(
          Tables.events(s, d), "user_id", "ts", 3600L)
        .orderBy("user_id", "bucket"),
      Some("WITH h AS (SELECT user_id, " +
        "CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket FROM events), " +
        "c AS (SELECT user_id, bucket, COUNT(*) AS n_events FROM h GROUP BY 1, 2), " +
        "b AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM c GROUP BY 1), " +
        "spine AS (SELECT user_id, UNNEST(generate_series(lo, hi)) AS bucket FROM b) " +
        "SELECT s.user_id, s.bucket, COALESCE(c.n_events, 0) AS n_events, " +
        "CAST(SUM(COALESCE(c.n_events, 0)) OVER (" +
        "PARTITION BY s.user_id ORDER BY s.bucket) AS BIGINT) AS cum_events " +
        "FROM spine s LEFT JOIN c ON c.user_id = s.user_id AND c.bucket = s.bucket " +
        "ORDER BY s.user_id, s.bucket")),

    // R23 — linear-interpolation resample (Windows.gapFillInterpolate),
    // r22's numeric twin: measured buckets carry their mean event value
    // (exact Σ floor(v·10⁶) integer sums, one rounded division — the
    // t22 determinism convention), gap buckets the straight line
    // between nearest measured neighbors. The neighbor search is the
    // chunked LOCF/NOCB form: (user, day-chunk)-partitioned windows +
    // a triangular chunk-carry join, so no user's full history sorts
    // in one task; the oracle's plain IGNORE NULLS windows certify the
    // chunked form's equivalence end-to-end. Same IEEE double
    // expression tree on both engines; the declared output projects
    // floor(v·10⁶ + 0.5) micro-units (the l49 integer-sufficient-
    // statistic pattern) because a 6-dp ROUND would sit on the
    // half-up-vs-half-even tie boundary — interpolating 6-dp-scale
    // values produces exact decimal midpoints (19 rows at sf0.01).
    "r23_interpolate" -> QueryDef(
      (s, d) => graft.operators.Windows.gapFillInterpolate(
          Tables.events(s, d), "user_id", "ts", "value", 3600L)
        .select(col("user_id"), col("bucket"), col("measured"),
          expr("CAST(floor(v_fill * 1000000 + 0.5) AS BIGINT)").as("v_fill_micro"))
        .orderBy("user_id", "bucket"),
      Some("WITH h AS (SELECT user_id, " +
        "CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket, " +
        "CAST(floor(value * 1000000) AS BIGINT) AS m FROM events), " +
        "mv AS (SELECT user_id, bucket, " +
        "CAST(SUM(m) AS DOUBLE) / COUNT(*) / 1000000.0 AS v " +
        "FROM h GROUP BY 1, 2), " +
        "b AS (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM mv GROUP BY 1), " +
        "spine AS (SELECT user_id, UNNEST(generate_series(lo, hi)) AS bucket FROM b), " +
        "j AS (SELECT s.user_id, s.bucket, mv.v FROM spine s " +
        "LEFT JOIN mv ON mv.user_id = s.user_id AND mv.bucket = s.bucket), " +
        "f AS (SELECT user_id, bucket, v, " +
        "LAST_VALUE(v IGNORE NULLS) OVER wp AS pv, " +
        "LAST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS pb, " +
        "FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv, " +
        "FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wn AS nb " +
        "FROM j WINDOW " +
        "wp AS (PARTITION BY user_id ORDER BY bucket " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wn AS (PARTITION BY user_id ORDER BY bucket " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, bucket, " +
        "CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS measured, " +
        "CAST(floor((CASE WHEN v IS NOT NULL THEN v ELSE " +
        "pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) " +
        "END) * 1000000 + 0.5) AS BIGINT) AS v_fill_micro " +
        "FROM f ORDER BY user_id, bucket")),

    // R24 — retention cohort matrix: users grouped by first-seen DAY,
    // retention = distinct active users per (cohort day, days-since)
    // offset — the product-analytics staple. Plan: per-(user, day)
    // distinct agg (map-side combined — THE scale shuffle), per-user
    // min-day derived from it (exchange-reused), one user-keyed hash
    // join back, then a #days²-bounded count agg. All-integer output;
    // day index = epoch-seconds div 86400, identical floor arithmetic
    // both engines.
    "r24_retention" -> QueryDef(
      (s, d) => {
        val uw = Tables.events(s, d)
          .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"))
          .distinct()
        val cohort = uw.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        uw.join(cohort.hint("shuffle_hash"), Seq("user_id"))
          .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      },
      Some("WITH uw AS (SELECT DISTINCT user_id, " +
        "CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events), " +
        "c AS (SELECT user_id, MIN(day) AS cohort_day FROM uw GROUP BY 1) " +
        "SELECT c.cohort_day, uw.day - c.cohort_day AS day_offset, " +
        "COUNT(*) AS n_users FROM uw JOIN c ON uw.user_id = c.user_id " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // R25 — corpus snapshot diff (CorpusStats.snapshotDiff), the
    // dataset-versioning primitive: old snapshot constructed from the
    // corpus on BOTH engine sides (the fixture pattern — drop id%7==0
    // → those read as `added`; mutate text of id%5==0 → `changed`; add
    // shifted ids for id%11==0 → `removed`; rest `unchanged`), one
    // full-outer hash join on the id comparing md5 content hashes —
    // text never crosses the shuffle.
    "r25_snapshot_diff" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 5 === 0, concat(col("text"), lit("!")))
              .otherwise(col("text")).as("text"))
          .unionAll(docs.filter(col("doc_id") % 11 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        graft.operators.CorpusStats.snapshotDiff(oldSnap, docs, "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("WITH o AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || '!' " +
        "ELSE text END AS text FROM documents WHERE doc_id % 7 <> 0 " +
        "UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents " +
        "WHERE doc_id % 11 = 0), " +
        "o2 AS (SELECT doc_id, md5(text) AS oh FROM o), " +
        "n2 AS (SELECT doc_id, md5(text) AS nh FROM documents) " +
        "SELECT COALESCE(o2.doc_id, n2.doc_id) AS doc_id, " +
        "CASE WHEN o2.doc_id IS NULL THEN 'added' " +
        "WHEN n2.doc_id IS NULL THEN 'removed' " +
        "WHEN oh <> nh THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM o2 FULL JOIN n2 ON o2.doc_id = n2.doc_id ORDER BY doc_id")),

    // R26 — bounded min-hop reachability (Graph.reachMinHops): the
    // `WITH RECURSIVE` capability relational engines ship and Spark
    // lacks, expressed as driver-bounded frontier BFS (one hash join +
    // distinct + anti-join per hop, lineage truncated per round).
    // Fixture graph: three deterministic edge families over doc_id
    // (step −1 chains broken every 4th node, step −10 skips, step −30
    // long hops), seeds every 60th id, 8 hops — a topology with
    // distances 0..8 AND unreachable nodes. The oracle is DuckDB's
    // native recursive CTE with MIN(dist) — two utterly different
    // evaluation strategies agreeing on the closure.
    "r26_graph_reach" -> QueryDef(
      (s, d) => {
        val ids = Tables.documents(s, d).select(col("doc_id").as("u"))
        val e1 = ids.filter(col("u") % 4 =!= 0 && col("u") >= 1)
          .select((col("u") - 1).as("src"), col("u").as("dst"))
        val e2 = ids.filter(col("u") % 7 < 2 && col("u") >= 10)
          .select((col("u") - 10).as("src"), col("u").as("dst"))
        val e3 = ids.filter(col("u") % 9 === 2 && col("u") >= 30)
          .select((col("u") - 30).as("src"), col("u").as("dst"))
        val seeds = ids.filter(col("u") % 60 === 0).select(col("u").as("node"))
        graft.operators.Graph.reachMinHops(
            e1.unionAll(e2).unionAll(e3), seeds, "src", "dst", "node", 8)
          .orderBy("node")
      },
      Some("WITH RECURSIVE edges AS (" +
        "SELECT doc_id - 1 AS src, doc_id AS dst FROM documents WHERE doc_id % 4 <> 0 AND doc_id >= 1 " +
        "UNION ALL SELECT doc_id - 10, doc_id FROM documents WHERE doc_id % 7 < 2 AND doc_id >= 10 " +
        "UNION ALL SELECT doc_id - 30, doc_id FROM documents WHERE doc_id % 9 = 2 AND doc_id >= 30), " +
        "reach(node, dist) AS (" +
        "SELECT doc_id AS node, 0 AS dist FROM documents WHERE doc_id % 60 = 0 " +
        "UNION SELECT e.dst, r.dist + 1 FROM reach r " +
        "JOIN edges e ON e.src = r.node WHERE r.dist < 8) " +
        "SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM reach " +
        "GROUP BY node ORDER BY node")),

    // R27 — one-pass table profiling (the warehouse data-quality
    // primitive: per column, row/null/exact-distinct counts and
    // min/max): the table unpivots ONCE via `stack` into (col_name,
    // numeric-or-string value) rows and a single grouped agg computes
    // every statistic — one scan + one shuffle of 11·N slim rows,
    // never 11 scans. Numerics profile as DOUBLE (BIGINT ids are
    // < 2^53, exact), strings as-is, the timestamp as its DATE string
    // (identical ISO text in both engines — raw timestamp formatting
    // is engine-specific). Exact distinct counts; the approximate
    // swap at extreme cardinality is approx_count_distinct /
    // hllShardSketches (l17's twin relationship).
    "r27_profile" -> QueryDef(
      (s, d) => {
        val num = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val str = Seq("l_returnflag", "l_linestatus")
        val parts =
          num.map(c => s"'$c', CAST($c AS DOUBLE), CAST(NULL AS STRING)") ++
          str.map(c => s"'$c', CAST(NULL AS DOUBLE), $c") ++
          Seq("'l_shipdate', CAST(NULL AS DOUBLE), CAST(CAST(l_shipdate AS DATE) AS STRING)")
        // two-level agg, NOT countDistinct: a multi-distinct agg plans
        // as Expand (row multiplication before the shuffle — measured
        // 24.9 s at sf0.1); grouping by (col, value) first lets the
        // map-side combiner collapse repeated values (a 3-value flag
        // column shrinks to 3 rows per partition) and the second agg
        // runs on |distinct values| rows
        Tables.lineitem(s, d)
          .selectExpr(s"stack(${parts.size}, ${parts.mkString(", ")}) AS (col_name, vnum, vstr)")
          .groupBy("col_name", "vnum", "vstr").agg(count(lit(1)).as("__c"))
          .groupBy("col_name")
          .agg(sum(col("__c")).as("n_rows"),
            sum(when(col("vnum").isNull && col("vstr").isNull, col("__c"))
              .otherwise(0L)).as("n_null"),
            sum(when(col("vnum").isNotNull || col("vstr").isNotNull, 1L)
              .otherwise(0L)).as("n_distinct"),
            min(col("vnum")).as("min_num"), max(col("vnum")).as("max_num"),
            min(col("vstr")).as("min_str"), max(col("vstr")).as("max_str"))
          .orderBy("col_name")
      },
      Some("WITH st AS (" +
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(c => s"SELECT '$c' AS col_name, CAST($c AS DOUBLE) AS vnum, " +
            "CAST(NULL AS VARCHAR) AS vstr FROM lineitem")
          .mkString("", " UNION ALL ", " UNION ALL ") +
        Seq("l_returnflag", "l_linestatus")
          .map(c => s"SELECT '$c', CAST(NULL AS DOUBLE), $c FROM lineitem")
          .mkString("", " UNION ALL ", " UNION ALL ") +
        "SELECT 'l_shipdate', CAST(NULL AS DOUBLE), " +
        "CAST(CAST(l_shipdate AS DATE) AS VARCHAR) FROM lineitem) " +
        "SELECT col_name, COUNT(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN vnum IS NULL AND vstr IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null, " +
        "CAST(COUNT(DISTINCT vnum) + COUNT(DISTINCT vstr) AS BIGINT) AS n_distinct, " +
        "MIN(vnum) AS min_num, MAX(vnum) AS max_num, " +
        "MIN(vstr) AS min_str, MAX(vstr) AS max_str " +
        "FROM st GROUP BY col_name ORDER BY col_name")),

    // R28 — CDC / MERGE application (Cdc.applyChanges): the next
    // snapshot from base + a change batch — upserts (every 7th doc
    // gets a '+v2' text), deletes (every 11th; delete wins on
    // overlap), and inserts (new 1000000+ ids for every 13th). The
    // lakehouse MERGE INTO from stock operators, r25 snapshotDiff's
    // inverse. One full-outer shuffle-hash join + CASE projection;
    // output profiled as (doc_id, md5(text)).
    "r28_cdc_merge" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val changes = docs.filter(col("doc_id") % 7 === 0 || col("doc_id") % 11 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 11 === 0, lit("D")).otherwise(lit("U")).as("op"),
            concat(col("text"), lit("+v2")).as("text"))
          .unionAll(docs.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), lit("I").as("op"),
              concat(lit("new "), col("text")).as("text")))
        graft.operators.Cdc.applyChanges(docs, changes, "doc_id", "op", Seq("text"))
          .select(col("doc_id"), md5(col("text")).as("h"))
          .orderBy("doc_id")
      },
      Some("WITH ch AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 'D' ELSE 'U' END AS op, " +
        "text || '+v2' AS text FROM documents WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 " +
        "UNION ALL SELECT doc_id + 1000000, 'I', 'new ' || text FROM documents " +
        "WHERE doc_id % 13 = 0), " +
        "m AS (SELECT COALESCE(b.doc_id, ch.doc_id) AS doc_id, " +
        "CASE WHEN ch.op IS NOT NULL THEN ch.text ELSE b.text END AS text, ch.op " +
        "FROM documents b FULL JOIN ch ON b.doc_id = ch.doc_id) " +
        "SELECT doc_id, md5(text) AS h FROM m WHERE op IS NULL OR op <> 'D' " +
        "ORDER BY doc_id"))
  )
}
