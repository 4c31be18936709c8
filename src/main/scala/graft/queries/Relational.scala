package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Closure, Dedup, GlobalRank, Symmetrize, TopK}

/** Core relational query surface over the TPC-H tables (SURVEY.md
  * §2.11 items 1-4, 6-14): scans with pushdown, equi/broadcast/semi/
  * anti/outer/null-safe joins, subqueries, dedup windows,
  * symmetrize-union, transitive closure, rollup/cube/grouping sets,
  * top-k, running and ranked windows, string pipeline, explode, set
  * ops, sort/limit, sketches, interval sweeps, column profiling,
  * Z-order keys and EWMA smoothing.
  *
  * Every query ends in a full-key ORDER BY (determinism contract,
  * SURVEY.md §2.8 A3) and aliases every computed column identically to
  * its DuckDB oracle.
  */
object Relational {

  private val Alpha = 0.3       // q170 EWMA smoothing factor

  /** Shipment "busy interval" per lineitem: [ship day, ship day +
    * quantity days], integer epoch days — shared by q115/q116. The
    * synthetic end = start + quantity keeps everything integer-exact
    * across engines (l_quantity is an integral-valued double).
    */
  private def shipIntervals(s: org.apache.spark.sql.SparkSession, d: String) = {
    val st = datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
      .cast("long")
    Tables.load(s, d, "lineitem").select(
      col("l_suppkey").as("s"),
      st.as("st"),
      (st + col("l_quantity").cast("long")).as("en"),
      col("l_orderkey").as("ok"),
      col("l_linenumber").cast("long").as("ln"))
  }

  /** DuckDB CTE producing the same intervals. */
  private val IvCte =
    """iv AS (SELECT l_suppkey AS s,
                     CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS st,
                     CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                       + CAST(l_quantity AS BIGINT) AS en,
                     l_orderkey AS ok, CAST(l_linenumber AS BIGINT) AS ln
              FROM lineitem)"""

  /** Morton-interleave a 16-bit value into even bit positions — the
    * standard shift-or-mask ladder (DuckDB dialect; mirrors
    * `functions.ZOrder.spread16` bit for bit — the oracle match on
    * q123 pins the two formulations against each other).
    */
  private def spreadBitsSql(x: String): String = {
    val s0 = s"(($x) & 65535)"
    val s1 = s"((($s0) | (($s0) << 8)) & 16711935)"    // 0x00FF00FF
    val s2 = s"((($s1) | (($s1) << 4)) & 252645135)"   // 0x0F0F0F0F
    val s3 = s"((($s2) | (($s2) << 2)) & 858993459)"   // 0x33333333
    s"((($s3) | (($s3) << 1)) & 1431655765)"           // 0x55555555
  }

  /** Morton code of two 16-bit dims; `a` occupies even bits. */
  private def mortonSql(a: String, b: String): String =
    s"(${spreadBitsSql(a)} | (${spreadBitsSql(b)} << 1))"

  val queries: Map[String, Q] = Map(
    // ---- 1. filter + project with parquet pushdown (F*, P*) --------
    "q01_filter_project" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1995-06-01").cast("timestamp")
            && col("l_discount") > 0.05)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice")
          // the harness lineitem deliberately contains duplicated
          // (orderkey, linenumber) rows with different payloads —
          // order by every projected column so the positional
          // row-compare never depends on engine tie order
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice"),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00' AND l_discount > 0.05
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice"""),
      bench = true),

    // ---- 2. multi-way equi-join + aggregation ----------------------
    "q02_join_agg" -> Q(
      impl = (s, d) => {
        val orders = Tables.load(s, d, "orders")
        val customer = Tables.load(s, d, "customer")
        val nation = broadcast(Tables.load(s, d, "nation"))
        orders
          .join(customer, orders("o_custkey") === customer("c_custkey"))
          .join(nation, customer("c_nationkey") === nation("n_nationkey"))
          .groupBy("n_name")
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum("o_totalprice"), 2).as("sum_price"),
            round(avg("o_totalprice"), 2).as("avg_price"))
          .orderBy("n_name")
      },
      oracle = Some("""
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price,
               round(avg(o_totalprice), 2) AS avg_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name"""),
      bench = true),

    // ---- 3. broadcast dimension join -------------------------------
    "q03_broadcast_join" -> Q(
      impl = (s, d) => {
        val nation = Tables.load(s, d, "nation")
        val region = broadcast(Tables.load(s, d, "region"))
        nation.join(region, nation("n_regionkey") === region("r_regionkey"))
          .select("n_nationkey", "n_name", "r_name")
          .orderBy("n_nationkey")
      },
      oracle = Some("""
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY n_nationkey""")),

    // ---- 4/5. semi + anti joins (on a filtered right side so both
    // result sets are non-trivial: every customer has *some* order) --
    "q04_semi_join" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "customer")
          .join(Tables.load(s, d, "orders").filter(col("o_totalprice") > 300000),
            col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        ORDER BY c_custkey""")),

    "q05_anti_join" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "customer")
          .join(Tables.load(s, d, "orders").filter(col("o_totalprice") > 300000),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        ORDER BY c_custkey""")),

    // ---- 6. last-wins upsert dedup (D1) ----------------------------
    "q08_lastwins_upsert" -> Q(
      impl = (s, d) =>
        Dedup.lastWins(
            Tables.load(s, d, "orders"),
            keys = Seq("o_custkey"),
            ord = Seq(col("o_orderdate"), col("o_orderkey")),
            keep = Seq("o_custkey", "o_orderkey", "o_totalprice"))
          .orderBy("o_custkey"),
      oracle = Some("""
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders) WHERE rn = 1
        ORDER BY o_custkey""")),

    // ---- keep-first dedup (D3) -------------------------------------
    "q09_keepfirst_dedup" -> Q(
      impl = (s, d) =>
        Dedup.keepFirst(
            Tables.load(s, d, "lineitem"),
            keys = Seq("l_partkey"),
            ord = Seq(col("l_orderkey"), col("l_linenumber")),
            keep = Seq("l_partkey", "l_orderkey", "l_linenumber"))
          .orderBy("l_partkey"),
      oracle = Some("""
        SELECT l_partkey, l_orderkey, l_linenumber FROM (
          SELECT *, row_number() OVER (
            PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
          FROM lineitem) WHERE rn = 1
        ORDER BY l_partkey""")),

    // ---- 7. symmetrize-union + distinct (U1/U2) --------------------
    "q10_symmetrize_pairs" -> Q(
      impl = (s, d) => {
        val base = Tables.load(s, d, "supplier")
          .select(col("s_suppkey").cast("long").as("a"),
            (col("s_nationkey").cast("long") + 1000).as("b"))
        Symmetrize.symmetrize(base, Seq(("a", "b")))
          .distinct()
          .orderBy("a", "b")
      },
      oracle = Some("""
        WITH base AS (
          SELECT CAST(s_suppkey AS BIGINT) AS a,
                 CAST(s_nationkey AS BIGINT) + 1000 AS b
          FROM supplier)
        SELECT a, b FROM (
          SELECT a, b FROM base UNION SELECT b AS a, a AS b FROM base)
        ORDER BY a, b""")),

    // ---- 8. transitive closure to fixpoint (A1) --------------------
    "q11_closure" -> Q(
      impl = (s, d) => {
        Closure.transitiveClosure(edges(s, d), "parent", "child")
          .orderBy("ancestor", "descendant")
      },
      oracle = Some(s"""
        WITH RECURSIVE $edgesSql, clo AS (
          SELECT parent AS ancestor, child AS descendant FROM edges
          UNION
          SELECT c.ancestor, e.child FROM clo c JOIN edges e ON c.descendant = e.parent)
        SELECT ancestor, descendant FROM clo ORDER BY ancestor, descendant"""),
      bench = true),

    // ---- descendant counts over the closure (A2) -------------------
    "q12_closure_counts" -> Q(
      impl = (s, d) =>
        Closure.descendantCounts(Closure.transitiveClosure(edges(s, d), "parent", "child"))
          .orderBy("ancestor"),
      oracle = Some(s"""
        WITH RECURSIVE $edgesSql, clo AS (
          SELECT parent AS ancestor, child AS descendant FROM edges
          UNION
          SELECT c.ancestor, e.child FROM clo c JOIN edges e ON c.descendant = e.parent)
        SELECT ancestor, CAST(count(*) AS BIGINT) AS n_descendants
        FROM clo GROUP BY ancestor ORDER BY ancestor""")),

    // ---- 9. rollup aggregate ---------------------------------------
    "q13_rollup" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
      bench = true),

    // ---- 10. window ranking / top-k per group ----------------------
    "q14_topk_per_group" -> Q(
      impl = (s, d) =>
        TopK.perGroup(
            Tables.load(s, d, "orders"),
            groupCols = Seq("o_custkey"),
            order = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
            k = 3)
          .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rk"),
      oracle = Some("""
        SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders) WHERE rk <= 3
        ORDER BY o_custkey, rk"""),
      bench = true),

    // ---- 11. string-function pipeline (C*) -------------------------
    "q15_string_pipeline" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "part")
          .select(
            col("p_partkey"),
            regexp_replace(lower(col("p_type")), " +", "_").as("type_norm"),
            substring(col("p_brand"), 7, 10).as("brand_code"),
            array_join(array_sort(split(col("p_name"), " ")), ",").as("name_sorted"))
          .orderBy("p_partkey"),
      oracle = Some("""
        SELECT p_partkey,
               regexp_replace(lower(p_type), ' +', '_', 'g') AS type_norm,
               substr(p_brand, 7, 10) AS brand_code,
               array_to_string(list_sort(string_split(p_name, ' ')), ',') AS name_sorted
        FROM part ORDER BY p_partkey""")),

    // ---- 12. explode of split column (X*) --------------------------
    "q16_explode_tokens" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "part")
          .select(explode(split(col("p_name"), " ")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy("tok"),
      oracle = Some("""
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part)
        GROUP BY tok ORDER BY tok""")),

    // ---- 13. set ops ----------------------------------------------
    "q17_setops" -> Q(
      impl = (s, d) => {
        val cust = Tables.load(s, d, "customer").select(col("c_nationkey").as("k")).distinct()
        val supp = Tables.load(s, d, "supplier").select(col("s_nationkey").as("k")).distinct()
        val both = cust.intersect(supp).withColumn("tag", lit("both"))
        val custOnly = cust.except(supp).withColumn("tag", lit("cust_only"))
        both.unionByName(custOnly).select("tag", "k").orderBy("tag", "k")
      },
      oracle = Some("""
        WITH cust AS (SELECT DISTINCT c_nationkey AS k FROM customer),
             supp AS (SELECT DISTINCT s_nationkey AS k FROM supplier)
        SELECT 'both' AS tag, k FROM (SELECT k FROM cust INTERSECT SELECT k FROM supp)
        UNION ALL
        SELECT 'cust_only' AS tag, k FROM (SELECT k FROM cust EXCEPT SELECT k FROM supp)
        ORDER BY tag, k""")),

    // ---- 14. sort + limit determinism ------------------------------
    "q18_sort_limit" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
            col("l_linenumber").asc)
          .limit(100),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 100""")),

    // ---- datetime scalar functions ---------------------------------
    "q37_datetime" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "orders")
          .groupBy(
            year(col("o_orderdate")).as("y"),
            month(col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("total"))
          .orderBy("y", "m"),
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS INT) AS y,
               CAST(month(o_orderdate) AS INT) AS m,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY 1, 2 ORDER BY y, m""")),

    // ---- frame-based running window (exact integer running sum).
    // l_quantity is the last ORDER BY key because the harness data
    // contains duplicated (suppkey, shipdate, orderkey, linenumber)
    // rows with different quantities — without it the window order is
    // not total and each engine picks its own prefix-sum order for
    // the tied pair ---------------------------------------------------
    "q38_window_running" -> Q(
      impl = (s, d) => {
        val orderCols = Seq("l_shipdate", "l_orderkey", "l_linenumber",
          "l_quantity").map(col)
        val w = Window.partitionBy("l_suppkey")
          .orderBy(orderCols: _*)
          .rowsBetween(Window.unboundedPreceding, 0)
        Tables.load(s, d, "lineitem")
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            row_number().over(
              Window.partitionBy("l_suppkey").orderBy(orderCols: _*))
              .cast("long").as("rn"),
            sum(col("l_quantity").cast("long")).over(w).as("running_qty"))
          .orderBy("l_suppkey", "rn")
      },
      oracle = Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT) AS running_qty
        FROM lineitem
        WINDOW w AS (PARTITION BY l_suppkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY l_suppkey, rn"""),
      bench = true),

    // ---- left outer join with null-preserving aggregation ----------
    "q50_left_join" -> Q(
      impl = (s, d) => {
        val bigOrders = Tables.load(s, d, "orders")
          .filter(col("o_totalprice") > 300000)
        Tables.load(s, d, "customer")
          .join(bigOrders, col("c_custkey") === col("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_big_orders"),
            round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("big_total"))
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_big_orders,
               round(coalesce(sum(o_totalprice), 0), 2) AS big_total
        FROM customer
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000)
          ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey""")),

    // ---- approximate distinct (HLL sketch). Engines' sketches differ
    // numerically, so the oracle checks the *contract* instead: each
    // engine's own approx_count_distinct must land within 10% of the
    // exact count (Spark's default rsd is 5%, DuckDB's HLL ~1.6%) —
    // the exact count and the pass/fail boolean are hash-comparable --
    "q51_approx_distinct" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(approx_count_distinct("l_partkey").as("__approx"),
            countDistinct("l_partkey").as("exact_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("__approx") - col("exact_parts"))
              <= col("exact_parts") * 0.10).as("approx_ok"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
                 <= count(DISTINCT l_partkey) * 0.10 AS approx_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- cube (full grouping-sets lattice) -------------------------
    "q56_cube" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n_rows"),
            round(sum("l_quantity"), 2).as("sum_qty"))
          .orderBy(asc_nulls_first("l_returnflag"),
            asc_nulls_first("l_linestatus")),
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    // ---- exact interpolated percentiles (bit-identical both engines)
    "q57_percentile" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- explicit GROUPING SETS (beyond rollup/cube) ---------------
    "q62_grouping_sets" -> Q(
      impl = (s, d) => {
        Tables.load(s, d, "lineitem").createOrReplaceTempView("__li")
        s.sql("""
          SELECT coalesce(l_returnflag, 'ALL') AS rf,
                 coalesce(l_linestatus, 'ALL') AS ls,
                 count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
          FROM __li
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY rf, ls""")
      },
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls""")),

    // ---- ntile decile bucketing. A partition-less window is a total
    // order — Spark funnels it into one task. Fine here (deciles are
    // usually computed over an aggregate or a sample); the scale path
    // for exact global ranks is `operators.GlobalRank`
    // (range-repartition + per-partition offsets, exercised by q89),
    // and for quantiles approx_percentile (q57/q51 cover the sketch
    // side) ----------------------------------------------------------
    "q69_ntile" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "orders")
          .withColumn("decile", ntile(10).over(
            Window.orderBy(col("o_totalprice"), col("o_orderkey"))))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            round(min("o_totalprice"), 2).as("lo"),
            round(max("o_totalprice"), 2).as("hi"))
          .orderBy("decile"),
      oracle = Some("""
        WITH t AS (
          SELECT o_totalprice,
                 ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
          FROM orders)
        SELECT CAST(decile AS INT) AS decile, CAST(count(*) AS BIGINT) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM t GROUP BY decile ORDER BY decile""")),

    // ---- ordered array aggregation ---------------------------------
    "q70_array_agg" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "orders")
          .groupBy("o_custkey")
          .agg(concat_ws(",",
            sort_array(collect_list(col("o_orderkey")))).as("orders_csv"))
          .select(col("o_custkey").as("custkey"), col("orders_csv"))
          .orderBy("custkey"),
      oracle = Some("""
        SELECT o_custkey AS custkey,
               string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS orders_csv
        FROM orders GROUP BY o_custkey ORDER BY custkey""")),

    // ---- approximate quantiles (mergeable sketch). Like q51, the
    // engines' sketches differ numerically (Spark: Greenwald-Khanna;
    // DuckDB: t-digest), so the oracle checks the contract: each
    // engine's p50/p90 estimate must land between the exact p±0.05
    // quantiles. Exact quantile bounds + booleans are hash-comparable -
    "q76_approx_quantile" -> Q(
      impl = (s, d) =>
        Tables.load(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("__a50"),
            expr("approx_percentile(l_extendedprice, 0.9, 1000)").as("__a90"),
            expr("percentile(l_extendedprice, 0.45)").as("__lo50"),
            expr("percentile(l_extendedprice, 0.55)").as("__hi50"),
            expr("percentile(l_extendedprice, 0.85)").as("__lo90"),
            expr("percentile(l_extendedprice, 0.95)").as("__hi90"))
          .select(col("l_returnflag"),
            round(col("__lo50"), 4).as("lo50"),
            round(col("__hi90"), 4).as("hi90"),
            (col("__a50") >= col("__lo50") && col("__a50") <= col("__hi50"))
              .as("p50_ok"),
            (col("__a90") >= col("__lo90") && col("__a90") <= col("__hi90"))
              .as("p90_ok"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.45), 4) AS lo50,
               round(quantile_cont(l_extendedprice, 0.95), 4) AS hi90,
               approx_quantile(l_extendedprice, 0.5)
                 BETWEEN quantile_cont(l_extendedprice, 0.45)
                     AND quantile_cont(l_extendedprice, 0.55) AS p50_ok,
               approx_quantile(l_extendedprice, 0.9)
                 BETWEEN quantile_cont(l_extendedprice, 0.85)
                     AND quantile_cont(l_extendedprice, 0.95) AS p90_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- full outer join: suppliers vs customers per nation --------
    "q77_full_outer" -> Q(
      impl = (s, d) => {
        val sup = Tables.load(s, d, "supplier")
          .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_sup"))
          .filter(col("nk") % 2 === 0)
        val cust = Tables.load(s, d, "customer")
          .groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
          .filter(col("nk") % 3 === 0)
        sup.withColumnRenamed("nk", "s_nk")
          .join(cust.withColumnRenamed("nk", "c_nk"),
            col("s_nk") === col("c_nk"), "full_outer")
          .select(
            coalesce(col("s_nk"), col("c_nk")).as("nationkey"),
            coalesce(col("n_sup"), lit(0L)).as("n_sup"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"))
          .orderBy("nationkey")
      },
      oracle = Some("""
        WITH s AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_sup
                   FROM supplier GROUP BY 1 HAVING (nk % 2) = 0),
             c AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
                   FROM customer GROUP BY 1 HAVING (nk % 3) = 0)
        SELECT coalesce(s.nk, c.nk) AS nationkey,
               coalesce(n_sup, 0) AS n_sup,
               coalesce(n_cust, 0) AS n_cust
        FROM s FULL OUTER JOIN c ON s.nk = c.nk
        ORDER BY nationkey""")),

    // ---- null-safe equality join (<=> / IS NOT DISTINCT FROM) ------
    "q78_nullsafe_join" -> Q(
      impl = (s, d) => {
        // trait_id-style nullable key: orders clerk digit, nulled for
        // a deterministic slice — null keys must MATCH under <=>
        val o = Tables.load(s, d, "orders")
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
              .otherwise(col("o_orderkey") % 5).as("grp"))
        val ref = s.range(5).select(col("id").as("grp"))
          .unionByName(s.range(1).select(lit(null).cast("long").as("grp")))
          .withColumn("label",
            coalesce(col("grp").cast("string"), lit("none")))
        o.join(ref, o("grp") <=> ref("grp"))
          .groupBy("label").agg(count(lit(1)).as("n"))
          .orderBy("label")
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0 THEN NULL
                      ELSE o_orderkey % 5 END AS grp
          FROM orders),
        ref AS (SELECT unnest(range(5)) AS grp UNION ALL SELECT NULL),
        lab AS (SELECT grp, coalesce(CAST(grp AS VARCHAR), 'none') AS label
                FROM ref)
        SELECT label, CAST(count(*) AS BIGINT) AS n
        FROM o JOIN lab ON o.grp IS NOT DISTINCT FROM lab.grp
        GROUP BY label ORDER BY label""")),

    // ---- correlated EXISTS subquery (Catalyst rewrites to semi join)
    "q79_exists_subquery" -> Q(
      impl = (s, d) => {
        Tables.load(s, d, "customer").createOrReplaceTempView("__cust")
        Tables.load(s, d, "orders").createOrReplaceTempView("__ord")
        s.sql("""
          SELECT c_mktsegment, count(*) AS n_with_urgent
          FROM __cust
          WHERE EXISTS (SELECT 1 FROM __ord
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      oracle = Some("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_with_urgent
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- scalar subquery: orders above their segment's average -----
    "q80_scalar_subquery" -> Q(
      impl = (s, d) => {
        Tables.load(s, d, "customer").createOrReplaceTempView("__cust2")
        Tables.load(s, d, "orders").createOrReplaceTempView("__ord2")
        s.sql("""
          SELECT c_mktsegment,
                 count(*) AS n_above,
                 round(min(o_totalprice), 2) AS min_above
          FROM __ord2 JOIN __cust2 ON o_custkey = c_custkey
          WHERE o_totalprice > (SELECT avg(o_totalprice) FROM __ord2)
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      oracle = Some("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_above,
               round(min(o_totalprice), 2) AS min_above
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- exact global rank without a global window: the scale path
    // promised at q69 — one range shuffle + per-partition offsets; a
    // partition-less row_number() over the same data would serialize
    // the whole table through one task -------------------------------
    "q89_global_rank" -> Q(
      impl = (s, d) => {
        val orders = Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        GlobalRank.withRank(orders,
            Seq(col("o_totalprice"), col("o_orderkey")), "rank")
          .select(col("o_orderkey"), col("o_totalprice"), col("rank"))
          .orderBy("rank")
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice,
               CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                 AS BIGINT) AS rank
        FROM orders ORDER BY rank""")),

    // ---- interval merge (gaps-and-islands): collapse overlapping
    // shipment intervals per supplier into maximal covered islands.
    // Both scans (prefix-MAX of interval end, then prefix-SUM of the
    // new-island flag) are built-in windows over the SAME (s → sort)
    // partitioning: per-supplier groups are numerous and bounded
    // (lineitem/supplier is a constant ratio at every TPC-H sf), so
    // WindowExec — hash-partitioned by s, per-group in-memory sort —
    // is already fully distributed, and the stacked windows plus the
    // island aggregation all ride ONE exchange. This is the
    // HIGH-cardinality side of the grouped-scan decision rule
    // (operators/GroupedPrefix.scala): the range-partitioned scan is
    // for few giant groups (q93/q110's by-source scans), not this ----
    "q115_interval_merge" -> Q(
      impl = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("s").orderBy(col("st"), col("en"), col("ok"), col("ln"))
        val withPmax = shipIntervals(s, d).withColumn("pmax",
          max(col("en")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        val flagged = withPmax.withColumn("isnew",
          when(col("pmax").isNull || col("st") > col("pmax"), 1L)
            .otherwise(0L))
        val islands = flagged.withColumn("island",
          sum(col("isnew")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        islands.groupBy(col("s"), col("island"))
          .agg(min("st").as("island_start"), max("en").as("island_end"),
            count(lit(1)).as("n_intervals"))
          .select(col("s").as("l_suppkey"), col("island"),
            col("island_start"), col("island_end"), col("n_intervals"))
          .orderBy("l_suppkey", "island")
      },
      oracle = Some(s"""
        WITH $IvCte,
        m AS (SELECT *, max(en) OVER (PARTITION BY s ORDER BY st, en, ok, ln
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              FROM iv),
        f AS (SELECT *, CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END AS isnew
              FROM m),
        i AS (SELECT *, sum(isnew) OVER (PARTITION BY s ORDER BY st, en, ok, ln
                ROWS UNBOUNDED PRECEDING) AS island
              FROM f)
        SELECT s AS l_suppkey, CAST(island AS BIGINT) AS island,
               min(st) AS island_start, max(en) AS island_end,
               CAST(count(*) AS BIGINT) AS n_intervals
        FROM i GROUP BY 1, 2 ORDER BY l_suppkey, island"""),
      bench = true),

    // ---- sweep-line coverage depth: max concurrent shipment
    // intervals per supplier. Boundaries become ±1 events, aggregated
    // per position (one hash shuffle), then a per-supplier running sum
    // gives the depth profile — the genomics "coverage depth" /
    // concurrency-peak operator without a quadratic overlap join.
    // The scan here is the BUILT-IN window, not `GroupedPrefixSum`:
    // suppliers are numerous and each group is small, so WindowExec
    // (hash-partitioned by s, per-group in-memory sort) is already
    // fully distributed — the custom range-partitioned scan only pays
    // off when one group spans partitions (see q93/q110's by-source
    // scans) ---------------------------------------------------------
    "q116_coverage_depth" -> Q(
      impl = (s, d) => {
        // one scan: each interval explodes to its two ±1 boundary
        // events (a union of two selects would read lineitem twice)
        val ev = shipIntervals(s, d)
          .select(col("s"), explode(array(
            struct(col("st").as("pos"), lit(1L).as("delta")),
            struct((col("en") + 1L).as("pos"), lit(-1L).as("delta")))).as("e"))
          .select(col("s"), col("e.pos").as("pos"), col("e.delta").as("delta"))
          .groupBy("s", "pos").agg(sum("delta").as("d"))
        val depth = ev.withColumn("depth",
          sum(col("d")).over(org.apache.spark.sql.expressions.Window
            .partitionBy("s").orderBy("pos")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        depth.groupBy("s")
          .agg(max("depth").as("max_depth"), count(lit(1)).as("n_change_points"))
          .select(col("s").as("l_suppkey"), col("max_depth"), col("n_change_points"))
          .orderBy("l_suppkey")
      },
      oracle = Some(s"""
        WITH $IvCte,
        ev AS (SELECT s, st AS pos, 1 AS delta FROM iv
               UNION ALL
               SELECT s, en + 1, -1 FROM iv),
        g AS (SELECT s, pos, CAST(sum(delta) AS BIGINT) AS d FROM ev GROUP BY 1, 2),
        r AS (SELECT s, sum(d) OVER (PARTITION BY s ORDER BY pos
                ROWS UNBOUNDED PRECEDING) AS depth
              FROM g)
        SELECT s AS l_suppkey, CAST(max(depth) AS BIGINT) AS max_depth,
               CAST(count(*) AS BIGINT) AS n_change_points
        FROM r GROUP BY s ORDER BY l_suppkey"""),
      bench = true),

    // ---- column profiling: null count, exact distinct count, and
    // row count for five lineitem columns — the data-quality stage
    // every ingest pipeline runs before accepting a drop. One
    // independent aggregation subtree per column, unioned at the
    // (5-row) result level: each subtree prunes the scan to its own
    // parquet column and runs the standard two-phase distinct
    // (map-side partial dedup, shuffle of distinct values only), so
    // per-column work parallelizes and memory stays bounded by the
    // per-column distinct set. Measured 3× faster than the
    // single-agg multi-countDistinct form, whose Expand node
    // multiplies every row 6× and drags five null-padded key columns
    // through both aggregate phases ---------------------------------
    "q122_profile" -> Q(
      impl = (s, d) => {
        val li = Tables.load(s, d, "lineitem")
        Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
          "l_suppkey").map { c =>
          li.agg(
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
            countDistinct(col(c)).as("n_distinct"),
            count(lit(1)).as("n_rows"))
            .select(lit(c).as("col_name"), col("n_null"),
              col("n_distinct"), col("n_rows"))
        }.reduce(_ union _).orderBy("col_name")
      },
      oracle = Some("""
        WITH p AS (
          SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_rf,
                 CAST(count(DISTINCT l_returnflag) AS BIGINT) AS dist_rf,
                 CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ls,
                 CAST(count(DISTINCT l_linestatus) AS BIGINT) AS dist_ls,
                 CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_sd,
                 CAST(count(DISTINCT l_shipdate) AS BIGINT) AS dist_sd,
                 CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qt,
                 CAST(count(DISTINCT l_quantity) AS BIGINT) AS dist_qt,
                 CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_sk,
                 CAST(count(DISTINCT l_suppkey) AS BIGINT) AS dist_sk
          FROM lineitem)
        SELECT u.col_name, u.n_null, u.n_distinct, p.n_rows
        FROM p, (
          SELECT 'l_returnflag' AS col_name, null_rf AS n_null, dist_rf AS n_distinct FROM p
          UNION ALL SELECT 'l_linestatus', null_ls, dist_ls FROM p
          UNION ALL SELECT 'l_shipdate', null_sd, dist_sd FROM p
          UNION ALL SELECT 'l_quantity', null_qt, dist_qt FROM p
          UNION ALL SELECT 'l_suppkey', null_sk, dist_sk FROM p) u
        ORDER BY col_name"""),
      bench = true),

    // ---- Z-order (Morton) layout keys: interleave two 16-bit join
    // dimensions into one clustering key, the multi-dimensional
    // locality layout for 100 TB tables — range-partition + sort by
    // zval and BOTH per-dimension predicates prune row groups via
    // parquet min/max (single-dim sort only helps its own column;
    // ZOrderSpec proves the fence-count win). The query pins the bit
    // ladder cross-engine on a deterministic lineitem slice ----------
    "q123_zorder_key" -> Q(
      impl = (s, d) => {
        Tables.load(s, d, "lineitem")
          .filter(col("l_orderkey") % 97 === 0)
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            graft.functions.ZOrder.morton16(col("l_partkey"), col("l_suppkey")).as("zval"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      oracle = Some(s"""
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
               ${mortonSql("(l_partkey & 65535)", "(l_suppkey & 65535)")} AS zval
        FROM lineitem WHERE l_orderkey % 97 = 0
        ORDER BY l_orderkey, l_linenumber"""),
      bench = true),

    // ---- per-customer EWMA of order totals: e_1 = x_1, e_i = α·x_i
    // + (1−α)·e_{i−1}, evaluated in closed form as one weighted sum
    // (w_i = α(1−α)^{N−i}, w_1 = (1−α)^{N−1}) so the whole smoothing
    // is two window columns + one groupBy — no per-row recursion.
    // Scale shape: groups are per-customer (many, small), where the
    // hash-partitioned WindowExec is already distributed (the q116
    // rule); the weighted sum rides the same partitioning -----------
    "q170_ewma" -> Q(
      impl = (s, d) => {
        val byTime = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val whole = Window.partitionBy("o_custkey")
        Tables.load(s, d, "orders")
          .select(col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"), col("o_orderkey"))
          .withColumn("rn", row_number().over(byTime))
          .withColumn("nn", count(lit(1)).over(whole))
          .withColumn("wt",
            when(col("rn") === 1, pow(lit(1 - Alpha), col("nn") - 1))
              .otherwise(lit(Alpha) * pow(lit(1 - Alpha), col("nn") - col("rn"))))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice") * col("wt")), 2).as("ewma"))
          .orderBy("o_custkey")
      },
      oracle = Some(s"""
        WITH w AS (
          SELECT o_custkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn,
                 count(*) OVER (PARTITION BY o_custkey) AS nn
          FROM orders)
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice * CASE WHEN rn = 1
                 THEN pow(${1 - Alpha}, nn - 1)
                 ELSE $Alpha * pow(${1 - Alpha}, nn - rn) END), 2) AS ewma
        FROM w GROUP BY o_custkey ORDER BY o_custkey"""),
      bench = true)
  )

  /** Synthetic 3-level hierarchy for the closure queries: customer →
    * nation → region → root (the ontology `is_a` DAG analog; SURVEY.md
    * §2.8 A1). Edge = (parent, child).
    */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val c = Tables.load(s, d, "customer")
      .select(concat(lit("N"), col("c_nationkey").cast("string")).as("parent"),
        concat(lit("C"), col("c_custkey").cast("string")).as("child"))
    val n = Tables.load(s, d, "nation")
      .select(concat(lit("R"), col("n_regionkey").cast("string")).as("parent"),
        concat(lit("N"), col("n_nationkey").cast("string")).as("child"))
    val r = Tables.load(s, d, "region")
      .select(lit("ROOT").as("parent"),
        concat(lit("R"), col("r_regionkey").cast("string")).as("child"))
    c.unionByName(n).unionByName(r)
  }

  private def edgesSql: String = """edges AS (
          SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS parent,
                 'C' || CAST(c_custkey AS VARCHAR) AS child FROM customer
          UNION ALL
          SELECT 'R' || CAST(n_regionkey AS VARCHAR),
                 'N' || CAST(n_nationkey AS VARCHAR) FROM nation
          UNION ALL
          SELECT 'ROOT', 'R' || CAST(r_regionkey AS VARCHAR) FROM region)"""
}
