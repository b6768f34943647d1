package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational core over the TPC-H-ish tables (SURVEY.md §2c "relational core
 * demos"): scan, filter+project, hash/broadcast join, aggregation, rollup,
 * window, top-k, semi/anti join, outer join, set ops, scalar functions,
 * conditional aggregation.
 *
 * Oracle-parity rules used throughout (driver hashes values column-sorted):
 *  - every computed column is aliased identically in Spark and SQL;
 *  - double aggregation goes through DECIMAL(12,2) casts so the arithmetic is
 *    exact and order-independent, then back to DOUBLE (identical bits on both
 *    engines); plain doubles are only compared when no re-association happens
 *    (min/max/passthrough);
 *  - averages are written as sum/count of exact decimals, not AVG(double);
 *  - every LIMIT has a total tie-break order.
 *
 * Scale notes: filters/projections sit directly on the parquet scan (pushed
 * filters + pruned ReadSchema); small dimensions (nation, region, supplier)
 * are broadcast; fact-fact joins shuffle on their join key and AQE handles
 * post-shuffle coalescing and skew.
 */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def prt(s: SparkSession, d: String) = Tables.part(s, d)

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: full-scan aggregation with exact decimal arithmetic.
    "q1_agg" -> ((s, d) =>
      li(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").as("sum_qty"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_base_price"),
        expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)").as("sum_disc_price"),
        expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)").as("avg_qty"),
        count(lit(1)).as("count_order"))),

    // Filter + projection pushed into the parquet scan.
    "q2_filter_project" -> ((s, d) =>
      li(s, d)
        .where(col("l_shipdate") >= expr("TIMESTAMP '1999-01-01 00:00:00'") &&
               col("l_shipdate") <  expr("TIMESTAMP '2000-01-01 00:00:00'") &&
               col("l_discount") > lit(0.05))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")),

    // 4-way join: two broadcast dims + one fact-fact shuffle join.
    "q3_join_agg" -> ((s, d) => {
      val c = cust(s, d); val o = ord(s, d); val l = li(s, d); val n = nat(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Top-k with total order (value DESC, key ASC tie-break).
    "q4_topk" -> ((s, d) =>
      ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)),

    // Ranking window: top-3 orders per customer.
    "q5_window" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      ord(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),

    // Semi join: customers having at least one big order.
    "q6_semi_join" -> ((s, d) => {
      val c = cust(s, d)
      val bigOrders = ord(s, d).where(col("o_totalprice") > 400000.0)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),

    // Anti join: customers with no orders at all.
    "q7_anti_join" -> ((s, d) => {
      val c = cust(s, d)
      val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),

    // ROLLUP grouping sets; NULL grouping slots coalesced to a sentinel so the
    // hash compare is null-free.
    "q8_rollup" -> ((s, d) => {
      // Group by Columns: Spark 4.1's string overload of rollup fails the
      // join's output as ambiguous (DetectAmbiguousSelfJoin, no self join
      // present); the Column overload resolves normally.
      val c = cust(s, d); val n = nat(s, d)
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_mktsegment").as("mktseg"),
                col("n_name").as("natname"),
                col("c_acctbal").as("acctbal"))
        .rollup(col("mktseg"), col("natname"))
        .agg(count(lit(1)).as("n_cust"),
             expr("CAST(SUM(CAST(acctbal AS DECIMAL(12,2))) AS DOUBLE)").as("sum_acctbal"))
        .select(
          coalesce(col("mktseg"), lit("ALL")).as("mktsegment"),
          coalesce(col("natname"), lit("ALL")).as("nation"),
          col("n_cust"), col("sum_acctbal"))
    }),

    // DISTINCT projection.
    "q9_distinct" -> ((s, d) =>
      li(s, d).select("l_returnflag", "l_linestatus").distinct()),

    // String / math scalar functions.
    "q10_scalar_string" -> ((s, d) =>
      prt(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_type"), 1, 4).as("type_prefix"),
        length(col("p_name")).as("name_len"),
        (col("p_size") % 7).as("size_mod"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))),

    // Date/time scalar functions.
    "q11_scalar_date" -> ((s, d) =>
      ord(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_format(col("o_orderdate"), "yyyy-MM").as("o_ym"))),

    // Set op: UNION (distinct) of customer and supplier nation keys.
    "q12_union" -> ((s, d) =>
      cust(s, d).select(col("c_nationkey").as("nationkey"))
        .union(sup(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()),

    // Conditional aggregation (FILTER/CASE semantics).
    "q13_cond_agg" -> ((s, d) =>
      li(s, d).groupBy("l_returnflag").agg(
        sum(when(col("l_quantity") > 25, lit(1)).otherwise(lit(0))).as("n_big"),
        sum(when(col("l_linestatus") === "F", lit(1)).otherwise(lit(0))).as("n_f"),
        count(lit(1)).as("n_all"))),

    // Outer join + count of non-null keys (customers with zero orders -> 0).
    "q14_outer_join" -> ((s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
    }),

    // CUBE grouping sets with grouping() indicators.
    "q15_cube" -> ((s, d) =>
      ord(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
             grouping(col("o_orderstatus")).as("g_status"),
             grouping(col("o_orderpriority")).as("g_prio"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("g_status"), col("g_prio"))),

    // IN-subquery (Catalyst rewrites IN to exactly this left-semi plan).
    "q16_in_subquery" -> ((s, d) => {
      val bigParts = li(s, d).where(col("l_quantity") >= 49).select("l_partkey")
      prt(s, d)
        .join(bigParts, col("p_partkey") === col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name", "p_retailprice")
    }),

    // Scalar subquery: orders above the global average price.
    "q17_scalar_subquery" -> ((s, d) => {
      val avgPrice = ord(s, d).agg(
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*)").as("ap"))
      ord(s, d).join(broadcast(avgPrice))
        .where(col("o_totalprice") > col("ap"))
        .select("o_orderkey", "o_totalprice")
    }),

    // EXCEPT: nations with customers but no suppliers.
    "q18_except" -> ((s, d) =>
      cust(s, d).select(col("c_nationkey").as("nationkey"))
        .except(sup(s, d).select(col("s_nationkey").as("nationkey")))),

    // INTERSECT: nations with both customers and suppliers.
    "q19_intersect" -> ((s, d) =>
      cust(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(sup(s, d).select(col("s_nationkey").as("nationkey")))),

    // Array aggregation: per-order sorted distinct part list + array ops.
    // The array itself is serialized to CSV for the gate: the driver's
    // pandas-based comparator cannot hash a raw array column, and the CSV
    // keeps value-level checking of every element (members_csv pattern,
    // GraphQueries).
    "q20_array_agg" -> ((s, d) =>
      li(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(
          col("l_orderkey"),
          array_join(col("parts"), ",").as("parts_csv"),
          size(col("parts")).as("n_parts"),
          element_at(col("parts"), 1).as("first_part"))),

    // min_by/max_by: cheapest and priciest part per brand.
    "q21_argminmax" -> ((s, d) =>
      prt(s, d).groupBy("p_brand").agg(
        min_by(col("p_partkey"), struct(col("p_retailprice"), col("p_partkey"))).as("cheapest_part"),
        max_by(col("p_partkey"), struct(col("p_retailprice"), col("p_partkey"))).as("priciest_part"),
        count(lit(1)).as("n"))),

    // More string functions: regexp extraction, padding, replacement.
    "q22_string_funcs" -> ((s, d) =>
      prt(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "([0-9]+)", 1).as("first_num"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded_key"),
        regexp_replace(col("p_type"), " ", "_").as("type_snake"),
        reverse(col("p_brand")).as("brand_rev"),
        trim(col("p_name")).as("name_trim"))),

    // NULL-handling scalars over the outer-join result: nullif/ifnull/
    // greatest/least.
    "q23_null_scalars" -> ((s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(max(col("o_totalprice")).as("max_price"),
             count(col("o_orderkey")).as("n_orders"))
        .select(
          col("c_custkey"),
          coalesce(col("max_price"), lit(0.0)).as("max_price_or_0"),
          nullif(col("n_orders"), lit(0L)).as("n_orders_or_null"),
          greatest(col("n_orders"), lit(1L)).as("at_least_1"),
          least(col("n_orders"), lit(5L)).as("at_most_5"))
    }),

    // Frame windows: running revenue + 3-row moving average per customer.
    "q24_window_frames" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      ord(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)").as("running_rev"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)").as("moving_sum3"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"))
    }),

    // Exact percentiles (Spark `percentile` == DuckDB `quantile_cont`).
    "q25_percentiles" -> ((s, d) =>
      ord(s, d).groupBy("o_orderpriority").agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        count(lit(1)).as("n")))
    ,

    // PIVOT: order counts per customer-segment x order-status (explicit value
    // list so the plan is a single pass, no distinct-values pre-query).
    "q26_pivot" -> ((s, d) => {
      val c = cust(s, d); val o = ord(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .select("c_mktsegment", "o_orderstatus")
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("c_mktsegment"), col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
    }),

    // GROUPING SETS with an arbitrary (non-cube, non-rollup) set list — the
    // Spark 4 Dataset.groupingSets API; grouping() flags disambiguate real
    // NULL keys from set-aggregated ones, exactly as in q15's CUBE.
    "q27_grouping_sets" -> ((s, d) =>
      ord(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
              Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)").as("sum_price"),
             grouping(col("o_orderstatus")).as("g_status"),
             grouping(col("o_orderpriority")).as("g_prio"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("sum_price"), col("g_status"), col("g_prio"))),

    // FULL OUTER join (q14 is left-outer): per-user order counts vs event
    // counts — each side has keys the other lacks, so both null directions
    // are exercised. Sides are pre-aggregated BEFORE the join (map-side
    // partial agg shrinks the shuffle to distinct keys; full outer can never
    // broadcast — both sides must shuffle — so shrinking them first is the
    // scale move).
    "q28_full_outer" -> ((s, d) => {
      val o = ord(s, d).groupBy(col("o_custkey").as("user_id"))
        .agg(count(lit(1)).as("n_orders"))
      val e = Tables.events(s, d).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      o.join(e, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    }),

    // Ranking/analytic window suite beyond q5's rank/row_number: ntile
    // buckets, percent_rank, cume_dist — one window definition, total order
    // within each partition (unique tie-break key) so every engine agrees
    // row for row. Same scale shape as any ranked window: ONE shuffle by
    // the partition key + in-partition sort.
    "q29_ranking" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      ord(s, d).select(
        col("o_orderpriority").as("priority"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
    }),

    // MapType end-to-end: per-customer status→count map built with
    // map_from_entries(collect_list(struct)), then size + element_at
    // lookups. The map stays internal (output is plain scalars — map
    // render order is engine-specific); the oracle states the same values
    // relationally.
    "q30_map_ops" -> ((s, d) =>
      ord(s, d).groupBy("o_custkey", "o_orderstatus").agg(count(lit(1)).as("n"))
        .groupBy("o_custkey")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("o_orderstatus"), col("n"))))).as("m"))
        .select(col("o_custkey"),
          size(col("m")).as("n_statuses"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("n_f"),
          coalesce(element_at(col("m"), "O"), lit(0L)).as("n_o"),
          coalesce(element_at(col("m"), "P"), lit(0L)).as("n_p")))
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_discount > 0.05""".stripMargin,

    "q3_join_agg" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q4_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q5_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin,

    "q6_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)""".stripMargin,

    "q7_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q8_rollup" ->
      """SELECT COALESCE(c_mktsegment, 'ALL') AS mktsegment,
        |       COALESCE(n_name, 'ALL') AS nation,
        |       COUNT(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (c_mktsegment, n_name)""".stripMargin,

    "q9_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q10_scalar_string" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  SUBSTRING(p_type, 1, 4) AS type_prefix,
        |  CAST(LENGTH(p_name) AS INT) AS name_len,
        |  p_size % 7 AS size_mod,
        |  p_brand || '|' || p_type AS brand_type
        |FROM part""".stripMargin,

    "q11_scalar_date" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_month,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS o_day,
        |  strftime(o_orderdate, '%Y-%m') AS o_ym
        |FROM orders""".stripMargin,

    "q12_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q13_cond_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  COUNT(*) AS n_all
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q14_outer_join" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q15_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q16_in_subquery" ->
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)""".stripMargin,

    "q17_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders)""".stripMargin,

    "q18_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q19_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,

    "q20_array_agg" ->
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list_distinct(list(l_partkey))), ',') AS parts_csv,
        |       CAST(len(list_sort(list_distinct(list(l_partkey)))) AS INT) AS n_parts,
        |       list_sort(list_distinct(list(l_partkey)))[1] AS first_part
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    // DuckDB 1.0 arg_min/arg_max lack struct keys — equivalent via ranked
    // windows with the same (price, partkey) total order.
    "q21_argminmax" ->
      """SELECT p_brand,
        |       MAX(CASE WHEN rn_asc = 1 THEN p_partkey END) AS cheapest_part,
        |       MAX(CASE WHEN rn_desc = 1 THEN p_partkey END) AS priciest_part,
        |       COUNT(*) AS n
        |FROM (
        |  SELECT p_brand, p_partkey,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice ASC, p_partkey ASC) AS rn_asc,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey DESC) AS rn_desc
        |  FROM part)
        |GROUP BY p_brand""".stripMargin,

    "q22_string_funcs" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '([0-9]+)', 1) AS first_num,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
        |  replace(p_type, ' ', '_') AS type_snake,
        |  reverse(p_brand) AS brand_rev,
        |  trim(p_name) AS name_trim
        |FROM part""".stripMargin,

    "q23_null_scalars" ->
      """SELECT c_custkey,
        |  COALESCE(max_price, 0.0) AS max_price_or_0,
        |  NULLIF(n_orders, 0) AS n_orders_or_null,
        |  GREATEST(n_orders, 1) AS at_least_1,
        |  LEAST(n_orders, 5) AS at_most_5
        |FROM (
        |  SELECT c_custkey, MAX(o_totalprice) AS max_price, COUNT(o_orderkey) AS n_orders
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)""".stripMargin,

    "q24_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
        |  lag(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_order,
        |  lead(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS next_order
        |FROM orders""".stripMargin,

    "q25_percentiles" ->
      """SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.9) AS p90,
        |       COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q26_pivot" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q27_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
        |       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |       CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderpriority), ())""".stripMargin,

    "q28_full_outer" ->
      """WITH o AS (SELECT o_custkey AS user_id, COUNT(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |     e AS (SELECT user_id, COUNT(*) AS n_events
        |           FROM events GROUP BY 1)
        |SELECT COALESCE(o.user_id, e.user_id) AS user_id,
        |       COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(n_events, 0) AS n_events
        |FROM o FULL OUTER JOIN e ON o.user_id = e.user_id""".stripMargin,

    "q29_ranking" ->
      """SELECT o_orderpriority AS priority, o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,

    "q30_map_ops" ->
      """SELECT o_custkey,
        |  CAST(COUNT(DISTINCT o_orderstatus) AS INT) AS n_statuses,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_custkey""".stripMargin
  )
}
