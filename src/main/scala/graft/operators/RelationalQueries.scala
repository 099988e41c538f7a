package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.functions.Exact
import graft.sources.Tables

/** Star-schema relational operators (SURVEY.md §2.7 coverage matrix):
  * filters, projections, hash/broadcast/semi/anti joins, hash
  * aggregation, rollup/cube/grouping-sets, windows, top-k per group,
  * set ops, pivot/unpivot. Every query is deterministic (total ordering,
  * exact decimal-summed doubles) so the driver's DuckDB hash-compare is
  * stable. Floating sums go through [[graft.functions.Exact.sum]]:
  * money columns at DECIMAL(18,2), computed revenue at (18,6).
  */
object RelationalQueries {

  // --------------------------------------------------------------------
  // q01: filter + hash-agg. TPC-H Q1 pattern — the reference's
  // scan→filter→parse→group pipeline (file_generator.go:136-173) done
  // relationally. Partial aggregation is map-side; the only shuffle is
  // on the 6-value (returnflag, linestatus) key.
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Exact.sum($"l_quantity", 18, 2).as("sum_qty"),
        Exact.sum($"l_extendedprice", 18, 2).as("sum_base_price"),
        Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6).as("sum_disc_price"),
        Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"), 18, 6).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --------------------------------------------------------------------
  // q02: per-group top-k (SURVEY §2.7 "top-k"; replaces the reference's
  // list-surgery priority ordering O3 with a real windowed rank), done
  // in TWO phases: a salted local top-k first, then the global window.
  // A single window over 3 returnflag partitions sorts the whole group
  // in 3 tasks — a straggler at any scale. The salt phase ranks within
  // (group, salt) buckets — fully parallel — and keeps ≤ k rows per
  // bucket, so the global window sees ≤ k·salts rows per group. Every
  // global top-k row is top-k within its bucket, so the result is
  // identical to the single-window form (the oracle).
  def q02TopKPerGroup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_orderkey")
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6).as("revenue"))
    val local = Window.partitionBy($"l_returnflag", $"salt")
      .orderBy($"revenue".desc, $"l_orderkey".asc)
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"revenue".desc, $"l_orderkey".asc)
    rev.withColumn("salt", pmod(hash($"l_orderkey"), lit(8)))
      .withColumn("lrk", row_number().over(local))
      .filter($"lrk" <= 3)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"l_returnflag", $"l_orderkey", $"revenue", $"rk")
      .orderBy($"l_returnflag", $"rk")
  }

  val q02Sql: String =
    s"""WITH rev AS (
       |  SELECT l_returnflag, l_orderkey,
       |    ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS revenue
       |  FROM lineitem GROUP BY l_returnflag, l_orderkey),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |    ORDER BY revenue DESC, l_orderkey ASC) AS rk FROM rev)
       |SELECT l_returnflag, l_orderkey, revenue, rk FROM rk
       |WHERE rk <= 3 ORDER BY l_returnflag, rk""".stripMargin

  // --------------------------------------------------------------------
  // q03: 3-way join + agg + top-10 (TPC-H Q10 pattern). customer and
  // orders shuffle-join on custkey; lineitem joins orders on orderkey.
  // At 100 TB: lineitem⋈orders is the big shuffle — co-partitioning /
  // bucketing both on orderkey removes it; customer side is 1-2 orders
  // of magnitude smaller and AQE picks broadcast when it fits.
  def q03CustomerRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    // Pre-aggregate the fact to order grain BEFORE any join: revenue
    // partials stay DECIMAL so the two-level sum is exactly the flat
    // dsum (decimal addition is associative; the double cast happens
    // once at the end), and the join input shrinks from lineitem rows
    // to order rows. The orderkey shuffle this groupBy pays is the
    // same partitioning the orders join needs, so at 100 TB the plan
    // trades a full-width lineitem shuffle for a narrow
    // (orderkey, decimal, count) one.
    val lo = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .cast(DecimalType(18, 6))).as("rev_part"),
        count(lit(1)).as("n_part"))
    lo.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name")
      .agg(sum($"rev_part").cast("double").as("revenue"),
           sum($"n_part").as("n_items"))
      .orderBy($"revenue".desc, $"c_custkey".asc)
      .limit(10)
  }

  val q03Sql: String =
    s"""SELECT c_custkey, c_name,
       |  ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS revenue,
       |  COUNT(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_custkey, c_name
       |ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin

  // --------------------------------------------------------------------
  // q04: broadcast dimension join — part is a small dim; the explicit
  // broadcast() hint keeps the fact-side scan shuffle-free (check
  // `.explain`: BroadcastHashJoin, no Exchange on lineitem).
  def q04BroadcastDimJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"),
           Exact.sum($"l_quantity", 18, 2).as("sum_qty"),
           Exact.sum($"l_extendedprice", 18, 2).as("sum_price"))
      .orderBy($"p_brand")
  }

  val q04Sql: String =
    s"""SELECT p_brand, COUNT(*) AS n_items,
       |  ${Exact.sumSql("l_quantity", 18, 2)} AS sum_qty,
       |  ${Exact.sumSql("l_extendedprice", 18, 2)} AS sum_price
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------------
  // q05: left-semi join (EXISTS). Orders that contain at least one
  // high-quantity line; semi-join never duplicates the left side.
  def q05SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir).filter($"l_quantity" >= 49.0)
    o.join(l, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"o_orderpriority")
  }

  val q05Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.0)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------------
  // q06: left-anti join (NOT EXISTS): customers with no URGENT order.
  def q06AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter($"o_orderpriority" === "1-URGENT")
    c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q06Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // q07: ROLLUP hierarchy totals. NULL group keys are coalesced to a
  // sentinel so ordering is engine-independent (Spark sorts NULL first,
  // DuckDB last — SURVEY §7.5 determinism risk).
  def q07Rollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), Exact.sum($"l_quantity", 18, 2).as("sum_qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n", $"sum_qty")
      .orderBy($"returnflag", $"linestatus")
  }

  val q07Sql: String =
    s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       |  COALESCE(l_linestatus, 'ALL') AS linestatus,
       |  COUNT(*) AS n, ${Exact.sumSql("l_quantity", 18, 2)} AS sum_qty
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  // --------------------------------------------------------------------
  // q08: CUBE over order dimensions.
  def q08Cube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), Exact.sum($"o_totalprice", 18, 2).as("sum_price"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as(("orderstatus")),
        coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
        $"n", $"sum_price")
      .orderBy($"orderstatus", $"orderpriority")
  }

  val q08Sql: String =
    s"""SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       |  COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       |  COUNT(*) AS n, ${Exact.sumSql("o_totalprice", 18, 2)} AS sum_price
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY orderstatus, orderpriority""".stripMargin

  // --------------------------------------------------------------------
  // q09: exact distinct aggregation (Catalyst plans expand + two-phase
  // agg; HLL approximate variant is `llm`-side, no oracle).
  def q09DistinctAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  val q09Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // q10: set operations — INTERSECT and EXCEPT branches union-tagged
  // into one result (SURVEY §2.7 set ops; reference only had a dead
  // date-set union, file_generator.go:210-224).
  def q10SetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val building = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey".as("custkey"))
    val bigSpenders = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 300000.0).select($"o_custkey".as("custkey"))
    val both = building.intersect(bigSpenders).withColumn("tag", lit("both"))
    val onlySeg = building.except(bigSpenders).withColumn("tag", lit("building_only"))
    both.unionAll(onlySeg).orderBy($"tag", $"custkey")
  }

  val q10Sql: String =
    """WITH building AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |big AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0)
      |SELECT custkey, 'both' AS tag FROM (SELECT * FROM building INTERSECT SELECT * FROM big)
      |UNION ALL
      |SELECT custkey, 'building_only' AS tag FROM (SELECT * FROM building EXCEPT SELECT * FROM big)
      |ORDER BY tag, custkey""".stripMargin

  // --------------------------------------------------------------------
  // q11: windowed time-series delta — the benchviz use-case (per-test
  // metric drift over dates, www/generate_benchmark_plot.js) done with
  // lag() instead of chart-side JS: per event_type daily totals and
  // day-over-day delta.
  def q11WindowLag(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(Exact.sum($"value", 18, 6).as("total"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    daily
      .withColumn("prev_total", lag($"total", 1).over(w))
      .withColumn("delta", round($"total" - $"prev_total", 6))
      .select($"event_type", $"day", $"total", $"prev_total", $"delta")
      .orderBy($"event_type", $"day")
  }

  val q11Sql: String =
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    ${Exact.sumSql("value", 18, 6)} AS total
       |  FROM events GROUP BY event_type, CAST(ts AS DATE))
       |SELECT event_type, day, total,
       |  LAG(total, 1) OVER (PARTITION BY event_type ORDER BY day) AS prev_total,
       |  ROUND(total - LAG(total, 1) OVER (PARTITION BY event_type ORDER BY day), 6) AS delta
       |FROM daily ORDER BY event_type, day""".stripMargin

  // --------------------------------------------------------------------
  // q12: pivot long→wide (J1 N-way date alignment as groupBy().pivot(),
  // SURVEY §2.6): per order-month, one count column per returnflag.
  // Pivot values are enumerated so no extra distinct-collect job runs
  // (and the plan stays static — required at 100 TB).
  def q12PivotWide(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(date_format($"l_shipdate", "yyyy-MM").as("ship_month"), $"l_returnflag")
      .groupBy($"ship_month")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("A", "N", "R"))
      .select($"ship_month", $"A".as("cnt_a"), $"N".as("cnt_n"), $"R".as("cnt_r"))
      .orderBy($"ship_month")
  }

  val q12Sql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'A') AS cnt_a,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'N') AS cnt_n,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS cnt_r
      |FROM lineitem GROUP BY 1 ORDER BY ship_month""".stripMargin

  // --------------------------------------------------------------------
  // q13: unpivot wide→long (J2 per-metric unpivot, SURVEY §2.6) via
  // stack(); oracle is the UNION ALL expansion.
  def q13Unpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        Exact.sum($"l_quantity", 18, 2).as("sum_qty"),
        Exact.sum($"l_extendedprice", 18, 2).as("sum_price"),
        count(lit(1)).cast("double").as("n_rows"))
      .select($"l_returnflag",
        expr("stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, 'n_rows', n_rows) AS (metric, val)"))
      .orderBy($"l_returnflag", $"metric")
  }

  val q13Sql: String =
    s"""WITH agg AS (
       |  SELECT l_returnflag, ${Exact.sumSql("l_quantity", 18, 2)} AS sum_qty,
       |    ${Exact.sumSql("l_extendedprice", 18, 2)} AS sum_price,
       |    CAST(COUNT(*) AS DOUBLE) AS n_rows
       |  FROM lineitem GROUP BY l_returnflag)
       |SELECT l_returnflag, metric, val FROM (
       |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM agg
       |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM agg
       |  UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM agg)
       |ORDER BY l_returnflag, metric""".stripMargin

  // --------------------------------------------------------------------
  // q32: multiset set ops — INTERSECT ALL / EXCEPT ALL preserve
  // duplicate counts (q10 covers the distinct variants). Branches are
  // tagged and unioned BY NAME; output is collapsed to per-key
  // multiplicities so the result is compact at any scale.
  def q32SetopsAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def side(flag: String) = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === flag).select($"l_suppkey".as("suppkey"))
    val ia = side("A").intersectAll(side("R"))
      .groupBy($"suppkey").agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("intersect_all"))
    val ea = side("A").exceptAll(side("R"))
      .groupBy($"suppkey").agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("except_all"))
    ia.unionByName(ea)
      .select($"tag", $"suppkey", $"n")
      .orderBy($"tag", $"suppkey")
  }

  val q32Sql: String =
    """WITH a AS (SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'A'),
      |r AS (SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'),
      |ia AS (SELECT suppkey FROM a INTERSECT ALL SELECT suppkey FROM r),
      |ea AS (SELECT suppkey FROM a EXCEPT ALL SELECT suppkey FROM r)
      |SELECT 'intersect_all' AS tag, suppkey, COUNT(*) AS n FROM ia GROUP BY suppkey
      |UNION ALL
      |SELECT 'except_all' AS tag, suppkey, COUNT(*) AS n FROM ea GROUP BY suppkey
      |ORDER BY tag, suppkey""".stripMargin

  // --------------------------------------------------------------------
  // q46: promo revenue share per ship month (TPC-H Q14 shape). The
  // conditional-share aggregate computes both the PROMO-only and total
  // revenue in ONE pass over the fact — no second scan, no self-join.
  // part broadcasts (small dim), so the fact side stays shuffle-free up
  // to the 82-month groupBy, which is partial-aggregable. At 100 TB the
  // month key is low-cardinality and uniform — no salt needed; the
  // plan is scan → broadcast-join → partial agg → 82-row exchange.
  def q46PromoEffect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_type")
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .groupBy(date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
      .agg(
        sum(when($"p_type" === "PROMO",
            ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
              .cast(DecimalType(18, 6)))
          .otherwise(lit(0).cast(DecimalType(18, 6))))
          .cast("double").as("promo_rev"),
        Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6).as("total_rev"),
        count(lit(1)).as("n_items"))
      .select($"ship_month",
        round(lit(100.0) * $"promo_rev" / $"total_rev", 6)
          .as("promo_share_pct"),
        $"promo_rev", $"total_rev", $"n_items")
      .orderBy($"ship_month")
  }

  val q46Sql: String =
    s"""WITH m AS (
       |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       |    CAST(SUM(CASE WHEN p_type = 'PROMO'
       |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
       |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_rev,
       |    ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS total_rev,
       |    COUNT(*) AS n_items
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1)
       |SELECT ship_month,
       |  ROUND(100.0 * promo_rev / total_rev, 6) AS promo_share_pct,
       |  promo_rev, total_rev, n_items
       |FROM m ORDER BY ship_month""".stripMargin

  // --------------------------------------------------------------------
  // q47: small-quantity revenue (TPC-H Q17 shape) — revenue lost to
  // lines ordering below 20% of their part's average quantity. The
  // naive form is a correlated per-row subquery (re-aggregating the
  // fact once per probe row); the scale-correct rewrite pre-aggregates
  // lineitem ONCE to per-part (sum_qty, n) — the threshold table, at
  // part cardinality — and joins it back. Both the pre-agg and the
  // probe shuffle on l_partkey, so at 100 TB bucketing lineitem by
  // partkey makes the whole query co-located; the threshold table is
  // dim-sized and AQE broadcasts it. avg = decimal sum / count (exact,
  // order-insensitive) so the 0.2·avg cutoff is bit-identical in both
  // engines.
  def q47SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
    val thresholds = l.groupBy($"l_partkey".as("t_partkey"))
      .agg((Exact.sum($"l_quantity", 18, 2)
        / count(lit(1))).as("avg_qty"))
    l.join(thresholds, $"l_partkey" === $"t_partkey")
      .filter($"l_quantity" < lit(0.2) * $"avg_qty")
      .agg(
        (Exact.sum($"l_extendedprice", 18, 2) / lit(7.0)).as("avg_yearly"),
        count(lit(1)).as("n_small_lines"),
        countDistinct($"l_partkey").as("n_parts"))
      .select(round($"avg_yearly", 6).as("avg_yearly"),
        $"n_small_lines", $"n_parts")
  }

  val q47Sql: String =
    s"""WITH t AS (
       |  SELECT l_partkey AS t_partkey,
       |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
       |      AS avg_qty
       |  FROM lineitem GROUP BY 1)
       |SELECT
       |  ROUND(${Exact.sumSql("l_extendedprice", 18, 2)} / 7.0, 6) AS avg_yearly,
       |  COUNT(*) AS n_small_lines,
       |  COUNT(DISTINCT l_partkey) AS n_parts
       |FROM lineitem JOIN t ON l_partkey = t_partkey
       |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  // --------------------------------------------------------------------
  // q48: top supplier(s) by windowed revenue (TPC-H Q15 shape) — the
  // argmax-by-global-scalar pattern: per-supplier revenue over a
  // 3-month ship window, then keep every supplier whose revenue equals
  // the maximum. The max is a 1-row aggregate broadcast into the
  // filter (Q15's "create view + subquery" done as a scalar
  // cross-join), so no second scan of the fact and no window over a
  // single global partition — the two naive forms that die at scale.
  // Revenue partials are DECIMAL end-to-end, so the equality against
  // the max is exact — float revenue would make "equals the max"
  // nondeterministic across partitionings.
  def q48TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
        && $"l_shipdate" < lit(java.sql.Timestamp.valueOf("1996-04-01 00:00:00")))
      .groupBy($"l_suppkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast(DecimalType(18, 6))).as("total_rev"))
    val top = broadcast(rev.agg(max($"total_rev").as("max_rev")))
    rev.crossJoin(top)
      .filter($"total_rev" === $"max_rev")
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name",
        $"total_rev".cast("double").as("total_rev"))
      .orderBy($"s_suppkey")
  }

  val q48Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
      |      AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  // --------------------------------------------------------------------
  // q49: supplier-nation market share per order year (TPC-H Q8 shape) —
  // the deep snowflake join tree: fact → orders (shuffle on orderkey) →
  // customer → nation → region on the demand side, supplier → nation on
  // the supply side, then a conditional-share aggregate per year
  // (NATION_0's revenue share of the AFRICA customers' market). The share
  // numerator and denominator come out of ONE pass (the q46 pattern) —
  // Q8's textbook form computes them with a CASE inside sum, and so
  // does this plan. All four dimension joins broadcast; the only big
  // shuffles are the fact pre-aggregation to order grain... which Q8
  // cannot use (the supplier key lives on the lineitem), so the plan
  // keeps lineitem rows until the orders join — at 100 TB bucket both
  // on orderkey. DECIMAL-routed revenue throughout.
  def q49MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir)
    val demandNations = nat
      .join(Tables.region(spark, dir), $"n_regionkey" === $"r_regionkey")
      .filter($"r_name" === "AFRICA")
      .select($"n_nationkey".as("d_nationkey"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(demandNations), $"c_nationkey" === $"d_nationkey")
      .select($"c_custkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat.select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey", "left_semi")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").as("order_year"))
      .agg(
        sum(when($"supp_nation" === "NATION_0",
            ($"l_extendedprice" * (lit(1.0) - $"l_discount"))
              .cast(DecimalType(18, 6)))
          .otherwise(lit(0).cast(DecimalType(18, 6))))
          .cast("double").as("nation_rev"),
        Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
          .as("market_rev"),
        count(lit(1)).as("n_items"))
      .select($"order_year",
        round($"nation_rev" / $"market_rev", 6).as("mkt_share"),
        $"nation_rev", $"market_rev", $"n_items")
      .orderBy($"order_year")
  }

  val q49Sql: String =
    s"""WITH dn AS (
       |  SELECT n_nationkey FROM nation JOIN region
       |    ON n_regionkey = r_regionkey WHERE r_name = 'AFRICA'),
       |sn AS (
       |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey)
       |SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_0'
       |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
       |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       |    / ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)}, 6)
       |    AS mkt_share,
       |  CAST(SUM(CASE WHEN supp_nation = 'NATION_0'
       |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))
       |      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS nation_rev,
       |  ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS market_rev,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN sn ON l_suppkey = sn.s_suppkey
       |WHERE EXISTS (SELECT 1 FROM customer c JOIN dn
       |    ON c.c_nationkey = dn.n_nationkey
       |  WHERE c.c_custkey = o_custkey)
       |GROUP BY 1 ORDER BY order_year""".stripMargin

  // --------------------------------------------------------------------
  // q50: customer order-count distribution (TPC-H Q13 shape) — the
  // two-level aggregation with a zero-group trap: customers with NO
  // orders must appear in the c_count=0 bucket, which an inner join
  // silently drops. Scale-correct order: pre-aggregate orders to
  // (custkey, n_orders) FIRST (partial-agg on the fact, the big
  // shuffle), then LEFT join customer → coalesce(n, 0) → histogram
  // groupBy on the count value. Joining before aggregating would
  // shuffle order rows keyed by customer twice.
  def q50OrderHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir).select($"c_custkey")
      .join(perCust, $"c_custkey" === $"o_custkey", "left_outer")
      .select(coalesce($"n_orders", lit(0L)).as("c_count"))
      .groupBy($"c_count").agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q50Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
      |cnt AS (
      |  SELECT COALESCE(pc.n_orders, 0) AS c_count
      |  FROM customer LEFT JOIN pc ON c_custkey = o_custkey)
      |SELECT c_count, COUNT(*) AS custdist
      |FROM cnt GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --------------------------------------------------------------------
  // q51: priority mix per return flag (TPC-H Q12 shape; the fixture has
  // no l_shipmode, so the flag plays the mode's role). The orders side
  // is pre-projected to a 2-column (orderkey, is_high) row BEFORE the
  // join — the only reason orders is touched at all is the priority
  // bit, so the shuffle moves one boolean instead of the full order
  // row. Conditional counts come out of ONE pass (the q46 pattern). At
  // 100 TB both sides bucket on orderkey for a co-located join; the
  // group key is 3 values, partial-aggregated map-side.
  def q51PriorityMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select($"o_orderkey",
      ($"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH")
        .as("is_high"))
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
        && $"l_shipdate" < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select($"l_orderkey", $"l_returnflag")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"is_high", 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!$"is_high", 1L).otherwise(0L)).as("low_line_count"),
        count(lit(1)).as("n_lines"))
      .orderBy($"l_returnflag")
  }

  val q51Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // q52: large-volume customers (TPC-H Q18 shape) — orders whose total
  // quantity exceeds 150, with their customer, top-100 by price. Q18's
  // textbook form is GROUP BY + HAVING + IN-subquery; the scale-correct
  // plan pre-aggregates lineitem ONCE to (orderkey, total_qty) — the
  // partial-aggregable big shuffle — filters to the rare big orders
  // (dim-sized survivor set, AQE broadcasts it into the orders join),
  // then joins customer. The top-100 is a TakeOrderedAndProject
  // (per-partition heaps, no global sort); (o_totalprice DESC,
  // o_orderkey) makes the cut deterministic under ties.
  def q52LargeVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(Exact.sum($"l_quantity", 18, 2).as("total_qty"))
      .filter($"total_qty" > 150.0)
    Tables.orders(spark, dir)
      .join(big, $"o_orderkey" === $"l_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey",
        $"o_orderdate", $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  val q52Sql: String =
    s"""WITH big AS (
       |  SELECT l_orderkey, ${Exact.sumSql("l_quantity", 18, 2)} AS total_qty
       |  FROM lineitem GROUP BY 1
       |  HAVING ${Exact.sumSql("l_quantity", 18, 2)} > 150.0)
       |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       |  total_qty
       |FROM orders
       |JOIN big ON o_orderkey = l_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // --------------------------------------------------------------------
  // q53: sole-supplier orders (TPC-H Q21 join skeleton) — suppliers who
  // single-handedly served multi-line orders. Q21's textbook form is an
  // EXISTS + NOT-EXISTS pair of lineitem self-joins (three passes over
  // the fact); the scale-correct rewrite is ONE per-order aggregation
  // — (n_lines, n_distinct_supps, min supp) — from which "multi-line
  // AND single-supplier" is a filter and the supplier attribution is
  // the min (= only) suppkey. One fact shuffle on orderkey replaces
  // two self-join shuffles; the survivor set is rare (17 orders at
  // sf0.01), so everything downstream is dim-sized.
  def q53SoleSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sole = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct($"l_suppkey").as("n_supps"),
        min($"l_suppkey").as("the_supp"))
      .filter($"n_lines" > 1 && $"n_supps" === 1)
    sole.groupBy($"the_supp")
      .agg(count(lit(1)).as("n_sole_orders"), sum($"n_lines").as("n_lines_total"))
      .join(Tables.supplier(spark, dir), $"the_supp" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
      .select($"s_name", $"n_name".as("supp_nation"),
        $"n_sole_orders", $"n_lines_total")
      .orderBy($"n_sole_orders".desc, $"s_name")
  }

  val q53Sql: String =
    """WITH sole AS (
      |  SELECT l_orderkey, COUNT(*) AS n_lines,
      |    MIN(l_suppkey) AS the_supp
      |  FROM lineitem GROUP BY 1
      |  HAVING COUNT(*) > 1 AND COUNT(DISTINCT l_suppkey) = 1),
      |per_supp AS (
      |  SELECT the_supp, COUNT(*) AS n_sole_orders,
      |    CAST(SUM(n_lines) AS BIGINT) AS n_lines_total
      |  FROM sole GROUP BY 1)
      |SELECT s_name, n_name AS supp_nation, n_sole_orders, n_lines_total
      |FROM per_supp
      |JOIN supplier ON the_supp = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_sole_orders DESC, s_name""".stripMargin

  // --------------------------------------------------------------------
  // q54: idle capital per nation (TPC-H Q22 shape) — well-funded
  // customers with no recent orders. The global average balance is a
  // 1-row aggregate broadcast into the filter (no correlated re-scan);
  // the "no recent orders" test is a LEFT ANTI join against the
  // date-filtered orders projection (the filter prunes the anti side
  // BEFORE its shuffle — at 100 TB the recency predicate rides
  // partition pruning on the date-partitioned fact). The threshold is
  // an exact decimal-sum / count, so the > comparison is bit-identical
  // in both engines.
  def q54IdleCapital(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val avgBal = broadcast(cust.filter($"c_acctbal" > 0)
      .agg((Exact.sum($"c_acctbal", 18, 2)
        / count(lit(1))).as("avg_bal")))
    val recent = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      .select($"o_custkey")
    cust.crossJoin(avgBal)
      .filter($"c_acctbal" > $"avg_bal")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("cust_nation"))
      .agg(count(lit(1)).as("n_idle"), Exact.sum($"c_acctbal", 18, 2).as("idle_capital"))
      .orderBy($"cust_nation")
  }

  val q54Sql: String =
    s"""WITH t AS (
       |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
       |    / COUNT(*) AS avg_bal
       |  FROM customer WHERE c_acctbal > 0)
       |SELECT n_name AS cust_nation, COUNT(*) AS n_idle,
       |  ${Exact.sumSql("c_acctbal", 18, 2)} AS idle_capital
       |FROM customer, t
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE c_acctbal > avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |    WHERE o_custkey = c_custkey
       |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |GROUP BY 1 ORDER BY cust_nation""".stripMargin

  // --------------------------------------------------------------------
  // q55: local-supplier volume (TPC-H Q5 shape) — revenue from orders
  // where the customer and the supplier share a nation, per nation.
  // The join graph is the full star: fact → orders (the one big
  // shuffle, on orderkey) plus three BROADCAST dims (customer and
  // supplier each pre-joined to nation — both stay dim-sized). The
  // nation-equality predicate lands in the supplier-join condition, so
  // non-local rows die before aggregation. At 100 TB: bucket
  // lineitem/orders on orderkey; every other edge is a broadcast.
  def q55LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val cust = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_nationkey", $"n_name")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
        && $"l_shipdate" < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name".as("nation"))
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
        .as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy($"revenue".desc, $"nation")
  }

  val q55Sql: String =
    s"""SELECT n_name AS nation,
       |  ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |  AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY 1 ORDER BY revenue DESC, nation""".stripMargin

  // --------------------------------------------------------------------
  // q56: trade volume between nation pairs (TPC-H Q7 shape) — revenue
  // shipped from a supplier nation to a DIFFERENT customer nation, per
  // (supp_nation, cust_nation, ship year). Q7's textbook form
  // enumerates two fixed nations with an OR of both directions; this
  // keeps the full directed matrix (the inequality predicate drops the
  // diagonal), which is the same plan with a wider group key. Both
  // nation attributions are broadcast pre-joins; the only big shuffle
  // is fact → orders on orderkey, then a partial-agged groupBy on the
  // bounded (25 × 25 × years) key.
  def q56TradeVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp),
        $"l_suppkey" === $"s_suppkey" && $"supp_nation" =!= $"cust_nation")
      .filter($"supp_nation".isin("NATION_0", "NATION_1", "NATION_2", "NATION_3")
        && $"cust_nation".isin("NATION_0", "NATION_1", "NATION_2", "NATION_3"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("int").as("ship_year"))
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
        .as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy($"supp_nation", $"cust_nation", $"ship_year")
  }

  val q56Sql: String =
    s"""WITH cn AS (
       |  SELECT c_custkey, n_name AS cust_nation FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey),
       |sn AS (
       |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey)
       |SELECT supp_nation, cust_nation,
       |  CAST(year(l_shipdate) AS INT) AS ship_year,
       |  ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN cn ON o_custkey = c_custkey
       |JOIN sn ON l_suppkey = s_suppkey AND supp_nation <> cust_nation
       |WHERE supp_nation IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3')
       |  AND cust_nation IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3')
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // --------------------------------------------------------------------
  // q57: product-line profit per supplier nation per year (TPC-H Q9
  // shape, adapted: the fixture has no partsupp, so profit =
  // revenue − retail-cost-of-quantity using p_retailprice). The part
  // filter (name contains 'widget') is pushed into the BROADCAST dim
  // before the join, so the fact is pruned by the join itself; supplier
  // → nation is the second broadcast. One big shuffle (fact → orders on
  // orderkey), then a (nation × year)-bounded groupBy.
  def q57ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val widget = Tables.part(spark, dir)
      .filter($"p_name".contains("widget"))
      .select($"p_partkey", $"p_retailprice")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(widget), $"l_partkey" === $"p_partkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"supp_nation", year($"o_orderdate").cast("int").as("o_year"))
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount")
          - $"p_retailprice" * $"l_quantity" * lit(0.1), 18, 6).as("profit"),
        count(lit(1)).as("n_lines"))
      .orderBy($"supp_nation", $"o_year".desc)
  }

  val q57Sql: String =
    s"""WITH sn AS (
       |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey)
       |SELECT supp_nation, CAST(year(o_orderdate) AS INT) AS o_year,
       |  ${Exact.sumSql(
        "l_extendedprice * (1.0 - l_discount) - p_retailprice * l_quantity * 0.1",
        18, 6)} AS profit,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
       |JOIN sn ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1, 2 ORDER BY supp_nation, o_year DESC""".stripMargin

  // --------------------------------------------------------------------
  // q58: returned-item revenue per customer, top 20 (TPC-H Q10 shape) —
  // who cost the most in returns last quarter. Scale-correct order:
  // the returnflag filter prunes the fact FIRST (pushed to the scan),
  // the orderdate filter prunes orders likewise, fact → orders is the
  // one big shuffle (orderkey), THEN the groupBy collapses to customer
  // grain before the customer/nation dims join the aggregate — joining
  // customer before aggregating would carry dim columns through the
  // shuffle. Top-20 = TakeOrderedAndProject with revenue-then-key
  // determinism.
  def q58ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .join(Tables.orders(spark, dir)
        .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("2000-10-01 00:00:00"))
          && $"o_orderdate" < lit(java.sql.Timestamp.valueOf("2001-01-01 00:00:00"))),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
        .as("revenue"), count(lit(1)).as("n_returned"))
    rev
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name".as("cust_nation"),
        $"c_acctbal", $"revenue", $"n_returned")
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q58Sql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS revenue,
       |    COUNT(*) AS n_returned
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE l_returnflag = 'R'
       |    AND o_orderdate >= TIMESTAMP '2000-10-01 00:00:00'
       |    AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
       |  GROUP BY 1)
       |SELECT c_custkey, c_name, n_name AS cust_nation, c_acctbal,
       |  revenue, n_returned
       |FROM rev
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------------
  // q59: chi-square contingency audit — is order priority independent
  // of customer segment? The categorical-independence screen a
  // curation pipeline runs over (source × label)-style pairs before
  // trusting a stratified design. ONE corpus pass: the (segment,
  // priority) groupBy (25 cells); every expected-count and chi-square
  // term is arithmetic over that bounded cell table (row/col marginals
  // via two re-aggregations of the 25 rows — never a second fact
  // scan). Expected = row_tot·col_tot/N in exact-integer-sourced
  // double division, identical in both engines; terms round to 6.
  def q59SegmentPriorityChisq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"),
        $"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("observed"))
    val rowTot = cells.groupBy($"segment")
      .agg(sum($"observed").as("row_tot"))
    val colTot = cells.groupBy($"priority")
      .agg(sum($"observed").as("col_tot"))
    val n = broadcast(cells.agg(sum($"observed").as("n_total")))
    // marginals cast to double BEFORE the product: row_tot·col_tot in
    // int64 overflows near 10^10-row marginals — the 100 TB regime
    val e = ($"row_tot".cast("double") * $"col_tot".cast("double")) / $"n_total"
    cells
      .join(broadcast(rowTot), "segment")
      .join(broadcast(colTot), "priority")
      .crossJoin(n)
      .select($"segment", $"priority", $"observed",
        round(e, 6).as("expected"),
        round((($"observed" - e) * ($"observed" - e)) / e, 6).as("chi2_term"))
      .orderBy($"segment", $"priority")
  }

  val q59Sql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |    COUNT(*) AS observed
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |rt AS (SELECT segment, SUM(observed) AS row_tot FROM cells GROUP BY 1),
      |ct AS (SELECT priority, SUM(observed) AS col_tot FROM cells GROUP BY 1),
      |n AS (SELECT SUM(observed) AS n_total FROM cells)
      |SELECT segment, priority, observed,
      |  ROUND((CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)) / n_total, 6)
      |    AS expected,
      |  ROUND(((observed
      |        - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)) / n_total)
      |      * (observed
      |        - (CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)) / n_total))
      |    / ((CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)) / n_total), 6)
      |    AS chi2_term
      |FROM cells
      |JOIN rt USING (segment)
      |JOIN ct USING (priority)
      |CROSS JOIN n
      |ORDER BY segment, priority""".stripMargin

  // --------------------------------------------------------------------
  // q60: supplier concentration per nation (Herfindahl–Hirschman
  // index) — the market-concentration audit: HHI = Σ (100·share_s)²
  // over a nation's suppliers. One corpus pass to (nation, supplier)
  // revenue grain; every share and HHI term is arithmetic over that
  // dim-sized table. Share terms are DECIMAL(18,8)-quantized before
  // the per-nation sum (the JS-divergence pattern) so the fold is
  // order-insensitive — double share² sums would hash-split engines.
  def q60SupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("nation"))
    val rev = Tables.lineitem(spark, dir)
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .groupBy($"nation", $"l_suppkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast(DecimalType(18, 6))).as("rev"))
    val natTot = rev.groupBy($"nation").agg(sum($"rev").as("nat_rev"))
    rev.join(broadcast(natTot), "nation")
      .select($"nation", $"l_suppkey",
        (($"rev".cast("double") / $"nat_rev".cast("double")) * 100.0)
          .as("share_pct"))
      .groupBy($"nation")
      .agg(count(lit(1)).as("n_suppliers"),
        round(Exact.sum($"share_pct" * $"share_pct", 18, 8), 6).as("hhi"))
      .orderBy($"hhi".desc, $"nation")
  }

  val q60Sql: String =
    """WITH sn AS (
      |  SELECT s_suppkey, n_name AS nation FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey),
      |rev AS (
      |  SELECT nation, l_suppkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
      |      AS rev
      |  FROM lineitem JOIN sn ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2),
      |nt AS (SELECT nation, SUM(rev) AS nat_rev FROM rev GROUP BY 1),
      |sh AS (
      |  SELECT r.nation, l_suppkey,
      |    (CAST(rev AS DOUBLE) / CAST(nat_rev AS DOUBLE)) * 100.0
      |      AS share_pct
      |  FROM rev r JOIN nt ON r.nation = nt.nation)
      |SELECT nation, COUNT(*) AS n_suppliers,
      |  ROUND(CAST(SUM(CAST(share_pct * share_pct AS DECIMAL(18,8)))
      |    AS DOUBLE), 6) AS hhi
      |FROM sh GROUP BY 1 ORDER BY hhi DESC, nation""".stripMargin

  // --------------------------------------------------------------------
  // q61: Pareto concentration curve — what share of revenue the top
  // customer deciles carry (the 80/20 audit). Customers aggregate to
  // revenue grain first (the one fact shuffle), then the deciles come
  // from [[BucketedRank.ntileDesc]] — NTILE's exact output via range
  // buckets + a bounded prefix window + PARTITIONED within-bucket
  // ranks, because TPC-H customers scale WITH the fact (sf100k ≈ 15B
  // customers), so a global NTILE window would funnel fact-scale rows
  // through one task. Revenue stays DECIMAL through both the decile
  // sums and the cumulative fold; shares are one rounded division each.
  def q61ParetoCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE materialization job: the checkpointed customer collapse
    // feeds the rank helper AND the grand total (sum of decile sums ==
    // sum over customers — exact DECIMAL addition is associative), so
    // the decile table is referenced once and needs no checkpoint.
    val perCust = Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("rev"))
      .localCheckpoint()
    val deciled = BucketedRank.ntileDesc(perCust, "rev", "o_custkey", 10, "decile")
    val byDecile = deciled.groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"rev").as("decile_rev"))
    val tot = broadcast(perCust.agg(sum($"rev").as("total_rev")))
    val wCum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(tot)
      .withColumn("cum_rev", sum($"decile_rev").over(wCum))
      .select($"decile", $"n_customers",
        round($"decile_rev".cast("double") / $"total_rev".cast("double"), 6)
          .as("rev_share"),
        round($"cum_rev".cast("double") / $"total_rev".cast("double"), 6)
          .as("cum_share"))
      .orderBy($"decile")
  }

  val q61Sql: String =
    """WITH pc AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |d AS (
      |  SELECT o_custkey, rev,
      |    NTILE(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
      |  FROM pc),
      |bd AS (
      |  SELECT decile, COUNT(*) AS n_customers, SUM(rev) AS decile_rev
      |  FROM d GROUP BY 1),
      |t AS (SELECT SUM(decile_rev) AS total_rev FROM bd),
      |c AS (
      |  SELECT decile, n_customers, decile_rev,
      |    SUM(decile_rev) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
      |  FROM bd)
      |SELECT decile, n_customers,
      |  ROUND(CAST(decile_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
      |    AS rev_share,
      |  ROUND(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6)
      |    AS cum_share
      |FROM c CROSS JOIN t ORDER BY decile""".stripMargin

  // --------------------------------------------------------------------
  // q62: acquisition-cohort revenue matrix — customers grouped by
  // first-order quarter, revenue tracked by quarters-since-acquisition
  // (the cohort retention table every growth dashboard draws). Two
  // shuffles, both partial-aggregable: orders → per-customer first
  // quarter (a min), then the (cohort, age) rollup; the cohort
  // attribute joins back by BROADCAST because the per-customer table
  // collapses to dim grain before the join. Quarter arithmetic is
  // integer (year·4 + quarter), so ages are exact.
  def q62CohortRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_totalprice",
        (year($"o_orderdate") * 4 + quarter($"o_orderdate") - 1).as("q_idx"))
    val firstQ = o.groupBy($"o_custkey".as("fc_cust"))
      .agg(min($"q_idx").as("cohort_q"))
    o.join(broadcast(firstQ), $"o_custkey" === $"fc_cust")
      .groupBy($"cohort_q", ($"q_idx" - $"cohort_q").as("quarters_since"))
      .agg(countDistinct($"o_custkey").as("n_active"),
        count(lit(1)).as("n_orders"),
        Exact.sum($"o_totalprice", 18, 2).as("revenue"))
      .orderBy($"cohort_q", $"quarters_since")
  }

  val q62Sql: String =
    s"""WITH o AS (
       |  SELECT o_custkey, o_totalprice,
       |    CAST(year(o_orderdate) AS INT) * 4 + CAST(quarter(o_orderdate) AS INT) - 1
       |      AS q_idx
       |  FROM orders),
       |fq AS (SELECT o_custkey AS fc_cust, MIN(q_idx) AS cohort_q
       |  FROM o GROUP BY 1)
       |SELECT cohort_q, q_idx - cohort_q AS quarters_since,
       |  COUNT(DISTINCT o_custkey) AS n_active,
       |  COUNT(*) AS n_orders,
       |  ${Exact.sumSql("o_totalprice", 18, 2)} AS revenue
       |FROM o JOIN fq ON o_custkey = fc_cust
       |GROUP BY 1, 2 ORDER BY cohort_q, quarters_since""".stripMargin

  // --------------------------------------------------------------------
  // q63: market-basket association rules at part-TYPE grain — support,
  // confidence, and lift for "orders containing type A also contain
  // type B". Type grain keeps the co-occurrence matrix bounded (6² —
  // item-grain mining needs a support-threshold prune FIRST, the
  // a-priori step, then this same plan over surviving items). One fact
  // pass to DISTINCT (order, type) — map-side dedup — then the
  // per-order pair expansion is ≤ 6²/2 rows per order, a generator
  // not a shuffle. Lift's P(a)·P(b) product is exact-integer-derived
  // double division, identical in both engines.
  def q63MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE corpus shuffle total: dedup-to-set and grouping fuse into a
    // single collect_set aggregation at order grain (a separate
    // DISTINCT pays its own full shuffle first; a self-join pays two
    // and replays the subtree — Spark does not dedupe common
    // subplans, the ddMinhashLsh lesson). The order-grain table is
    // materialized once for its three consumers (pair expansion, type
    // marginals, order count); per-order sets are ≤ |type vocabulary|
    // so both the aggregation buffer and the explode² expansion are
    // bounded.
    val byOrder = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_type")), $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey")
      .agg(collect_set($"p_type").as("types")).localCheckpoint()
    val nOrders = broadcast(byOrder.agg(count(lit(1)).as("n_orders")))
    val typeN = byOrder.select(explode($"types").as("p_type"))
      .groupBy($"p_type").agg(count(lit(1)).as("n_type"))
    val pairs = byOrder
      .select(explode($"types").as("type_a"), $"types")
      .select($"type_a", explode($"types").as("type_b"))
      .filter($"type_a" < $"type_b")
      .groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(typeN.select($"p_type".as("type_a"), $"n_type".as("na"))),
        "type_a")
      .join(broadcast(typeN.select($"p_type".as("type_b"), $"n_type".as("nb"))),
        "type_b")
      .crossJoin(nOrders)
      .select($"type_a", $"type_b", $"n_both",
        round($"n_both".cast("double") / $"n_orders", 6).as("support"),
        round($"n_both".cast("double") / $"na", 6).as("confidence"),
        round(($"n_both".cast("double") * $"n_orders")
          / ($"na".cast("double") * $"nb"), 6).as("lift"))
      .orderBy($"lift".desc, $"type_a", $"type_b")
  }

  val q63Sql: String =
    """WITH ot AS (
      |  SELECT DISTINCT l_orderkey, p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ot),
      |tn AS (SELECT p_type, COUNT(*) AS n_type FROM ot GROUP BY 1),
      |pr AS (
      |  SELECT a.p_type AS type_a, b.p_type AS type_b, COUNT(*) AS n_both
      |  FROM ot a JOIN ot b
      |    ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both,
      |  ROUND(CAST(n_both AS DOUBLE) / n_orders, 6) AS support,
      |  ROUND(CAST(n_both AS DOUBLE) / ta.n_type, 6) AS confidence,
      |  ROUND((CAST(n_both AS DOUBLE) * n_orders)
      |    / (CAST(ta.n_type AS DOUBLE) * tb.n_type), 6) AS lift
      |FROM pr
      |JOIN tn ta ON type_a = ta.p_type
      |JOIN tn tb ON type_b = tb.p_type
      |CROSS JOIN n
      |ORDER BY lift DESC, type_a, type_b""".stripMargin

  // --------------------------------------------------------------------
  // q64: supplier return-rate ranking by Wilson lower bound — the
  // small-sample-safe way to rank rare-event rates (a supplier with
  // 1/2 returns must not outrank one with 40/100): rank on the 95%
  // Wilson score interval's lower bound, not the raw proportion.
  // Formula uses +, ×, ÷, sqrt only — all correctly-rounded IEEE ops,
  // so unlike ln() this adds NO cross-engine fragility (z = 1.96 as a
  // shared literal). One partial-aggregable fact groupBy to supplier
  // grain; the ranking is a TakeOrderedAndProject top-15.
  def q64SupplierReliability(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z2 = 1.96 * 1.96
    val per = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("n_returns"))
    val n = $"n_lines".cast("double")
    val p = $"n_returns".cast("double") / n
    val center = p + lit(z2) / (lit(2.0) * n)
    val margin = lit(1.96) * sqrt(
      (p * (lit(1.0) - p) + lit(z2) / (lit(4.0) * n)) / n)
    val denom = lit(1.0) + lit(z2) / n
    per
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"n_lines", $"n_returns",
        round(p, 6).as("raw_rate"),
        round((center - margin) / denom, 6).as("wilson_lb"))
      .orderBy($"wilson_lb".desc, $"s_suppkey")
      .limit(15)
  }

  val q64Sql: String =
    """WITH per AS (
      |  SELECT l_suppkey, COUNT(*) AS n_lines,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_returns
      |  FROM lineitem GROUP BY 1),
      |w AS (
      |  SELECT l_suppkey, n_lines, n_returns,
      |    CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p,
      |    CAST(n_lines AS DOUBLE) AS n
      |  FROM per)
      |SELECT s_suppkey, s_name, n_lines, n_returns,
      |  ROUND(p, 6) AS raw_rate,
      |  -- z and z² forced to DOUBLE: bare 1.96*1.96 is exact DECIMAL
      |  -- 3.8416 in DuckDB, which converts to a DIFFERENT double than
      |  -- the IEEE product 1.96*1.96 both engines must share
      |  ROUND(((p + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
      |        / (CAST(2.0 AS DOUBLE) * n))
      |      - CAST(1.96 AS DOUBLE)
      |        * sqrt((p * (CAST(1.0 AS DOUBLE) - p)
      |          + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
      |            / (CAST(4.0 AS DOUBLE) * n)) / n))
      |    / (CAST(1.0 AS DOUBLE)
      |      + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n), 6)
      |    AS wilson_lb
      |FROM w JOIN supplier ON l_suppkey = s_suppkey
      |ORDER BY wilson_lb DESC, s_suppkey LIMIT 15""".stripMargin

  // --------------------------------------------------------------------
  // q65: grouped OLS — discount elasticity of quantity per part type:
  // slope = cov(discount, qty) / var(discount) and intercept, fit
  // independently for every group in ONE pass. The moments
  // (Σx, Σy, Σxy, Σx², n) are each an exact DECIMAL sum (the inputs
  // are 2-dp discounts and integral quantities, so every product is
  // exact in DECIMAL(28,8) and the aggregation is order-insensitive);
  // the slope/intercept divisions are the only floating ops, applied
  // once per group. This is the per-segment regression pattern that
  // at 100 TB replaces "collect and sklearn": moments partial-agg
  // map-side, model solves are group-count-sized arithmetic.
  def q65DiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_type")), $"l_partkey" === $"p_partkey")
      .groupBy($"p_type")
      .agg(count(lit(1)).as("n"),
        sum($"l_discount".cast(DecimalType(28, 8))).as("sx"),
        sum($"l_quantity".cast(DecimalType(28, 8))).as("sy"),
        sum(($"l_discount" * $"l_quantity").cast(DecimalType(28, 8))).as("sxy"),
        sum(($"l_discount" * $"l_discount").cast(DecimalType(28, 8))).as("sxx"))
    val n = $"n".cast("double")
    val sx = $"sx".cast("double")
    val sy = $"sy".cast("double")
    val cov = $"sxy".cast("double") - sx * sy / n
    val varx = $"sxx".cast("double") - sx * sx / n
    m.select($"p_type", $"n",
        round(cov / varx, 6).as("slope"),
        round(sy / n - (cov / varx) * (sx / n), 6).as("intercept"))
      .orderBy($"p_type")
  }

  val q65Sql: String =
    """WITH m AS (
      |  SELECT p_type, COUNT(*) AS n,
      |    SUM(CAST(l_discount AS DECIMAL(28,8))) AS sx,
      |    SUM(CAST(l_quantity AS DECIMAL(28,8))) AS sy,
      |    SUM(CAST(l_discount * l_quantity AS DECIMAL(28,8))) AS sxy,
      |    SUM(CAST(l_discount * l_discount AS DECIMAL(28,8))) AS sxx
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1)
      |SELECT p_type, n,
      |  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS slope,
      |  ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
      |    - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
      |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS intercept
      |FROM m ORDER BY p_type""".stripMargin

  // --------------------------------------------------------------------
  // q66: customer value-quartile migration — each customer's revenue
  // quartile in the early period (≤1997) vs the late period (≥1998),
  // cross-tabulated into the 5×5 upgrade/churn matrix (quartile 0 =
  // inactive that period). The longitudinal-segmentation shape: two
  // period aggregates at customer grain, each quartiled by NTILE over
  // DIM-cardinality rows, FULL OUTER joined on customer (absence in a
  // period is a real state, not a dropped row), then a bounded matrix
  // groupBy. At 100 TB both period aggregates shuffle the fact once
  // on custkey — with date partition pruning each reads only its
  // period's partitions.
  def q66QuartileMigration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def periodQuartile(from: String, to: String, qcol: String) = {
      val rev = Tables.orders(spark, dir)
        .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf(from))
          && $"o_orderdate" < lit(java.sql.Timestamp.valueOf(to)))
        .groupBy($"o_custkey")
        .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("rev"))
      // distributed-exact NTILE (see q61's note): customer grain is
      // fact-scale at the 100 TB design point, so no global window
      BucketedRank.ntileDesc(rev, "rev", "o_custkey", 4, qcol)
    }
    val early = periodQuartile("1995-01-01 00:00:00", "1998-01-01 00:00:00", "q_early")
      .select($"o_custkey".as("c_early"), $"q_early")
    val late = periodQuartile("1998-01-01 00:00:00", "2002-01-01 00:00:00", "q_late")
      .select($"o_custkey".as("c_late"), $"q_late")
    early.join(late, $"c_early" === $"c_late", "full_outer")
      .select(coalesce($"q_early", lit(0)).as("q_early"),
        coalesce($"q_late", lit(0)).as("q_late"))
      .groupBy($"q_early", $"q_late")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy($"q_early", $"q_late")
  }

  val q66Sql: String =
    """WITH e AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY 1),
      |eq AS (SELECT o_custkey AS c_early,
      |  NTILE(4) OVER (ORDER BY rev DESC, o_custkey) AS q_early FROM e),
      |l AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'
      |  GROUP BY 1),
      |lq AS (SELECT o_custkey AS c_late,
      |  NTILE(4) OVER (ORDER BY rev DESC, o_custkey) AS q_late FROM l)
      |SELECT COALESCE(q_early, 0) AS q_early,
      |  COALESCE(q_late, 0) AS q_late,
      |  COUNT(*) AS n_customers
      |FROM eq FULL OUTER JOIN lq ON c_early = c_late
      |GROUP BY 1, 2 ORDER BY q_early, q_late""".stripMargin

  // --------------------------------------------------------------------
  // q67: repeat-purchase intervals per segment — the inter-event-time
  // distribution (n, mean, exact median, exact p90 of days between a
  // customer's consecutive orders). The quantiles are EXACT without
  // any per-segment sort: gap values live on a BOUNDED integer domain
  // (days, ≤ calendar span), so the plan aggregates to a (segment,
  // gap_days) histogram first — partial-aggregable, ≤ segments ×
  // span rows — and reads quantiles off the histogram's cumulative
  // counts. A per-segment ORDER BY over raw gaps would put n/5 rows
  // in one sort task at any corpus size; the histogram form is how
  // exact order statistics survive 100 TB when the domain is bounded
  // (the llm_pipeline_budget bucketed-prefix cousin). Lag itself
  // partitions per customer — parallel by construction.
  def q67RepeatIntervals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wLag = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val gaps = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
      .withColumn("prev_date", lag($"o_orderdate", 1).over(wLag))
      .filter($"prev_date".isNotNull)
      .select($"c_mktsegment".as("segment"),
        datediff($"o_orderdate", $"prev_date").as("gap_days"))
    val hist = gaps.groupBy($"segment", $"gap_days")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"segment").orderBy($"gap_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy($"segment").agg(sum($"c").as("n_gaps"))
    hist
      .withColumn("cum", sum($"c").over(wCum))
      .join(broadcast(tot), "segment")
      .groupBy($"segment")
      .agg(first($"n_gaps").as("n_gaps"),
        round(Exact.sum($"gap_days" * $"c", 28, 6) / first($"n_gaps"), 6).as("mean_gap"),
        min(when($"cum" * 2 >= $"n_gaps", $"gap_days")).as("median_gap"),
        min(when($"cum" * 10 >= $"n_gaps" * 9, $"gap_days")).as("p90_gap"))
      .orderBy($"segment")
  }

  val q67Sql: String =
    """WITH g AS (
      |  SELECT c_mktsegment AS segment,
      |    date_diff('day',
      |      LAG(o_orderdate) OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate, o_orderkey),
      |      o_orderdate) AS gap_days
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  QUALIFY LAG(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) IS NOT NULL),
      |h AS (SELECT segment, gap_days, COUNT(*) AS c FROM g GROUP BY 1, 2),
      |t AS (SELECT segment, SUM(c) AS n_gaps FROM h GROUP BY 1),
      |cu AS (
      |  SELECT h.segment, gap_days, c, n_gaps,
      |    SUM(c) OVER (PARTITION BY h.segment ORDER BY gap_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM h JOIN t ON h.segment = t.segment)
      |SELECT segment, CAST(MIN(n_gaps) AS BIGINT) AS n_gaps,
      |  ROUND(CAST(SUM(CAST(gap_days * c AS DECIMAL(28,6))) AS DOUBLE)
      |    / MIN(n_gaps), 6) AS mean_gap,
      |  MIN(CASE WHEN cum * 2 >= n_gaps THEN gap_days END) AS median_gap,
      |  MIN(CASE WHEN cum * 10 >= n_gaps * 9 THEN gap_days END) AS p90_gap
      |FROM cu GROUP BY segment ORDER BY segment""".stripMargin

  // --------------------------------------------------------------------
  // q68: min-cost supplier per part (TPC-H Q2 shape, adapted: this
  // schema has no partsupp, so supply cost is DERIVED from lineitem as
  // each supplier's decimal-exact average unit price for the part).
  // Scale shape: ONE partial-aggregable groupBy collapses the fact to
  // (part, supplier) — the big shuffle — then the per-part argmin is a
  // row_number window over that collapsed table (suppliers-per-part is
  // bounded, so no partition skews), and the region restriction
  // broadcasts. The textbook correlated-min subquery would re-scan the
  // fact; this never reads it twice.
  def q68MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val nat = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter($"r_name" === "EUROPE"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val cost = Tables.lineitem(spark, dir)
      .join(broadcast(supp.select($"s_suppkey".as("k"))), $"l_suppkey" === $"k")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg((Exact.sum($"l_extendedprice", 18, 6) / Exact.sum($"l_quantity", 18, 6))
        .as("unit_cost"))
    val w = Window.partitionBy($"l_partkey")
      .orderBy($"unit_cost", $"l_suppkey")
    cost
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.part(spark, dir)
        .select($"p_partkey", $"p_type")), $"l_partkey" === $"p_partkey")
      .select($"s_acctbal", $"s_name", $"n_name".as("supp_nation"),
        $"p_partkey", $"p_type", round($"unit_cost", 6).as("unit_cost"))
      .orderBy($"s_acctbal".desc, $"s_name", $"p_partkey")
      .limit(100)
  }

  val q68Sql: String =
    s"""WITH supp AS (
       |  SELECT s_suppkey, s_name, s_acctbal, n_name
       |  FROM supplier
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE'),
       |cost AS (
       |  SELECT l_partkey, l_suppkey,
       |    ${Exact.sumSql("l_extendedprice", 18, 6)} / ${Exact.sumSql("l_quantity", 18, 6)}
       |      AS unit_cost
       |  FROM lineitem JOIN supp ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |best AS (
       |  SELECT l_partkey, l_suppkey, unit_cost
       |  FROM cost
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_partkey
       |    ORDER BY unit_cost, l_suppkey) = 1)
       |SELECT s_acctbal, s_name, n_name AS supp_nation,
       |  p_partkey, p_type, ROUND(unit_cost, 6) AS unit_cost
       |FROM best
       |JOIN supp ON l_suppkey = s_suppkey
       |JOIN part ON l_partkey = p_partkey
       |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 100""".stripMargin

  // --------------------------------------------------------------------
  // q69: blocking suppliers (TPC-H Q21 shape, adapted: no commit/
  // receipt dates, so "the blocker" is the UNIQUE latest shipper in a
  // multi-supplier order). Two partial-aggregable collapses — fact →
  // (order, supplier, last_ship), then → per-order (n_supp, max, and
  // how many suppliers sit at the max) — and one join back on the
  // order key. Nothing row-level survives the first groupBy, and no
  // window runs over the (potentially hot) order key.
  def q69BlockingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Single-pass shape: the r9 form re-joined perSupp against its own
    // per-order max, which meant EITHER two fact scans (ReuseExchange
    // does not dedupe the identical aggregate subtree — verified) or a
    // fact-sized materialization (measured 1.5× slower at 16× warm).
    // Instead, one `repartition(l_orderkey)` clusters the fact once;
    // all three cascaded groupBys — (order, supplier) last-ship, then
    // (order, date) supplier tallies, then per-order max_by — are
    // prefixed by the order key, so HashPartitioning(l_orderkey)
    // satisfies every ClusteredDistribution and NO further exchange
    // runs (PlanSpec pins one scan + one fact shuffle, no Join).
    // max_by is tie-free: s_last is a group key at the (order, date)
    // grain, so the max date row is unique within each order.
    val perOrder = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .repartition($"l_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max($"l_shipdate").as("s_last"))
      .groupBy($"l_orderkey", $"s_last")
      .agg(count(lit(1)).as("n_at_date"), min($"l_suppkey").as("min_supp"))
      .groupBy($"l_orderkey")
      .agg(sum($"n_at_date").as("n_supp"),
        max_by($"n_at_date", $"s_last").as("n_at_max"),
        max_by($"min_supp", $"s_last").as("blocker"))
    perOrder
      .filter($"n_supp" >= 2 && $"n_at_max" === 1)
      .groupBy($"blocker")
      .agg(count(lit(1)).as("n_blocked_orders"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_name")), $"blocker" === $"s_suppkey")
      .select($"s_name", $"n_blocked_orders")
      .orderBy($"n_blocked_orders".desc, $"s_name")
      .limit(20)
  }

  val q69Sql: String =
    """WITH per_supp AS (
      |  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_last
      |  FROM lineitem GROUP BY 1, 2),
      |per_order AS (
      |  SELECT l_orderkey AS ok, COUNT(*) AS n_supp,
      |    MAX(s_last) AS o_last
      |  FROM per_supp GROUP BY 1),
      |at_max AS (
      |  SELECT p.l_orderkey, o.n_supp, COUNT(*) AS n_at_max,
      |    MIN(p.l_suppkey) AS blocker
      |  FROM per_supp p
      |  JOIN per_order o ON p.l_orderkey = o.ok AND p.s_last = o.o_last
      |  GROUP BY 1, 2)
      |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n_blocked_orders
      |FROM at_max JOIN supplier ON blocker = s_suppkey
      |WHERE n_supp >= 2 AND n_at_max = 1
      |GROUP BY s_name
      |ORDER BY n_blocked_orders DESC, s_name LIMIT 20""".stripMargin

  // --------------------------------------------------------------------
  // q70: dormant high-balance customers (TPC-H Q22 shape, adapted: no
  // phone country codes, so the report groups by nation; and every
  // synthetic customer has SOME order, so dormancy means no order in
  // the calendar's final stretch — ≥ 2000-01-01 — rather than none
  // ever). The global positive-balance average is ONE decimal-exact
  // scalar broadcast into the filter; dormancy is a left-anti join
  // against the recent-orders key collapsed to DISTINCT custkeys
  // (partial-aggregable, AND date-pruned first — the anti probe moves
  // |recently active customers| rows, not |orders|).
  def q70DormantCapital(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val avgPos = broadcast(cust.filter($"c_acctbal" > 0.0)
      .agg((Exact.sum($"c_acctbal", 18, 6) / count(lit(1))).as("avg_bal")))
    val active = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      .select($"o_custkey").distinct()
    cust
      .crossJoin(avgPos)
      .filter($"c_acctbal" > $"avg_bal")
      .join(active, $"c_custkey" === $"o_custkey", "left_anti")
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"))
      .agg(count(lit(1)).as("n_custs"),
        round(Exact.sum($"c_acctbal", 18, 6), 2).as("total_bal"))
      .orderBy($"nation")
  }

  val q70Sql: String =
    s"""WITH avg_pos AS (
       |  SELECT ${Exact.sumSql("c_acctbal", 18, 6)} / COUNT(*) AS avg_bal
       |  FROM customer WHERE c_acctbal > 0),
       |active AS (SELECT DISTINCT o_custkey FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
       |SELECT n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_custs,
       |  ROUND(${Exact.sumSql("c_acctbal", 18, 6)}, 2) AS total_bal
       |FROM customer CROSS JOIN avg_pos
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE c_acctbal > avg_bal
       |  AND NOT EXISTS (SELECT 1 FROM active WHERE o_custkey = c_custkey)
       |GROUP BY n_name ORDER BY nation""".stripMargin

  // --------------------------------------------------------------------
  // q71: ship-latency profile per order priority — n, mean, EXACT
  // median and p95 of datediff(shipdate, orderdate). Same bounded-
  // integer-domain order-statistics trick as q67, but over the one
  // fact-fact join in the schema: lineitem⋈orders on the order key
  // (both sides fact-sized — neither broadcasts at 100 TB; the equi
  // join shuffles each once, partial-aggregable histogram after).
  // The (priority, lag_days) histogram is calendar-bounded (5
  // priorities × a few thousand distinct day lags), so the exact
  // median costs a 25k-row cumulative window, never a per-group sort
  // of the fact.
  def q71ShipLatency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lags = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_shipdate")
      .join(Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority".as("priority"),
        datediff($"l_shipdate", $"o_orderdate").as("lag_days"))
    val hist = lags.groupBy($"priority", $"lag_days")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy($"priority").orderBy($"lag_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy($"priority").agg(sum($"c").as("n_lines"))
    hist
      .withColumn("cum", sum($"c").over(wCum))
      .join(broadcast(tot), "priority")
      .groupBy($"priority")
      .agg(first($"n_lines").as("n_lines"),
        round(Exact.sum($"lag_days" * $"c", 28, 6) / first($"n_lines"), 6).as("mean_lag"),
        min(when($"cum" * 2 >= $"n_lines", $"lag_days")).as("median_lag"),
        min(when($"cum" * 20 >= $"n_lines" * 19, $"lag_days")).as("p95_lag"))
      .orderBy($"priority")
  }

  val q71Sql: String =
    """WITH g AS (
      |  SELECT o_orderpriority AS priority,
      |    date_diff('day', o_orderdate, l_shipdate) AS lag_days
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |h AS (SELECT priority, lag_days, COUNT(*) AS c FROM g GROUP BY 1, 2),
      |t AS (SELECT priority, SUM(c) AS n_lines FROM h GROUP BY 1),
      |cu AS (
      |  SELECT h.priority, lag_days, c, n_lines,
      |    SUM(c) OVER (PARTITION BY h.priority ORDER BY lag_days
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM h JOIN t ON h.priority = t.priority)
      |SELECT priority, CAST(MIN(n_lines) AS BIGINT) AS n_lines,
      |  ROUND(CAST(SUM(CAST(lag_days * c AS DECIMAL(28,6))) AS DOUBLE)
      |    / MIN(n_lines), 6) AS mean_lag,
      |  MIN(CASE WHEN cum * 2 >= n_lines THEN lag_days END) AS median_lag,
      |  MIN(CASE WHEN cum * 20 >= n_lines * 19 THEN lag_days END) AS p95_lag
      |FROM cu GROUP BY priority ORDER BY priority""".stripMargin

  // --------------------------------------------------------------------
  // q72: decile lift / cumulative-gains table — does early-period
  // spend predict late-period spend? Rank early-active customers into
  // value deciles by pre-1998 revenue, then measure each decile's
  // share of post-1998 revenue and the cumulative capture curve (the
  // model-lift report marketers run on churn scores, computed here on
  // the identity "model" early_rev). Scale shape: two date-pruned
  // partial-aggregable collapses of orders at customer grain, then
  // distributed-exact NTILE via [[BucketedRank.ntileDesc]] (customer
  // grain is fact-scale at 100 TB — see q61), then a 10-row decile
  // rollup + cumulative window.
  def q72DecileLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cut = lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
    val o = Tables.orders(spark, dir)
    val early = o.filter($"o_orderdate" < cut)
      .groupBy($"o_custkey").agg(Exact.sum($"o_totalprice", 18, 2).as("early_rev"))
    val late = o.filter($"o_orderdate" >= cut)
      .groupBy($"o_custkey".as("lk"))
      .agg(Exact.sum($"o_totalprice", 18, 2).as("late_rev"))
    // ONE materialization job: the checkpointed customer-grain join
    // feeds the rank helper AND the grand totals (the decile column is
    // irrelevant to the sums), so the decile table is referenced once.
    val joined = early
      .join(late, $"o_custkey" === $"lk", "left")
      .select($"o_custkey", $"early_rev",
        coalesce($"late_rev", lit(0.0)).as("late_rev"))
      .localCheckpoint()
    val deciled = BucketedRank.ntileDesc(joined, "early_rev", "o_custkey", 10, "decile")
    val totals = broadcast(joined.agg(
      Exact.sum($"early_rev", 28, 6).as("te"),
      Exact.sum($"late_rev", 28, 6).as("tl")))
    val perDecile = deciled.groupBy($"decile")
      .agg(count(lit(1)).as("n_custs"),
        Exact.sum($"early_rev", 28, 6).as("de"),
        Exact.sum($"late_rev", 28, 6).as("dl"))
    val wCum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile.crossJoin(totals)
      .withColumn("cum_dl", sum($"dl".cast(DecimalType(28, 6)))
        .over(wCum).cast("double"))
      .select($"decile", $"n_custs",
        round($"de" / $"te", 6).as("early_share"),
        round($"dl" / $"tl", 6).as("late_share"),
        round($"cum_dl" / $"tl", 6).as("cum_late_share"))
      .orderBy($"decile")
  }

  val q72Sql: String =
    s"""WITH e AS (
       |  SELECT o_custkey, ${Exact.sumSql("o_totalprice", 18, 2)} AS early_rev
       |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1),
       |l AS (
       |  SELECT o_custkey AS lk, ${Exact.sumSql("o_totalprice", 18, 2)} AS late_rev
       |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
       |  GROUP BY 1),
       |d AS (
       |  SELECT o_custkey, early_rev, COALESCE(late_rev, 0.0) AS late_rev,
       |    NTILE(10) OVER (ORDER BY early_rev DESC, o_custkey) AS decile
       |  FROM e LEFT JOIN l ON o_custkey = lk),
       |t AS (
       |  SELECT CAST(SUM(CAST(early_rev AS DECIMAL(28,6))) AS DOUBLE) AS te,
       |    CAST(SUM(CAST(late_rev AS DECIMAL(28,6))) AS DOUBLE) AS tl
       |  FROM d),
       |p AS (
       |  SELECT decile, COUNT(*) AS n_custs,
       |    CAST(SUM(CAST(early_rev AS DECIMAL(28,6))) AS DOUBLE) AS de,
       |    CAST(SUM(CAST(late_rev AS DECIMAL(28,6))) AS DOUBLE) AS dl
       |  FROM d GROUP BY 1)
       |SELECT CAST(decile AS INT) AS decile, CAST(n_custs AS BIGINT) AS n_custs,
       |  ROUND(de / te, 6) AS early_share,
       |  ROUND(dl / tl, 6) AS late_share,
       |  ROUND(CAST(SUM(CAST(dl AS DECIMAL(28,6))) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / tl, 6) AS cum_late_share
       |FROM p CROSS JOIN t ORDER BY decile""".stripMargin

  // --------------------------------------------------------------------
  // q73: per-nation trade balance — revenue earned as suppliers
  // (exports) vs order value spent as customers (imports), balance and
  // export ratio. Two INDEPENDENT fact collapses reconciled at the
  // 25-row nation grain: the supplier side collapses lineitem revenue
  // through a broadcast supplier→nation map; the customer side uses
  // o_totalprice at order grain (orders is the right fact for spend —
  // re-deriving it from lineitem would double the scan for the same
  // number). FULL OUTER at nation grain so a one-sided nation is a
  // value, not a dropped row.
  def q73TradeBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val exports = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey".as("ek"))
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
        .as("export_rev"))
    val imports = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("ik"))
      .agg(Exact.sum($"o_totalprice", 18, 2).as("import_val"))
    exports.join(imports, $"ek" === $"ik", "full_outer")
      .join(broadcast(nat), coalesce($"ek", $"ik") === $"n_nationkey")
      .select($"n_name".as("nation"),
        round(coalesce($"export_rev", lit(0.0)), 2).as("export_rev"),
        round(coalesce($"import_val", lit(0.0)), 2).as("import_val"),
        round(coalesce($"export_rev", lit(0.0))
          - coalesce($"import_val", lit(0.0)), 2).as("balance"),
        round(coalesce($"export_rev", lit(0.0))
          / (coalesce($"export_rev", lit(0.0))
            + coalesce($"import_val", lit(0.0))), 6).as("export_ratio"))
      .orderBy($"nation")
  }

  val q73Sql: String =
    s"""WITH ex AS (
       |  SELECT s_nationkey AS ek,
       |    ${Exact.sumSql("l_extendedprice * (1.0 - l_discount)", 18, 6)} AS export_rev
       |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1),
       |im AS (
       |  SELECT c_nationkey AS ik, ${Exact.sumSql("o_totalprice", 18, 2)} AS import_val
       |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
       |SELECT n_name AS nation,
       |  ROUND(COALESCE(export_rev, 0.0), 2) AS export_rev,
       |  ROUND(COALESCE(import_val, 0.0), 2) AS import_val,
       |  ROUND(COALESCE(export_rev, 0.0) - COALESCE(import_val, 0.0), 2)
       |    AS balance,
       |  ROUND(COALESCE(export_rev, 0.0)
       |    / (COALESCE(export_rev, 0.0) + COALESCE(import_val, 0.0)), 6)
       |    AS export_ratio
       |FROM ex FULL OUTER JOIN im ON ek = ik
       |JOIN nation ON COALESCE(ek, ik) = n_nationkey
       |ORDER BY nation""".stripMargin

  // --------------------------------------------------------------------
  // q74: Laspeyres price index by ship year — Σ p_t·q₀ / Σ p₀·q₀ over
  // the parts traded in both the base year (1995) and year t, with
  // base-year quantities as fixed weights (the CPI construction; here
  // it answers "did this supplier network's prices drift, holding the
  // basket constant?"). Scale shape: ONE fact collapse to (year, part)
  // decimal moments — the (year, part) grain is dim-bounded (years ×
  // parts), so everything after is arithmetic on a small table. That
  // collapse feeds TWO consumers (the base-year slice and the
  // all-years side), so it is materialized — the Spark-never-dedupes-
  // subplans lesson (q63, q69).
  def q74PriceIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pp = Tables.lineitem(spark, dir)
      .groupBy(year($"l_shipdate").as("yr"), $"l_partkey")
      .agg(Exact.sum($"l_extendedprice", 18, 6).as("sp"),
        Exact.sum($"l_quantity", 18, 6).as("sq"))
      .select($"yr", $"l_partkey", ($"sp" / $"sq").as("p"), $"sq").localCheckpoint()
    val base = pp.filter($"yr" === 1995)
      .select($"l_partkey".as("bk"), $"p".as("p0"), $"sq".as("q0"))
    pp.join(base, $"l_partkey" === $"bk")
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_parts"),
        round(Exact.sum($"p" * $"q0", 28, 6)
          / Exact.sum($"p0" * $"q0", 28, 6),
          6).as("price_index"))
      .orderBy($"yr")
  }

  val q74Sql: String =
    """WITH pp AS (
      |  SELECT year(l_shipdate) AS yr, l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |      / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS p,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (
      |  SELECT l_partkey AS bk, p AS p0, sq AS q0 FROM pp WHERE yr = 1995)
      |SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  ROUND(CAST(SUM(CAST(p * q0 AS DECIMAL(28,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(p0 * q0 AS DECIMAL(28,6))) AS DOUBLE), 6)
      |    AS price_index
      |FROM pp JOIN base ON l_partkey = bk
      |GROUP BY yr ORDER BY yr""".stripMargin

  // --------------------------------------------------------------------
  // q75: Paasche + Fisher price indexes by ship year — the canonical
  // companions of q74's Laspeyres: Paasche weights by CURRENT-year
  // quantities (Σ p_t·q_t / Σ p₀·q_t — "what does this year's basket
  // cost at this year's vs base prices"), and Fisher is their
  // geometric mean √(L·P), the superlative index that bounds the
  // substitution bias the two one-sided indexes carry in opposite
  // directions. Same part universe as q74 (parts traded in both the
  // 1995 base year and year t), so the L−P gap is read directly.
  // Scale shape: identical to q74 — ONE fact collapse to the
  // dim-bounded (year, part) decimal moments, materialized (base
  // slice + all-years side), then arithmetic on the small table; the
  // doubled index algebra costs nothing more at any scale. (q75 was a
  // skipped number in the wave-58 series until r14 — restored with
  // this query rather than renumbering, per the r13 verdict's
  // registry-hygiene item.)
  def q75PaascheIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pp = Tables.lineitem(spark, dir)
      .groupBy(year($"l_shipdate").as("yr"), $"l_partkey")
      .agg(Exact.sum($"l_extendedprice", 18, 6).as("sp"),
        Exact.sum($"l_quantity", 18, 6).as("sq"))
      .select($"yr", $"l_partkey", ($"sp" / $"sq").as("p"), $"sq").localCheckpoint()
    val base = pp.filter($"yr" === 1995)
      .select($"l_partkey".as("bk"), $"p".as("p0"), $"sq".as("q0"))
    pp.join(base, $"l_partkey" === $"bk")
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_parts"),
        (Exact.sum($"p" * $"sq", 28, 6)
          / Exact.sum($"p0" * $"sq", 28, 6))
          .as("pa"),
        (Exact.sum($"p" * $"q0", 28, 6)
          / Exact.sum($"p0" * $"q0", 28, 6))
          .as("la"))
      .select($"yr", $"n_parts",
        round($"pa", 6).as("paasche_index"),
        round(sqrt($"pa" * $"la"), 6).as("fisher_index"))
      .orderBy($"yr")
  }

  val q75Sql: String =
    """WITH pp AS (
      |  SELECT year(l_shipdate) AS yr, l_partkey,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |      / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS p,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq
      |  FROM lineitem GROUP BY 1, 2),
      |base AS (
      |  SELECT l_partkey AS bk, p AS p0, sq AS q0 FROM pp WHERE yr = 1995),
      |ix AS (
      |  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    CAST(SUM(CAST(p * sq AS DECIMAL(28,6))) AS DOUBLE)
      |      / CAST(SUM(CAST(p0 * sq AS DECIMAL(28,6))) AS DOUBLE) AS pa,
      |    CAST(SUM(CAST(p * q0 AS DECIMAL(28,6))) AS DOUBLE)
      |      / CAST(SUM(CAST(p0 * q0 AS DECIMAL(28,6))) AS DOUBLE) AS la
      |  FROM pp JOIN base ON l_partkey = bk
      |  GROUP BY yr)
      |SELECT yr, n_parts, ROUND(pa, 6) AS paasche_index,
      |  ROUND(SQRT(pa * la), 6) AS fisher_index
      |FROM ix ORDER BY yr""".stripMargin

  // --------------------------------------------------------------------
  // q76: supplier churn by ship year — of the suppliers active
  // (shipping ≥ 1 line) in year t, how many ship nothing in t+1? The
  // supplier-side retention curve (q39 is the user-side one). The
  // final calendar year has no successor and is excluded rather than
  // reported as fake 100% churn. Scale shape: ONE fact collapse to
  // the dim-bounded (year, supplier) distinct table, MATERIALIZED
  // (three consumers: year-t side, year-t+1 probe, max-year scalar);
  // the churn probe is a left join at that collapsed grain — the
  // fact is never rescanned.
  def q76SupplierChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ys = Tables.lineitem(spark, dir)
      .select(year($"l_shipdate").as("yr"), $"l_suppkey").distinct().localCheckpoint()
    val maxYr = broadcast(ys.agg(max($"yr").as("max_yr")))
    val next = ys.select(($"yr" - 1).as("prev_yr"),
      $"l_suppkey".as("nk"))
    ys.join(next, $"yr" === $"prev_yr" && $"l_suppkey" === $"nk", "left")
      .crossJoin(maxYr)
      .filter($"yr" < $"max_yr")
      .groupBy($"yr")
      .agg(count(lit(1)).as("n_active"),
        sum(when($"nk".isNull, 1L).otherwise(0L)).as("n_churned"))
      .select($"yr", $"n_active", $"n_churned",
        round($"n_churned".cast("double") / $"n_active", 6)
          .as("churn_rate"))
      .orderBy($"yr")
  }

  val q76Sql: String =
    """WITH ys AS (
      |  SELECT DISTINCT year(l_shipdate) AS yr, l_suppkey FROM lineitem),
      |m AS (SELECT MAX(yr) AS max_yr FROM ys),
      |j AS (
      |  SELECT a.yr, a.l_suppkey,
      |    CASE WHEN b.l_suppkey IS NULL THEN 1 ELSE 0 END AS churned
      |  FROM ys a LEFT JOIN ys b
      |    ON a.yr + 1 = b.yr AND a.l_suppkey = b.l_suppkey
      |  CROSS JOIN m WHERE a.yr < max_yr)
      |SELECT yr, CAST(COUNT(*) AS BIGINT) AS n_active,
      |  CAST(SUM(churned) AS BIGINT) AS n_churned,
      |  ROUND(CAST(SUM(churned) AS DOUBLE) / COUNT(*), 6) AS churn_rate
      |FROM j GROUP BY yr ORDER BY yr""".stripMargin

  // --------------------------------------------------------------------
  // q77: per-brand return rate with a Wilson lower confidence bound
  // (z = 1.96) — the ranking statistic that doesn't reward small
  // samples: a brand with 3/4 returns must NOT outrank one with
  // 700/2400, which a raw rate ranking does. Ranking by the Wilson LB
  // is the standard fix (the same construction behind "sort by rating"
  // done right). Scale shape: the fact collapses to l_partkey grain
  // FIRST (partial-aggregable, one shuffle on the natural key), then
  // joins `part` at the collapsed co-keyed grain and re-aggregates to
  // the 25-brand domain — the wide fact never joins row-per-line.
  // Determinism: n and r are exact integers per brand; the bound is a
  // fixed-order chain of correctly-rounded IEEE ops (÷, ·, sqrt) on
  // them, written identically in both engines (SURVEY §5.1).
  def q77WilsonReturns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perPart = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("r"))
    val brand = perPart
      .join(Tables.part(spark, dir).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(sum($"n").as("n_items"), sum($"r").as("n_returns"))
    val z2 = 1.96 * 1.96
    val nD = $"n_items".cast("double")
    val p = $"n_returns".cast("double") / nD
    val lb = (p + lit(z2) / (nD * 2.0)
      - lit(1.96) * sqrt((p * (lit(1.0) - p) + lit(z2) / (nD * 4.0)) / nD)) /
      (lit(1.0) + lit(z2) / nD)
    brand.select($"p_brand", $"n_items", $"n_returns",
      round(p, 6).as("return_rate"), round(lb, 6).as("wilson_lb"))
      .orderBy($"wilson_lb".desc, $"p_brand".asc)
  }

  val q77Sql: String =
    """WITH pp AS (
      |  SELECT l_partkey, COUNT(*) AS n,
      |    SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
      |  FROM lineitem GROUP BY 1),
      |b AS (
      |  SELECT p_brand, CAST(SUM(n) AS BIGINT) AS n_items,
      |    CAST(SUM(r) AS BIGINT) AS n_returns
      |  FROM pp JOIN part ON l_partkey = p_partkey GROUP BY 1),
      |w AS (
      |  SELECT p_brand, n_items, n_returns,
      |    CAST(n_returns AS DOUBLE) / CAST(n_items AS DOUBLE) AS p,
      |    CAST(n_items AS DOUBLE) AS nd
      |  FROM b)
      |SELECT p_brand, n_items, n_returns, ROUND(p, 6) AS return_rate,
      |  ROUND((p + (1.96 * 1.96) / (nd * 2.0)
      |    - 1.96 * SQRT((p * (1.0 - p) + (1.96 * 1.96) / (nd * 4.0)) / nd))
      |    / (1.0 + (1.96 * 1.96) / nd), 6) AS wilson_lb
      |FROM w ORDER BY wilson_lb DESC, p_brand ASC""".stripMargin

  // --------------------------------------------------------------------
  // q78: multiplicative monthly seasonal index — for each calendar
  // month, the mean over years of (that month's revenue / its year's
  // monthly mean), i.e. the classical ratio-to-moving-average
  // seasonality decomposition at yearly granularity. The demand-
  // planning twin of st_hourly_profile (that one profiles event load
  // by hour-of-week; this one profiles REVENUE by month-of-year, with
  // each year normalized by its own level so secular growth doesn't
  // masquerade as seasonality). Scale shape: ONE fact collapse to the
  // dim-bounded (year, month) decimal revenue grid (≤ 12·years rows,
  // partial-aggregable), MATERIALIZED for its two consumers (year
  // means + the ratio join); everything after is arithmetic on the
  // grid. Determinism: cell revenues are DECIMAL sums; each ratio is
  // one correctly-rounded division; the cross-year mean of ratios
  // routes through DECIMAL(28,12) (order-insensitive).
  def q78SeasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.lineitem(spark, dir)
      .groupBy(year($"l_shipdate").as("yr"), month($"l_shipdate").as("mo"))
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
        .as("rev")).localCheckpoint()
    val ym = cells.groupBy($"yr")
      .agg((Exact.sum($"rev")
        / count(lit(1))).as("ymean"))
    cells.join(broadcast(ym), "yr")
      .select($"mo", ($"rev" / $"ymean").as("ratio"))
      .groupBy($"mo")
      .agg(count(lit(1)).as("n_years"),
        round(Exact.sum($"ratio")
          / count(lit(1)), 6).as("seasonal_index"))
      .orderBy($"mo")
  }

  val q78Sql: String =
    """WITH cells AS (
      |  SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mo,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |ym AS (
      |  SELECT yr,
      |    CAST(SUM(CAST(rev AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
      |      AS ymean
      |  FROM cells GROUP BY 1),
      |r AS (
      |  SELECT mo, cells.rev / ym.ymean AS ratio
      |  FROM cells JOIN ym ON cells.yr = ym.yr)
      |SELECT mo, CAST(COUNT(*) AS BIGINT) AS n_years,
      |  ROUND(CAST(SUM(CAST(ratio AS DECIMAL(28,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS seasonal_index
      |FROM r GROUP BY mo ORDER BY mo""".stripMargin

  // --------------------------------------------------------------------
  // q79: fiscal-quarter revenue growth — QoQ (lag 1) and YoY (lag 4)
  // growth rates over the (year, quarter) revenue series. The
  // board-deck twin of q78: the seasonal index is the STRUCTURE of
  // the year, this is the TREND through it (YoY is the standard
  // seasonality-free growth read precisely because it lags the full
  // cycle q78 measures). Scale shape: ONE fact collapse to the
  // dim-bounded (year, quarter) DECIMAL grid; the lag windows run
  // UNPARTITIONED over ≤ 4·years rows — the q67/st_arrival_rate
  // bounded-domain window argument. First-quarter growths are NULL
  // (no prior period), not fake zeros. Determinism: cell revenues
  // are DECIMAL sums; each growth is one subtraction + one division
  // on bit-identical doubles.
  def q79QuarterGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.lineitem(spark, dir)
      .groupBy(year($"l_shipdate").as("yr"),
        ((month($"l_shipdate") + 2) / 3).cast("int").as("qtr"))
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 18, 6)
        .as("rev"), count(lit(1)).as("n_lines"))
    val w = Window.orderBy($"yr", $"qtr")
    cells
      .withColumn("prev_q", lag($"rev", 1).over(w))
      .withColumn("prev_y", lag($"rev", 4).over(w))
      // whole-dollar revenue: ROUND(x, 2) straddled a cent boundary at
      // sf0.1 (Spark's exact-decimal HALF_UP vs DuckDB's scaled
      // std::round disagree in the last ulp of a .985 cent); integer
      // dollars have no such boundary at any realistic magnitude
      .select($"yr", $"qtr", $"n_lines",
        round($"rev", 0).cast("long").as("revenue"),
        round(($"rev" - $"prev_q") / $"prev_q", 6).as("qoq_growth"),
        round(($"rev" - $"prev_y") / $"prev_y", 6).as("yoy_growth"))
      .orderBy($"yr", $"qtr")
  }

  val q79Sql: String =
    """WITH cells AS (
      |  SELECT year(l_shipdate) AS yr,
      |    CAST((month(l_shipdate) + 2) // 3 AS INT) AS qtr,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS rev,
      |    COUNT(*) AS n_lines
      |  FROM lineitem GROUP BY 1, 2),
      |lagd AS (
      |  SELECT *,
      |    LAG(rev, 1) OVER (ORDER BY yr, qtr) AS prev_q,
      |    LAG(rev, 4) OVER (ORDER BY yr, qtr) AS prev_y
      |  FROM cells)
      |SELECT yr, qtr, n_lines, CAST(ROUND(rev, 0) AS BIGINT) AS revenue,
      |  ROUND((rev - prev_q) / prev_q, 6) AS qoq_growth,
      |  ROUND((rev - prev_y) / prev_y, 6) AS yoy_growth
      |FROM lagd ORDER BY yr, qtr""".stripMargin

  // --------------------------------------------------------------------
  // q80: order-fulfillment spread — per order year, how many orders
  // ship all lines within one calendar month vs 2 vs 3+ (distinct
  // ship months per order). The fragmentation histogram behind
  // split-shipment cost: a 3+-month order pays storage and shipping
  // per fragment, and a year-over-year drift in the 1-month share is
  // the fulfillment-health trend q71's latency percentiles can't show
  // (latency measures WHEN lines ship, this measures how SCATTERED
  // one order's lines are). Scale shape: the fact collapses to
  // l_orderkey grain FIRST (countDistinct month over the natural
  // key's partial-agg shuffle), then joins `orders` at the collapsed
  // co-keyed grain and re-aggregates to the (year × 3) histogram.
  // All-integer until the share division.
  def q80FulfillmentSpread(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(countDistinct(year($"l_shipdate") * 12 + month($"l_shipdate"))
        .as("n_months"))
    val yearly = perOrder
      .join(Tables.orders(spark, dir)
        .select($"o_orderkey", year($"o_orderdate").as("yr")),
        $"l_orderkey" === $"o_orderkey")
      .select($"yr", least($"n_months", lit(3L)).as("spread_bucket"))
      .groupBy($"yr", $"spread_bucket").agg(count(lit(1)).as("n_orders")).localCheckpoint()
    val tot = yearly.groupBy($"yr").agg(sum($"n_orders").as("n_yr"))
    yearly.join(broadcast(tot), "yr")
      .select($"yr", $"spread_bucket", $"n_orders",
        round($"n_orders".cast("double") / $"n_yr", 6).as("share"))
      .orderBy($"yr", $"spread_bucket")
  }

  val q80Sql: String =
    """WITH po AS (
      |  SELECT l_orderkey,
      |    COUNT(DISTINCT year(l_shipdate) * 12 + month(l_shipdate))
      |      AS n_months
      |  FROM lineitem GROUP BY 1),
      |y AS MATERIALIZED (
      |  SELECT year(o_orderdate) AS yr,
      |    LEAST(n_months, 3) AS spread_bucket,
      |    COUNT(*) AS n_orders
      |  FROM po JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |t AS (SELECT yr, SUM(n_orders) AS n_yr FROM y GROUP BY 1)
      |SELECT y.yr, CAST(y.spread_bucket AS BIGINT) AS spread_bucket,
      |  CAST(y.n_orders AS BIGINT) AS n_orders,
      |  ROUND(CAST(y.n_orders AS DOUBLE) / t.n_yr, 6) AS share
      |FROM y JOIN t ON y.yr = t.yr
      |ORDER BY y.yr, y.spread_bucket""".stripMargin

  // --------------------------------------------------------------------
  // q81: discount-depth mix by ship year — per year: share of
  // discounted lines, quantity-weighted mean depth, foregone revenue
  // (Σ extprice·disc, whole dollars), and the share of gross revenue
  // given away. The pricing-policy trend: q65 asks whether discounts
  // MOVE volume (elasticity); this asks what they COST and whether
  // the give-away rate is drifting. Scale shape: ONE fact collapse to
  // per-year DECIMAL moments (the discount domain is the 11-value
  // grid, so every aggregate is partial-aggregable with O(1) state);
  // no joins at all. Whole-dollar money columns (the q79 ROUND(·,2)
  // cent-boundary lesson); shares/depths are single divisions.
  def q81DiscountMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy(year($"l_shipdate").as("yr"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"l_discount" > 0.0, 1L).otherwise(0L)).as("n_discounted"),
        Exact.sum($"l_discount" * $"l_quantity", 18, 6).as("sdq"),
        Exact.sum($"l_quantity", 18, 6).as("sq"),
        Exact.sum($"l_extendedprice" * $"l_discount", 18, 6).as("foregone"),
        Exact.sum($"l_extendedprice", 18, 6).as("gross"))
      .select($"yr", $"n_lines", $"n_discounted",
        round($"n_discounted".cast("double") / $"n_lines", 6)
          .as("discounted_share"),
        round($"sdq" / $"sq", 6).as("mean_depth_qty_weighted"),
        round($"foregone", 0).cast("long").as("foregone_revenue"),
        round($"foregone" / $"gross", 6).as("foregone_share"))
      .orderBy($"yr")
  }

  val q81Sql: String =
    """WITH y AS (
      |  SELECT year(l_shipdate) AS yr, COUNT(*) AS n_lines,
      |    SUM(CASE WHEN l_discount > 0.0 THEN 1 ELSE 0 END)
      |      AS n_discounted,
      |    CAST(SUM(CAST(l_discount * l_quantity AS DECIMAL(18,6)))
      |      AS DOUBLE) AS sdq,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sq,
      |    CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
      |      AS DOUBLE) AS foregone,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |      AS gross
      |  FROM lineitem GROUP BY 1)
      |SELECT yr, CAST(n_lines AS BIGINT) AS n_lines,
      |  CAST(n_discounted AS BIGINT) AS n_discounted,
      |  ROUND(CAST(n_discounted AS DOUBLE) / n_lines, 6)
      |    AS discounted_share,
      |  ROUND(sdq / sq, 6) AS mean_depth_qty_weighted,
      |  CAST(ROUND(foregone, 0) AS BIGINT) AS foregone_revenue,
      |  ROUND(foregone / gross, 6) AS foregone_share
      |FROM y ORDER BY yr""".stripMargin

  // --------------------------------------------------------------------
  // q82_return_repurchase: does a return depress the next purchase? —
  // for consecutive order pairs per customer (date order, orderkey
  // tie-break), compare the 30-day repurchase rate and median gap after
  // a returned order (any lineitem flagged 'R') vs a clean one. The
  // behavioral-conditional shape (event → next-event latency split by
  // the event's own outcome) that funnel/retention queries can't
  // express without the per-entity ordered window. Scale shape: the
  // return flag collapses lineitem to order grain (one partial-agg
  // shuffle on l_orderkey); the lead window partitions by customer
  // (bounded per customer); the final rollup is a 2-row conditional
  // aggregate. Median gap via the histogram-cumulative definition over
  // the bounded gap domain (the q71 device) — no per-row sort.
  def q82ReturnRepurchase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val flagged = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(max(when($"l_returnflag" === "R", 1L).otherwise(0L))
        .as("returned"))
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .join(flagged, $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"returned")
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
    val pairs = ord
      .withColumn("next_date", lead($"o_orderdate", 1).over(w))
      .filter($"next_date".isNotNull)
      .select($"returned",
        datediff($"next_date", $"o_orderdate").as("gap")).localCheckpoint()
    val gapHist = pairs.groupBy($"returned", $"gap")
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy($"returned").orderBy($"gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = gapHist.groupBy($"returned")
      .agg(sum($"c").as("n_pairs"))
    val med = gapHist
      .withColumn("cum", sum($"c").over(wc))
      .join(tot, "returned")
      .filter($"cum" * 2 >= $"n_pairs")
      .groupBy($"returned").agg(min($"gap").as("median_gap_days"))
    val rates = pairs.groupBy($"returned")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"gap" <= 30, 1L).otherwise(0L)).as("n_within_30d"))
    rates.join(med, "returned")
      .select($"returned", $"n_pairs", $"n_within_30d",
        round($"n_within_30d".cast("double") / $"n_pairs".cast("double"), 6)
          .as("rate_30d"),
        $"median_gap_days".cast("long").as("median_gap_days"))
      .orderBy($"returned")
  }

  val q82Sql: String =
    """WITH flagged AS (
      |  SELECT l_orderkey,
      |    MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS returned
      |  FROM lineitem GROUP BY l_orderkey),
      |ord AS (
      |  SELECT o.o_custkey, o.o_orderkey, o.o_orderdate, f.returned
      |  FROM orders o JOIN flagged f ON o.o_orderkey = f.l_orderkey),
      |pairs AS (
      |  SELECT returned,
      |    DATEDIFF('day', o_orderdate, LEAD(o_orderdate, 1) OVER
      |      (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
      |      AS gap
      |  FROM ord
      |  QUALIFY gap IS NOT NULL),
      |gh AS (SELECT returned, gap, COUNT(*) AS c FROM pairs GROUP BY 1, 2),
      |tot AS (SELECT returned, SUM(c) AS n_pairs FROM gh GROUP BY 1),
      |med AS (
      |  SELECT gh.returned, MIN(gh.gap) AS median_gap_days
      |  FROM (SELECT *, SUM(c) OVER (PARTITION BY returned ORDER BY gap
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |    FROM gh) gh
      |  JOIN tot ON gh.returned = tot.returned
      |  WHERE gh.cum * 2 >= tot.n_pairs
      |  GROUP BY gh.returned),
      |r AS (
      |  SELECT returned, COUNT(*) AS n_pairs,
      |    SUM(CASE WHEN gap <= 30 THEN 1 ELSE 0 END) AS n_within_30d
      |  FROM pairs GROUP BY 1)
      |SELECT CAST(r.returned AS BIGINT) AS returned,
      |  CAST(r.n_pairs AS BIGINT) AS n_pairs,
      |  CAST(r.n_within_30d AS BIGINT) AS n_within_30d,
      |  ROUND(CAST(r.n_within_30d AS DOUBLE) / CAST(r.n_pairs AS DOUBLE), 6)
      |    AS rate_30d,
      |  CAST(med.median_gap_days AS BIGINT) AS median_gap_days
      |FROM r JOIN med ON r.returned = med.returned
      |ORDER BY returned""".stripMargin

  // q83_price_dispersion: cross-supplier price dispersion per part —
  // for every part sold by ≥ 3 suppliers, the coefficient of variation
  // of the per-supplier mean unit price (extendedprice/quantity), top
  // 20 parts by CV. The "law of one price" audit a procurement desk
  // runs: a high-CV part means some suppliers charge multiples of
  // others for the SAME part — an arbitrage (or data-quality) flag
  // that q68's min-cost lookup answers for one part but can't rank.
  // Scale shape: two cascaded partial-aggregable groupBys — lineitem
  // collapses on (partkey, suppkey), then on partkey (HashPartitioning
  // on the prefix, no second exchange needed for the same reason as
  // q69's cascade); the top-20 is a sort of the part-grain aggregate,
  // never of lineitem. Determinism: unit price is a double division of
  // doubles (IEEE-identical both engines); per-supplier means and the
  // part-grain moment sums go through DECIMAL(28,12); variance uses
  // the same (s2 - s1²/n)/(n-1) form floored at 0 in both engines; the
  // ORDER BY runs on the RAW cv with partkey tie-break.
  def q83PriceDispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Deliberately NOT the q69 single-shuffle cascade (repartition on
    // l_partkey before both groupBys): that form loses map-side partial
    // aggregation and ships raw fact rows — measured 19% slower at 16×.
    // Here the first groupBy shuffles PARTIALLY-AGGREGATED (part,supp)
    // rows and the second exchange carries only the collapsed
    // supplier-grain table (|parts × supps| ≪ fact), so two exchanges
    // beat one.
    val supp = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey",
        ($"l_extendedprice".cast("double") / $"l_quantity".cast("double"))
          .as("up"))
      .groupBy($"l_partkey", $"l_suppkey")
      .agg((Exact.sum($"up") / count(lit(1))).as("sp"))
    val stats = supp.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_suppliers"),
        Exact.sum($"sp").as("s1"), Exact.sum($"sp" * $"sp").as("s2"))
      .filter($"n_suppliers" >= 3)
      .select($"l_partkey", $"n_suppliers",
        ($"s1" / $"n_suppliers").as("mean_price"),
        sqrt(greatest(($"s2" - $"s1" * $"s1" / $"n_suppliers")
          / ($"n_suppliers" - 1), lit(0.0))).as("sd"))
    stats
      .select($"l_partkey", $"n_suppliers",
        round($"mean_price", 6).as("mean_unit_price"),
        round($"sd" / $"mean_price", 6).as("price_cv"),
        ($"sd" / $"mean_price").as("cv_raw"))
      .orderBy($"cv_raw".desc, $"l_partkey")
      .limit(20)
      .select($"l_partkey", $"n_suppliers", $"mean_unit_price", $"price_cv")
  }

  val q83Sql: String =
    """WITH supp AS (
      |  SELECT l_partkey, l_suppkey,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DOUBLE)
      |      / CAST(l_quantity AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
      |      / COUNT(*) AS sp
      |  FROM lineitem GROUP BY 1, 2),
      |p AS (
      |  SELECT l_partkey, COUNT(*) AS n_suppliers,
      |    CAST(SUM(CAST(sp AS DECIMAL(28,12))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(sp * sp AS DECIMAL(28,12))) AS DOUBLE) AS s2
      |  FROM supp GROUP BY 1
      |  HAVING COUNT(*) >= 3),
      |stats AS (
      |  SELECT l_partkey, n_suppliers,
      |    s1 / n_suppliers AS mean_price,
      |    SQRT(GREATEST((s2 - s1 * s1 / n_suppliers) / (n_suppliers - 1),
      |      0.0)) AS sd
      |  FROM p)
      |SELECT l_partkey, CAST(n_suppliers AS BIGINT) AS n_suppliers,
      |  ROUND(mean_price, 6) AS mean_unit_price,
      |  ROUND(sd / mean_price, 6) AS price_cv
      |FROM stats
      |ORDER BY sd / mean_price DESC, l_partkey
      |LIMIT 20""".stripMargin

  // --------------------------------------------------------------------
  // q84_benford_audit: Benford's-law first-digit test on extendedprice
  // — the classic fabricated-numbers / synthetic-data tripwire an
  // ingest pipeline runs on any money-like column before trusting it.
  // Per digit 1..9: observed count, observed vs expected share, the
  // chi² contribution, plus the total chi² and a conformance verdict
  // (χ²₀.₉₉ at df=8 = 20.09; TPC-H prices are uniform-ish, so on this
  // fixture the verdict is EXPECTED to be "nonconforming" — the audit
  // reports the law's failure, it does not assume it holds).
  // Scale shape: ONE fact scan collapses to a ≤9-row digit histogram
  // (partial-aggregable, O(1) state); the dense digit spine, expected
  // shares, chi² and verdict are arithmetic on that bounded table.
  // Determinism: the first digit is extracted integer-exactly
  // (cents = round(price·100) is exact for 2-decimal money, then the
  // leading char of the BIGINT's decimal string — no float log10,
  // whose rounding at exact powers of ten differs across libm); the
  // expected shares are 12-decimal LITERALS in both engines (never a
  // folded log10(1+1/d)); the verdict gates the RAW chi² vs the
  // literal 20.09.
  /** The ≤9-row digit histogram — the audit's single fact scan, split
    * out so PlanSpec can assert the one-scan property on the build
    * (the registered query materializes it: spine/total/chi²/verdict
    * are four consumers, and without the checkpoint each one re-scans
    * the fact — 4 lineitem scans measured on the first draft). */
  private[graft] def q84DigitHist(spark: SparkSession,
                                  dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select(substring(round($"l_extendedprice" * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n_obs"))
  }

  def q84BenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = q84DigitHist(spark, dir).localCheckpoint()
    val expShare = Map(
      1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
      4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
      7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)
    val expCol = expShare.foldLeft(lit(0.0)) { case (acc, (d, p)) =>
      when($"digit" === d, lit(p)).otherwise(acc)
    }
    val spine = spark.range(1, 10).select($"id".cast("int").as("digit"))
    val dense = spine.join(obs, Seq("digit"), "left")
      .select($"digit", coalesce($"n_obs", lit(0L)).as("n_obs"),
        expCol.as("exp_share"))
    // n = 0 (empty fact) => the defined result is EMPTY, never a row
    // of 0/0 NaNs — the DegenerateInputSpec contract
    val tot = dense.agg(sum($"n_obs").as("n")).select($"n")
      .filter($"n" > 0)
    val terms = dense.crossJoin(broadcast(tot))
      .select($"digit", $"n_obs", $"n", $"exp_share",
        (($"n_obs".cast("double") - $"n" * $"exp_share")
          * ($"n_obs".cast("double") - $"n" * $"exp_share")
          / ($"n" * $"exp_share")).as("term"))
    val chi2 = terms
      .agg(Exact.sum($"term").as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select($"digit", $"n_obs",
        round($"n_obs".cast("double") / $"n", 6).as("obs_share"),
        round($"exp_share", 6).as("exp_share"),
        round($"term", 6).as("chi2_term"),
        round($"chi2", 6).as("chi2_total"),
        when($"chi2" > 20.09, lit("nonconforming"))
          .otherwise(lit("conforming")).as("verdict"))
      .orderBy($"digit")
  }

  val q84Sql: String =
    """WITH obs AS (
      |  SELECT CAST(SUBSTR(CAST(CAST(ROUND(l_extendedprice * 100, 0)
      |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
      |    COUNT(*) AS n_obs
      |  FROM lineitem GROUP BY 1),
      |spine AS (SELECT unnest(generate_series(1, 9)) AS digit),
      |dense AS (
      |  SELECT s.digit, COALESCE(o.n_obs, 0) AS n_obs,
      |    CASE s.digit
      |      WHEN 1 THEN CAST(0.301029995664 AS DOUBLE)
      |      WHEN 2 THEN CAST(0.176091259056 AS DOUBLE)
      |      WHEN 3 THEN CAST(0.124938736608 AS DOUBLE)
      |      WHEN 4 THEN CAST(0.096910013008 AS DOUBLE)
      |      WHEN 5 THEN CAST(0.079181246048 AS DOUBLE)
      |      WHEN 6 THEN CAST(0.066946789631 AS DOUBLE)
      |      WHEN 7 THEN CAST(0.057991946978 AS DOUBLE)
      |      WHEN 8 THEN CAST(0.051152522447 AS DOUBLE)
      |      ELSE CAST(0.045757490561 AS DOUBLE) END AS exp_share
      |  FROM spine s LEFT JOIN obs o ON o.digit = s.digit),
      |tot AS (SELECT SUM(n_obs) AS n FROM dense HAVING SUM(n_obs) > 0),
      |terms AS (
      |  SELECT d.digit, d.n_obs, t.n, d.exp_share,
      |    (CAST(d.n_obs AS DOUBLE) - t.n * d.exp_share)
      |      * (CAST(d.n_obs AS DOUBLE) - t.n * d.exp_share)
      |      / (t.n * d.exp_share) AS term
      |  FROM dense d CROSS JOIN tot t),
      |x AS (
      |  SELECT CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS chi2
      |  FROM terms)
      |SELECT CAST(t.digit AS INT) AS digit, CAST(t.n_obs AS BIGINT) AS n_obs,
      |  ROUND(CAST(t.n_obs AS DOUBLE) / t.n, 6) AS obs_share,
      |  ROUND(CAST(t.exp_share AS DOUBLE), 6) AS exp_share,
      |  ROUND(t.term, 6) AS chi2_term,
      |  ROUND(x.chi2, 6) AS chi2_total,
      |  CASE WHEN x.chi2 > 20.09 THEN 'nonconforming'
      |    ELSE 'conforming' END AS verdict
      |FROM terms t CROSS JOIN x
      |ORDER BY t.digit""".stripMargin

  // --------------------------------------------------------------------
  // q85_gini: exact Gini coefficient of supplier revenue per nation —
  // the Lorenz-curve inequality index, the scale-free companion to
  // q60's HHI (HHI is share-of-squares — dominated by the top firms;
  // Gini prices the WHOLE distribution, so a nation where the middle
  // tier collapsed scores high Gini at modest HHI). Rank-sum form on
  // ascending revenue: G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx).
  // Scale shape: ONE fact shuffle collapses lineitem to supplier
  // grain; the nation dim broadcasts onto that entity-sized table;
  // the rank window partitions by nation over SUPPLIER rows (entity-
  // bounded — at any corpus scale suppliers ≪ fact; the same dim-not-
  // fact window argument as q61). Determinism: revenue is the
  // DECIMAL(28,12) order-insensitive sum; the rank orders by (raw
  // revenue, suppkey) — a total order on identical doubles; i·xᵢ
  // re-enters DECIMAL before the nation rollup; zero-revenue nations
  // report gini = 0, never NaN.
  def q85Gini(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey")
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
    val dim = Tables.supplier(spark, dir)
      .select($"s_suppkey", $"s_nationkey")
      .join(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name".as("nation")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"nation")
    val ranked = rev.join(broadcast(dim), $"l_suppkey" === $"s_suppkey")
      .withColumn("i", row_number().over(
        Window.partitionBy($"nation").orderBy($"rev", $"l_suppkey")))
    ranked.groupBy($"nation")
      .agg(count(lit(1)).as("n_suppliers"),
        Exact.sum($"rev").as("tot"),
        Exact.sum($"i" * $"rev").as("wsum"))
      .select($"nation", $"n_suppliers",
        round($"tot", 2).as("total_revenue"),
        round(when($"tot" <= 0.0, 0.0)
          .otherwise((lit(2.0) * $"wsum" - ($"n_suppliers" + 1) * $"tot")
            / ($"n_suppliers" * $"tot")), 6).as("gini"),
        when($"tot" <= 0.0, 0.0)
          .otherwise((lit(2.0) * $"wsum" - ($"n_suppliers" + 1) * $"tot")
            / ($"n_suppliers" * $"tot")).as("g_raw"))
      .orderBy($"g_raw".desc, $"nation")
      .select($"nation", $"n_suppliers", $"total_revenue", $"gini")
  }

  val q85Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS rev
      |  FROM lineitem GROUP BY 1),
      |dim AS (
      |  SELECT s_suppkey, n_name AS nation
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
      |ranked AS (
      |  SELECT d.nation, r.rev,
      |    ROW_NUMBER() OVER (PARTITION BY d.nation
      |      ORDER BY r.rev, r.l_suppkey) AS i
      |  FROM rev r JOIN dim d ON r.l_suppkey = d.s_suppkey),
      |a AS (
      |  SELECT nation, COUNT(*) AS n,
      |    CAST(SUM(CAST(rev AS DECIMAL(28,12))) AS DOUBLE) AS tot,
      |    CAST(SUM(CAST(i * rev AS DECIMAL(28,12))) AS DOUBLE) AS wsum
      |  FROM ranked GROUP BY 1)
      |SELECT nation, CAST(n AS BIGINT) AS n_suppliers,
      |  ROUND(tot, 2) AS total_revenue,
      |  ROUND(CASE WHEN tot <= 0.0 THEN 0.0
      |    ELSE (2.0 * wsum - (n + 1) * tot) / (n * tot) END, 6) AS gini
      |FROM a
      |ORDER BY CASE WHEN tot <= 0.0 THEN 0.0
      |  ELSE (2.0 * wsum - (n + 1) * tot) / (n * tot) END DESC, nation""".stripMargin

  // --------------------------------------------------------------------
  // q86_anova: one-way ANOVA of ship latency across order priorities —
  // between/within variance decomposition and the F statistic, with a
  // verdict vs F₀.₉₅(k−1, ∞) selected from a literal table by the
  // data-driven group count (both engines). The hypothesis-test
  // companion to q71's per-priority percentiles: the percentile table
  // SHOWS the spread, the F-test says whether priority explains real
  // latency variance at this order volume (the SLA-tiering audit — if
  // F is insignificant, the priority field is cosmetic and a scheduler
  // keyed on it is cargo cult). Same family as llm_sample_deff's
  // variance decomposition, on the relational fact with the F gate
  // deff deliberately omits.
  // Scale shape: ONE co-keyed fact join (lineitem ⋈ orders on
  // orderkey — the q71 join; bucketed co-location at cluster scale)
  // collapses to per-priority (n, Σy, Σy²) — partial-aggregable
  // DECIMAL sums, O(1) state; every SS/F term is arithmetic on that
  // ≤5-row table. Determinism: latency is an integer datediff; moment
  // forms written identically both engines (Σy² − (Σy)²/n, never the
  // centered pass); the verdict gates the RAW F vs the literal.
  /** The per-priority (n, Σy, Σy²) moment table — the ANOVA's single
    * fact pass, split out so PlanSpec can assert the one-scan property
    * on the build (the registered query materializes it: tot/x/f/final
    * are cascading consumers that would otherwise each replay the fact
    * join). */
  private[graft] def q86MomentTable(spark: SparkSession,
                                    dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_shipdate")
      .join(Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority".as("priority"),
        datediff($"l_shipdate", $"o_orderdate").cast("double").as("y"))
      .groupBy($"priority")
      .agg(count(lit(1)).as("n"), Exact.sum($"y").as("s1"),
        Exact.sum($"y" * $"y").as("s2"))
  }

  def q86Anova(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = q86MomentTable(spark, dir).localCheckpoint()
    val tot = g.agg(sum($"n").as("nt"), count(lit(1)).as("k"),
      Exact.sum($"s1").as("t1"), Exact.sum($"s2").as("t2")).filter($"k" >= 2)
    val x = g.crossJoin(broadcast(tot))
      .select($"priority", $"n", $"s1", $"s2", $"nt", $"k", $"t1", $"t2",
        // per-group between-SS term n_g·(ȳ_g − ȳ)², moment form
        (($"s1" / $"n" - $"t1" / $"nt") * ($"s1" / $"n" - $"t1" / $"nt")
          * $"n").as("ssb_term"),
        ($"s2" - $"s1" * $"s1" / $"n").as("ssw_term"))
    val f = x.agg(
      Exact.sum($"ssb_term").as("ssb"),
      Exact.sum($"ssw_term").as("ssw"),
      max($"nt").as("nt2"), max($"k").as("k2"))
      .select($"ssb", $"ssw",
        when($"ssw" <= 0.0 || $"k2" <= 1 || $"nt2" <= $"k2", 0.0)
          .otherwise(($"ssb" / ($"k2" - 1))
            / ($"ssw" / ($"nt2" - $"k2"))).as("f_raw"),
        // F₀.₉₅(k−1, ∞) critical value selected by the DATA-DRIVEN
        // group count (the fixture has k=5 priorities, but the guard
        // only requires k≥2, so the verdict must not bake in df1=4).
        // Literal table for df1 ∈ 1..8; clamped at the df1=8 value
        // beyond that (F crit decreases slowly in df1 — the clamp
        // overstates crit by <2% at df1=12, an approximation the
        // oracle mirrors exactly). n is fixture-scale (≥thousands per
        // group), so the ∞ denominator df is the right column.
        {
          val df1 = $"k2" - 1
          when(df1 === 1, 3.8415).when(df1 === 2, 2.9957)
            .when(df1 === 3, 2.6049).when(df1 === 4, 2.3719)
            .when(df1 === 5, 2.2141).when(df1 === 6, 2.0986)
            .when(df1 === 7, 2.0096).otherwise(1.9384)
        }.as("f_crit"))
    x.crossJoin(broadcast(f))
      .select($"priority", $"n",
        round($"s1" / $"n", 6).as("mean_lag"),
        round(when($"n" <= 1, 0.0)
          .otherwise(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)), 6)
          .as("var_lag"),
        round($"ssb", 6).as("ss_between"),
        round($"ssw", 6).as("ss_within"),
        round($"f_raw", 6).as("f_stat"),
        when($"f_raw" > $"f_crit", lit("significant"))
          .otherwise(lit("insignificant")).as("verdict"))
      .orderBy($"priority")
  }

  val q86Sql: String =
    """WITH g AS (
      |  SELECT o_orderpriority AS priority, COUNT(*) AS n,
      |    CAST(SUM(CAST(CAST(DATE_DIFF('day', o_orderdate, l_shipdate)
      |      AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(CAST(DATE_DIFF('day', o_orderdate, l_shipdate)
      |      AS DOUBLE) * CAST(DATE_DIFF('day', o_orderdate, l_shipdate)
      |      AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS s2
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n) AS nt, COUNT(*) AS k,
      |    CAST(SUM(CAST(s1 AS DECIMAL(28,12))) AS DOUBLE) AS t1,
      |    CAST(SUM(CAST(s2 AS DECIMAL(28,12))) AS DOUBLE) AS t2
      |  FROM g HAVING COUNT(*) >= 2),
      |x AS (
      |  SELECT g.priority, g.n, g.s1, g.s2, t.nt, t.k, t.t1,
      |    (g.s1 / g.n - t.t1 / t.nt) * (g.s1 / g.n - t.t1 / t.nt) * g.n
      |      AS ssb_term,
      |    g.s2 - g.s1 * g.s1 / g.n AS ssw_term
      |  FROM g CROSS JOIN tot t),
      |fz AS (
      |  SELECT
      |    CAST(SUM(CAST(ssb_term AS DECIMAL(28,12))) AS DOUBLE) AS ssb,
      |    CAST(SUM(CAST(ssw_term AS DECIMAL(28,12))) AS DOUBLE) AS ssw,
      |    MAX(nt) AS nt2, MAX(k) AS k2
      |  FROM x),
      |fr AS (
      |  SELECT ssb, ssw,
      |    CASE WHEN ssw <= 0.0 OR k2 <= 1 OR nt2 <= k2 THEN 0.0
      |      ELSE (ssb / (k2 - 1)) / (ssw / (nt2 - k2)) END AS f_raw,
      |    CASE k2 - 1 WHEN 1 THEN 3.8415 WHEN 2 THEN 2.9957
      |      WHEN 3 THEN 2.6049 WHEN 4 THEN 2.3719 WHEN 5 THEN 2.2141
      |      WHEN 6 THEN 2.0986 WHEN 7 THEN 2.0096
      |      ELSE 1.9384 END AS f_crit
      |  FROM fz)
      |SELECT x.priority, CAST(x.n AS BIGINT) AS n,
      |  ROUND(x.s1 / x.n, 6) AS mean_lag,
      |  ROUND(CASE WHEN x.n <= 1 THEN 0.0
      |    ELSE (x.s2 - x.s1 * x.s1 / x.n) / (x.n - 1) END, 6) AS var_lag,
      |  ROUND(f.ssb, 6) AS ss_between,
      |  ROUND(f.ssw, 6) AS ss_within,
      |  ROUND(f.f_raw, 6) AS f_stat,
      |  CASE WHEN f.f_raw > f.f_crit THEN 'significant'
      |    ELSE 'insignificant' END AS verdict
      |FROM x CROSS JOIN fr f
      |ORDER BY x.priority""".stripMargin

  // --------------------------------------------------------------------
  // q87_column_profile: ANALYZE-style statistics pass over the fact
  // table — per column, exact distinct count, null count, and distinct
  // ratio. The stats every optimizer decision hangs on (join-order
  // cardinality estimates, dictionary-encoding choice, z-order column
  // selection — llm_pipeline_zorder/skipping consume exactly this kind
  // of profile) made a first-class query. Counts only, deliberately no
  // min/max/top-value: value RENDERING is engine-specific (double and
  // timestamp formatting diverge between engines) while counts are
  // portable.
  // Scale shape: ONE scan; the 11 simultaneous exact distincts expand
  // the stream 11× into one shuffle (Spark's Expand) — the classic
  // stats-collection pass; at 100 TB you swap exact distinct for the
  // HLL sketch (llm_ta_heavy_hitters' device) column by column, same
  // plan shape. Determinism: all outputs are integers plus one
  // integer-ratio double; row order is the literal column list order.
  def q87ColumnProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val li = Tables.lineitem(spark, dir)
    val aggs = count(lit(1)).as("n") +:
      cols.flatMap(c => Seq(
        countDistinct(col(c)).as(s"d_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"z_$c")))
    val one = li.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("ord"), lit(c).as("column_name"),
        col(s"d_$c").as("n_distinct"), col(s"z_$c").as("n_nulls"))
    }
    one.select($"n", explode(array(stacked: _*)).as("s"))
      .filter($"n" > 0)
      .select($"s.column_name", $"n", $"s.n_distinct", $"s.n_nulls",
        round($"s.n_distinct".cast("double") / $"n", 6)
          .as("distinct_ratio"))
      .orderBy($"column_name")
  }

  val q87Sql: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val aggSel = cols.map(c =>
      s"COUNT(DISTINCT $c) AS d_$c,\n    " +
        s"SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS z_$c")
      .mkString(",\n    ")
    val rows = cols.map(c =>
      s"SELECT '$c' AS column_name, n, d_$c AS n_distinct," +
        s" z_$c AS n_nulls FROM one").mkString("\n  UNION ALL ")
    s"""WITH one AS (
       |  SELECT COUNT(*) AS n,
       |    $aggSel
       |  FROM lineitem HAVING COUNT(*) > 0),
       |st AS (
       |  $rows)
       |SELECT column_name, CAST(n AS BIGINT) AS n,
       |  CAST(n_distinct AS BIGINT) AS n_distinct,
       |  CAST(n_nulls AS BIGINT) AS n_nulls,
       |  ROUND(CAST(n_distinct AS DOUBLE) / n, 6) AS distinct_ratio
       |FROM st ORDER BY column_name""".stripMargin
  }

  // --------------------------------------------------------------------
  // q88_repeat_business: relationship-depth histogram of the
  // (customer, supplier) trading pairs — how many pairs traded on
  // exactly 1, 2, 3, … orders (log2-bucketed above 4), the repeat
  // share, and per-depth revenue. The loyalty/lock-in audit: RFM
  // (q45) profiles the CUSTOMER, this profiles the RELATIONSHIP — a
  // marketplace where 90% of pairs are one-shot has no switching
  // costs; deep repeat pairs are de-facto contracts (and the dense
  // co-purchase backbone the graph ops mine). Buckets: exact 1/2/3,
  // then powers of two (4 = 4..7, 8 = 8..15, ...) via the portable
  // len(bin(n))-1 log2.
  // Scale shape: lineitem collapses to distinct (cust, supp, order)
  // via one partial-agg shuffle (joined to orders co-keyed on
  // orderkey first), then (cust, supp) grain, then the ≤~8-row depth
  // histogram — a strictly shrinking cascade, no windows, no second
  // fact scan. Determinism: depth buckets are integer arithmetic
  // (len(bin(n))-1 above 4 — the degree() portable-log2 form);
  // revenue DECIMAL-routed; ordered by bucket.
  def q88RepeatBusiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // collapse the fact to (order, supplier) grain BEFORE the orders
    // join (custkey is functionally dependent on orderkey, so the
    // values are identical) — the join then ships the collapsed table,
    // not raw lineitem: measured 2x cheaper at sf0.1
    val osRev = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(Exact.sum($"rev").as("orev"))
    val pairs = osRev
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey", $"l_suppkey")
      .agg(count(lit(1)).as("n_orders"), Exact.sum($"orev").as("prev"))
    val bucketed = pairs.select(
      when($"n_orders" <= 3, $"n_orders")
        .otherwise(expr(
          "shiftleft(1L, cast(length(bin(n_orders)) - 1 as int))"))
        .as("depth_bucket"),
      $"n_orders", $"prev")
    // ≤~8-row histogram, two consumers (totals + final) — materialized
    // so the fact cascade runs once
    val hist = bucketed.groupBy($"depth_bucket")
      .agg(count(lit(1)).as("n_pairs"), sum($"n_orders").as("n_orders"),
        Exact.sum($"prev").as("rev")).localCheckpoint()
    val tot = hist.agg(sum($"n_pairs").as("np"),
      sum(when($"depth_bucket" >= 2, $"n_pairs").otherwise(0L))
        .as("nrep")).filter($"np" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"depth_bucket", $"n_pairs", $"n_orders",
        round($"rev", 2).as("revenue"),
        round($"nrep".cast("double") / $"np", 6).as("repeat_share"))
      .orderBy($"depth_bucket")
  }

  val q88Sql: String =
    """WITH osr AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS orev
      |  FROM lineitem GROUP BY 1, 2),
      |pairs AS (
      |  SELECT o.o_custkey, osr.l_suppkey, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(osr.orev AS DECIMAL(28,12))) AS DOUBLE) AS prev
      |  FROM osr JOIN orders o ON osr.l_orderkey = o.o_orderkey
      |  GROUP BY 1, 2),
      |bk AS (
      |  SELECT CASE WHEN n_orders <= 3 THEN n_orders
      |    ELSE CAST(1 AS BIGINT) << (LENGTH(BIN(n_orders)) - 1)
      |    END AS depth_bucket,
      |    n_orders, prev
      |  FROM pairs),
      |hist AS (
      |  SELECT depth_bucket, COUNT(*) AS n_pairs,
      |    CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(prev AS DECIMAL(28,12))) AS DOUBLE) AS rev
      |  FROM bk GROUP BY 1),
      |tot AS (
      |  SELECT SUM(n_pairs) AS np,
      |    SUM(CASE WHEN depth_bucket >= 2 THEN n_pairs ELSE 0 END) AS nrep
      |  FROM hist HAVING SUM(n_pairs) > 0)
      |SELECT CAST(h.depth_bucket AS BIGINT) AS depth_bucket,
      |  CAST(h.n_pairs AS BIGINT) AS n_pairs,
      |  CAST(h.n_orders AS BIGINT) AS n_orders,
      |  ROUND(h.rev, 2) AS revenue,
      |  ROUND(CAST(t.nrep AS DOUBLE) / t.np, 6) AS repeat_share
      |FROM hist h CROSS JOIN tot t
      |ORDER BY h.depth_bucket""".stripMargin

  // --------------------------------------------------------------------
  // q89_sales_opportunity: the TPC-H Q22 shape — wealthy-but-INACTIVE
  // customers: acctbal above the mean POSITIVE balance, with no orders
  // in the horizon's final year, rolled up per nation (count + total
  // idle balance). The classic "global scalar aggregate gates a fact
  // anti-join" pattern: two 1-row broadcast scalars (mean balance,
  // recency cutoff) and a left-anti join against the recent order
  // slice — the last TPC-H query shape (correlated scalar + anti-join
  // combo) the registry lacked. (Q22's literal "no orders ever" is
  // empty on this fixture — every customer has ordered — so the
  // recency form is the honest port of the intent.)
  // Scale shape: one customer scan for the scalar (partial-agg), one
  // for the candidate filter, the anti-join shuffles only candidate
  // customers against the recent orders' CUSTKEYS (column-pruned +
  // date-filtered); nation broadcasts. Determinism: the mean is
  // DECIMAL-sum/count; candidates gate on the RAW mean; the cutoff is
  // exact timestamp arithmetic; totals DECIMAL-routed, round 2.
  def q89SalesOpportunity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter($"c_acctbal" > 0.0)
      .agg((Exact.sum($"c_acctbal") / count(lit(1))).as("ab"))
      .filter($"ab".isNotNull)
    val orders = Tables.orders(spark, dir)
    val cut = orders.agg(max($"o_orderdate").as("mx"))
      .select(($"mx" - expr("INTERVAL 365 DAYS")).as("cutoff"))
      .filter($"cutoff".isNotNull)
    val recent = orders.select($"o_custkey", $"o_orderdate")
      .crossJoin(broadcast(cut))
      .filter($"o_orderdate" >= $"cutoff")
      .select($"o_custkey")
    val cand = cust.crossJoin(broadcast(avgBal))
      .filter($"c_acctbal" > $"ab")
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
    cand
      .join(broadcast(Tables.nation(spark, dir)
        .select($"n_nationkey", $"n_name".as("nation"))),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"nation")
      .agg(count(lit(1)).as("n_customers"),
        round(Exact.sum($"c_acctbal"), 2).as("idle_balance"))
      .orderBy($"nation")
  }

  val q89Sql: String =
    """WITH ab AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,12))) AS DOUBLE)
      |    / COUNT(*) AS ab
      |  FROM customer WHERE c_acctbal > 0.0
      |  HAVING COUNT(*) > 0),
      |cut AS (
      |  SELECT MAX(o_orderdate) - INTERVAL 365 DAY AS cutoff
      |  FROM orders HAVING MAX(o_orderdate) IS NOT NULL),
      |recent AS (
      |  SELECT o_custkey FROM orders CROSS JOIN cut
      |  WHERE o_orderdate >= cutoff),
      |cand AS (
      |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
      |  FROM customer c CROSS JOIN ab
      |  WHERE c.c_acctbal > ab.ab
      |    AND NOT EXISTS (SELECT 1 FROM recent r
      |      WHERE r.o_custkey = c.c_custkey))
      |SELECT n.n_name AS nation, COUNT(*) AS n_customers,
      |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,12))) AS DOUBLE), 2)
      |    AS idle_balance
      |FROM cand JOIN nation n ON c_nationkey = n_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // q91_priority_late_ships: TPC-H Q4 shape — per order priority, how
  // many 1997 orders had AT LEAST ONE lineitem shipped more than 60
  // days after the order date (EXISTS, not a count of lineitems — an
  // order with five late lines is one late order). The SLA scorecard
  // by priority tier; read next to q86's ANOVA verdict.
  // Scale shape: the orders filter prunes at the scan (PushedFilters);
  // the EXISTS plans as a LEFT-SEMI hash join shuffling only
  // (orderkey, shipdate)-projected lineitem; count is partial-agg on
  // the 5-row priority grain. Determinism: pure integer counts.
  def q91PriorityLateShips(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // range form, not year(o_orderdate) === 1997: a function of the
    // column defeats parquet predicate pushdown; the half-open range
    // reaches the scan (PushedFilters — PlanSpec-guarded)
    val o = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp")
        && $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val l = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_shipdate")
    o.join(l,
        $"o_orderkey" === $"l_orderkey"
          && datediff($"l_shipdate", $"o_orderdate") > 60,
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy($"o_orderpriority")
  }

  val q91Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_late_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND DATE_DIFF('day', CAST(o_orderdate AS DATE),
      |        CAST(l_shipdate AS DATE)) > 60)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // q92_forecast_revenue: TPC-H Q6 shape — revenue delta from dropping
  // a discount band: Σ l_extendedprice·l_discount over 1997 shipments
  // with discount in [0.05, 0.07] and quantity < 24. The one-scan
  // filter+aggregate whose entire point is SCAN-LEVEL pruning: every
  // predicate is a parquet-pushable comparison and the projection is
  // 2 columns of 11 — the plan-audit showcase (PushedFilters carries
  // all four bounds; ReadSchema is 4 columns).
  // Determinism: the product is per-row double (bit-identical both
  // engines); the sum routes through DECIMAL(28,12).
  def q92ForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp")
        && $"l_shipdate" < lit("1998-01-01").cast("timestamp")
        && $"l_discount" >= 0.05 && $"l_discount" <= 0.07
        && $"l_quantity" < 24.0)
      .agg(count(lit(1)).as("n_lines"),
        round(Exact.sum($"l_extendedprice" * $"l_discount"), 2).as("promo_revenue"))
  }

  val q92Sql: String =
    """SELECT COUNT(*) AS n_lines,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
      |    AS DECIMAL(28,12))) AS DOUBLE), 2) AS promo_revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24.0""".stripMargin

  // --------------------------------------------------------------------
  // q93_part_value_concentration: TPC-H Q11 shape (partsupp recast on
  // shipped value — the fixture has no partsupp table): per part, the
  // revenue shipped by ASIA-region suppliers; keep parts whose share
  // of the ASIA total exceeds 0.1%, i.e. a HAVING against a GLOBAL
  // scalar. The inventory-concentration audit: which parts would hurt
  // if the region's supply failed.
  // Scale shape: nation⋈region collapses to a broadcast key list; the
  // fact aggregates once on partkey (partial-agg); the global total is
  // a 1-row broadcast the filter crosses — no second fact pass, no
  // window. Determinism: DECIMAL-routed sums; BOTH engines sort the
  // ROUNDED value (Spark's orderBy resolves the post-projection alias;
  // the oracle says ROUND(bp.value,2) explicitly) with the partkey
  // tie-break, so near-equal raw values that round equal cannot order
  // differently across engines at larger SFs.
  def q93PartValueConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaNations = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir).filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    val asiaSupp = Tables.supplier(spark, dir)
      .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val byPart = Tables.lineitem(spark, dir)
      .join(broadcast(asiaSupp), $"l_suppkey" === $"s_suppkey", "left_semi")
      .groupBy($"l_partkey")
      .agg(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("value")).localCheckpoint()
    val tot = byPart.agg(Exact.sum($"value").as("total")).filter($"total" > 0.0)
    byPart.crossJoin(broadcast(tot))
      .filter($"value" > $"total" * 0.001)
      .select($"l_partkey".as("partkey"),
        round($"value", 2).as("value"),
        round($"value" / $"total", 6).as("share"))
      .orderBy($"value".desc, $"partkey")
  }

  val q93Sql: String =
    """WITH asup AS (
      |  SELECT s_suppkey FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA'),
      |bp AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS value
      |  FROM lineitem
      |  WHERE l_suppkey IN (SELECT s_suppkey FROM asup)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
      |    AS total
      |  FROM bp HAVING SUM(CAST(value AS DECIMAL(28,12))) > 0)
      |SELECT bp.l_partkey AS partkey, ROUND(bp.value, 2) AS value,
      |  ROUND(bp.value / t.total, 6) AS share
      |FROM bp CROSS JOIN tot t
      |WHERE bp.value > t.total * 0.001
      |ORDER BY ROUND(bp.value, 2) DESC, partkey""".stripMargin

  // --------------------------------------------------------------------
  // q94_brand_supplier_breadth: TPC-H Q16 shape — per (brand, size
  // band), how many DISTINCT suppliers have shipped such a part,
  // excluding suppliers in bad standing (negative account balance; the
  // fixture's stand-in for Q16's complaint-comment filter). The
  // sourcing-diversity audit: a brand×size cell with one supplier is a
  // single point of failure.
  // Scale shape: the (part, supplier) DISTINCT collapse runs on the
  // projected fact FIRST (the fact never reaches the count-distinct
  // grain); the supplier exclusion is a broadcast ANTI join; part
  // attrs are a broadcast join. Determinism: integer counts, total
  // ordering by (brand, band).
  def q94BrandSupplierBreadth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val badSupp = Tables.supplier(spark, dir)
      .filter($"s_acctbal" < 0.0).select($"s_suppkey")
    val ps = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey").distinct()
      .join(broadcast(badSupp), $"l_suppkey" === $"s_suppkey", "left_anti")
    ps.join(broadcast(Tables.part(spark, dir)
          .select($"p_partkey", $"p_brand", $"p_size")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand",
        (($"p_size" - 1).cast("long") / 10L).cast("long").as("size_band"))
      .agg(countDistinct($"l_suppkey").as("n_suppliers"),
        countDistinct($"l_partkey").as("n_parts"))
      .orderBy($"p_brand", $"size_band")
  }

  val q94Sql: String =
    """WITH ps AS (
      |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      |  WHERE l_suppkey NOT IN
      |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0))
      |SELECT p.p_brand,
      |  CAST((p.p_size - 1) // 10 AS BIGINT) AS size_band,
      |  COUNT(DISTINCT ps.l_suppkey) AS n_suppliers,
      |  COUNT(DISTINCT ps.l_partkey) AS n_parts
      |FROM ps JOIN part p ON ps.l_partkey = p.p_partkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // q95_disjunctive_promo: TPC-H Q19 shape — revenue under an
  // OR-of-ANDs eligibility predicate spanning BOTH join sides (three
  // brand × size × quantity bands), reported per band. The disjunctive
  // join-predicate stress: Catalyst must push the per-side conjuncts
  // (brand/size reach the part scan; a derived quantity range reaches
  // the fact scan) while evaluating the cross-side disjunction post-
  // join. One band tag per row: the bands are constructed disjoint
  // (brand determines band; a part has one brand).
  // Scale shape: part is a broadcast dim; the fact ships only
  // predicate+revenue columns. Determinism: DECIMAL-routed sum, band
  // ordering.
  def q95DisjunctivePromo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val l = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
      .filter($"l_quantity" >= 1.0 && $"l_quantity" <= 30.0)
    val p = broadcast(Tables.part(spark, dir)
      .filter($"p_brand".isin("Brand#1", "Brand#2", "Brand#3"))
      .select($"p_partkey", $"p_brand", $"p_size"))
    l.join(p, $"l_partkey" === $"p_partkey"
        && (($"p_brand" === "Brand#1" && $"p_size" <= 10
              && $"l_quantity" >= 1.0 && $"l_quantity" <= 11.0)
          || ($"p_brand" === "Brand#2" && $"p_size" <= 20
              && $"l_quantity" >= 10.0 && $"l_quantity" <= 20.0)
          || ($"p_brand" === "Brand#3" && $"p_size" <= 30
              && $"l_quantity" >= 20.0 && $"l_quantity" <= 30.0)))
      .groupBy($"p_brand".as("band"))
      .agg(count(lit(1)).as("n_lines"),
        round(Exact.sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"band")
  }

  val q95Sql: String =
    """SELECT p_brand AS band, COUNT(*) AS n_lines,
      |  ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(28,12))) AS DOUBLE), 2) AS revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size <= 10
      |    AND l_quantity >= 1.0 AND l_quantity <= 11.0)
      |  OR (p_brand = 'Brand#2' AND p_size <= 20
      |    AND l_quantity >= 10.0 AND l_quantity <= 20.0)
      |  OR (p_brand = 'Brand#3' AND p_size <= 30
      |    AND l_quantity >= 20.0 AND l_quantity <= 30.0)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // q96_dominant_suppliers: TPC-H Q20 shape (availqty recast on
  // shipped share — no partsupp table): for every part, its PLURALITY
  // supplier (largest shipped quantity; ties → smaller suppkey), then
  // per supplier how many parts they lead, the quantity behind it, and
  // their mean leading share. The exclusivity / concentration audit
  // from the supplier side (q93 is the part side); an absolute >50%
  // cut is vacuous on this fixture's 10-supplier uniform spread, so
  // the argmax form is the honest dominance statistic.
  // Scale shape: ONE fact aggregation to (part, supplier) grain; the
  // argmax is a window over THAT table partitioned by part (not the
  // fact); supplier + nation names attach by broadcast. No second
  // fact scan. Determinism: quantities are exact integral doubles
  // (fixture quantities are whole numbers; sums < 2^53 exact); the
  // argmax tie-breaks on suppkey; shares quantize to DECIMAL(15,9)
  // before the mean.
  def q96DominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity").as("qty")).localCheckpoint()
    val w = Window.partitionBy($"l_partkey")
    val lead = ps
      .withColumn("total_qty", sum($"qty").over(w))
      .withColumn("rk", row_number().over(
        w.orderBy($"qty".desc, $"l_suppkey".asc)))
      .filter($"rk" === 1)
    val dom = lead.groupBy($"l_suppkey")
      .agg(count(lit(1)).as("n_lead_parts"),
        sum($"qty").cast("double").as("lead_qty"),
        (Exact.sum($"qty" / $"total_qty", 15, 9) / count(lit(1))).as("mean_share"))
    dom.join(broadcast(Tables.supplier(spark, dir)
          .join(Tables.nation(spark, dir),
            $"s_nationkey" === $"n_nationkey")
          .select($"s_suppkey", $"s_name", $"n_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_name".as("supplier"), $"n_name".as("nation"),
        $"n_lead_parts", $"lead_qty",
        round($"mean_share", 6).as("mean_share"))
      .orderBy($"n_lead_parts".desc, $"supplier")
  }

  val q96Sql: String =
    """WITH ps AS (
      |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      |  FROM lineitem GROUP BY 1, 2),
      |lead AS (
      |  SELECT l_partkey, l_suppkey, qty,
      |    SUM(qty) OVER (PARTITION BY l_partkey) AS total_qty,
      |    ROW_NUMBER() OVER (PARTITION BY l_partkey
      |      ORDER BY qty DESC, l_suppkey ASC) AS rk
      |  FROM ps),
      |dom AS (
      |  SELECT l_suppkey, COUNT(*) AS n_lead_parts,
      |    CAST(SUM(qty) AS DOUBLE) AS lead_qty,
      |    CAST(SUM(CAST(qty / total_qty AS DECIMAL(15,9))) AS DOUBLE)
      |      / COUNT(*) AS mean_share
      |  FROM lead WHERE rk = 1 GROUP BY 1)
      |SELECT s.s_name AS supplier, n.n_name AS nation,
      |  d.n_lead_parts, d.lead_qty, ROUND(d.mean_share, 6) AS mean_share
      |FROM dom d JOIN supplier s ON d.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |ORDER BY d.n_lead_parts DESC, supplier""".stripMargin

  // --------------------------------------------------------------------
  // q97_status_transitions: first-order Markov matrix of order-status
  // transitions per customer — for each customer's orders in date
  // order, count (previous status → status) pairs and each row's share
  // of its from-status mass. The order-lifecycle sanity audit: P→F and
  // O→F flows are fulfillment; an F→O flow at volume means the status
  // field is being reused and every downstream status filter is wrong.
  // Scale shape: ONE window shuffle partitioned by customer over the
  // ORDERS table (never the fact); the matrix is a ≤9-key partial-agg;
  // from-status totals are a second agg ON THE MATRIX. Determinism:
  // the window orders by (orderdate, orderkey) — a total order — in
  // both engines; output is integer counts + one exact ratio.
  /** The un-checkpointed transition-matrix builder — split out so
    * PlanSpec can assert the customer-partitioned window on the build
    * (the materialized table the registered query reads hides it). */
  private[graft] def q97MatrixBuild(spark: SparkSession,
                                    dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_us", $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderstatus",
        unix_micros($"o_orderdate".cast("timestamp")).as("o_us"))
      .withColumn("prev_status", lag($"o_orderstatus", 1).over(w))
      .filter($"prev_status".isNotNull)
      .groupBy($"prev_status".as("from_status"),
        $"o_orderstatus".as("to_status"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  def q97StatusTransitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val matrix = q97MatrixBuild(spark, dir).localCheckpoint()
    val fromTot = matrix.groupBy($"from_status".as("f"))
      .agg(sum($"n_transitions").as("from_total"))
    matrix.join(broadcast(fromTot), $"from_status" === $"f")
      .select($"from_status", $"to_status", $"n_transitions",
        round($"n_transitions".cast("double") / $"from_total", 6)
          .as("share_of_from"))
      .orderBy($"from_status", $"to_status")
  }

  val q97Sql: String =
    """WITH p AS (
      |  SELECT o_orderstatus AS to_status,
      |    LAG(o_orderstatus, 1) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS from_status
      |  FROM orders),
      |m AS (
      |  SELECT from_status, to_status, COUNT(*) AS n_transitions
      |  FROM p WHERE from_status IS NOT NULL GROUP BY 1, 2),
      |ft AS (
      |  SELECT from_status AS f, SUM(n_transitions) AS from_total
      |  FROM m GROUP BY 1)
      |SELECT m.from_status, m.to_status, m.n_transitions,
      |  ROUND(CAST(m.n_transitions AS DOUBLE) / ft.from_total, 6)
      |    AS share_of_from
      |FROM m JOIN ft ON m.from_status = ft.f
      |ORDER BY m.from_status, m.to_status""".stripMargin

  // --------------------------------------------------------------------
  // q98_dow_priority_chi2: chi-squared independence audit of order
  // day-of-week × priority — per cell the observed count, expected
  // count under independence (row·col/n), and the chi² term, plus the
  // grand chi² and the DATA-DRIVEN df = (occupied rows − 1)(occupied
  // cols − 1). Deliberately VERDICT-FREE: with df ranging to 24 a
  // literal critical-value table would be the q86 mistake at scale —
  // the engine reports the statistic and its df; the caller owns the
  // significance policy. What it catches: batch-upload pipelines that
  // stamp priorities by weekday (a dependence no marginal inspection
  // shows).
  // Scale shape: one orders scan → ≤35-cell partial-agg; marginals and
  // chi² are arithmetic on that bounded grid (broadcast crosses only).
  // Determinism: weekday is integer in both engines (Monday=0:
  // Spark weekday() ≡ DuckDB isodow−1); expected/terms are
  // integer-ratio doubles, terms DECIMAL-quantized before the total.
  def q98DowPriorityChi2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.orders(spark, dir)
      .groupBy(weekday($"o_orderdate".cast("timestamp")).as("dow"),
        $"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    val rowTot = cells.groupBy($"dow".as("rd"))
      .agg(sum($"n").as("row_total"))
    val colTot = cells.groupBy($"priority".as("cp"))
      .agg(sum($"n").as("col_total"))
    val tot = cells.agg(sum($"n").as("nt"),
      countDistinct($"dow").as("r_occ"),
      countDistinct($"priority").as("c_occ")).filter($"nt" > 0)
    val terms = cells
      .join(broadcast(rowTot), $"dow" === $"rd")
      .join(broadcast(colTot), $"priority" === $"cp")
      .crossJoin(broadcast(tot))
      .select($"dow", $"priority", $"n", $"nt", $"r_occ", $"c_occ",
        ($"row_total".cast("double") * $"col_total" / $"nt").as("expected"))
      .withColumn("term",
        (($"n" - $"expected") * ($"n" - $"expected") / $"expected")
          .cast(DecimalType(28, 12)))
    val chi = terms.agg(sum($"term").cast("double").as("chi2"))
    terms.crossJoin(broadcast(chi))
      .select($"dow", $"priority", $"n",
        round($"expected", 6).as("expected"),
        round($"term".cast("double"), 6).as("chi2_term"),
        round($"chi2", 6).as("chi2_total"),
        (($"r_occ" - 1) * ($"c_occ" - 1)).as("df"))
      .orderBy($"dow", $"priority")
  }

  val q98Sql: String =
    """WITH cells AS (
      |  SELECT ISODOW(o_orderdate) - 1 AS dow,
      |    o_orderpriority AS priority, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |rt AS (SELECT dow AS rd, SUM(n) AS row_total FROM cells GROUP BY 1),
      |ct AS (SELECT priority AS cp, SUM(n) AS col_total
      |  FROM cells GROUP BY 1),
      |tt AS (SELECT SUM(n) AS nt, COUNT(DISTINCT dow) AS r_occ,
      |    COUNT(DISTINCT priority) AS c_occ
      |  FROM cells HAVING SUM(n) > 0),
      |terms AS (
      |  SELECT c.dow, c.priority, c.n, t.nt, t.r_occ, t.c_occ,
      |    CAST(rt.row_total AS DOUBLE) * ct.col_total / t.nt AS expected,
      |    CAST((c.n - CAST(rt.row_total AS DOUBLE) * ct.col_total / t.nt)
      |      * (c.n - CAST(rt.row_total AS DOUBLE) * ct.col_total / t.nt)
      |      / (CAST(rt.row_total AS DOUBLE) * ct.col_total / t.nt)
      |      AS DECIMAL(28,12)) AS term
      |  FROM cells c
      |  JOIN rt ON c.dow = rt.rd
      |  JOIN ct ON c.priority = ct.cp
      |  CROSS JOIN tt t),
      |chi AS (SELECT CAST(SUM(term) AS DOUBLE) AS chi2 FROM terms)
      |SELECT t.dow, t.priority, t.n,
      |  ROUND(t.expected, 6) AS expected,
      |  ROUND(CAST(t.term AS DOUBLE), 6) AS chi2_term,
      |  ROUND(c.chi2, 6) AS chi2_total,
      |  CAST((t.r_occ - 1) * (t.c_occ - 1) AS BIGINT) AS df
      |FROM terms t CROSS JOIN chi c
      |ORDER BY t.dow, t.priority""".stripMargin

  // --------------------------------------------------------------------
  // q99_purchase_episodes: sessionize each customer's ORDER HISTORY —
  // consecutive orders ≤30 days apart chain into one purchase episode;
  // a >30-day gap starts a new one. Output: episode-size histogram
  // (orders per episode) with episode counts, order mass, and the mean
  // episode span in days. Batch sessionization of a slowly-moving
  // entity timeline — the same cumulative-boundary-sum device
  // session_window uses in streams, applied where no stream exists
  // (st_session's calendar twin; st_interarrival calibrates the
  // 30-day gap choice the same way it calibrates stream timeouts).
  // Scale shape: ONE window shuffle partitioned by customer on the
  // ORDERS table; episode ids are a running conditional sum in the
  // same window (no second shuffle — episode grain groups by
  // (custkey, episode_id) which the window partitioning already
  // co-located); histogram is a bounded partial-agg. Determinism:
  // integer day gaps off integer microseconds, (date, orderkey) total
  // order, DECIMAL-routed span mean.
  /** The un-checkpointed episode-histogram builder — split out so
    * PlanSpec can assert the customer-partitioned windows on the
    * build. */
  private[graft] def q99HistBuild(spark: SparkSession,
                                  dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_us", $"o_orderkey")
    val flagged = Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey",
        unix_micros($"o_orderdate".cast("timestamp")).as("o_us"))
      .withColumn("gap_days",
        (($"o_us" - lag($"o_us", 1).over(w)) / lit(86400000000L))
          .cast("long"))
      .withColumn("boundary",
        when($"gap_days".isNull || $"gap_days" > 30, 1L).otherwise(0L))
      .withColumn("episode_id", sum($"boundary").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy($"o_custkey", $"episode_id")
      .agg(count(lit(1)).as("n_orders"),
        (((max($"o_us") - min($"o_us")) / lit(86400000000L))
          .cast("long")).as("span_days"))
      .groupBy($"n_orders".as("episode_size"))
      .agg(count(lit(1)).as("n_episodes"),
        sum($"n_orders").as("n_orders"),
        sum($"span_days".cast(DecimalType(28, 0))).as("span_sum"))
  }

  def q99PurchaseEpisodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = q99HistBuild(spark, dir).localCheckpoint()
    val tot = hist.agg(sum($"n_episodes").as("ne"),
      sum($"span_sum").cast("double").as("ss")).filter($"ne" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"episode_size", $"n_episodes", $"n_orders",
        round($"n_episodes".cast("double") / $"ne", 6).as("share"),
        round($"ss" / $"ne", 6).as("mean_span_days"))
      .orderBy($"episode_size")
  }

  val q99Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS o_us
      |  FROM orders),
      |g AS (
      |  SELECT o_custkey, o_orderkey, o_us,
      |    (o_us - LAG(o_us, 1) OVER (PARTITION BY o_custkey
      |      ORDER BY o_us, o_orderkey)) // 86400000000 AS gap_days
      |  FROM o),
      |f AS (
      |  SELECT o_custkey, o_orderkey, o_us,
      |    CASE WHEN gap_days IS NULL OR gap_days > 30 THEN 1
      |      ELSE 0 END AS boundary
      |  FROM g),
      |e AS (
      |  SELECT o_custkey, o_us,
      |    SUM(boundary) OVER (PARTITION BY o_custkey
      |      ORDER BY o_us, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS episode_id
      |  FROM f),
      |ep AS (
      |  SELECT o_custkey, episode_id, COUNT(*) AS n_orders,
      |    (MAX(o_us) - MIN(o_us)) // 86400000000 AS span_days
      |  FROM e GROUP BY 1, 2),
      |hist AS (
      |  SELECT n_orders AS episode_size, COUNT(*) AS n_episodes,
      |    CAST(SUM(n_orders) AS BIGINT) AS n_orders,
      |    SUM(CAST(span_days AS DECIMAL(28,0))) AS span_sum
      |  FROM ep GROUP BY 1),
      |tot AS (SELECT SUM(n_episodes) AS ne,
      |    CAST(SUM(span_sum) AS DOUBLE) AS ss
      |  FROM hist HAVING SUM(n_episodes) > 0)
      |SELECT CAST(h.episode_size AS BIGINT) AS episode_size,
      |  CAST(h.n_episodes AS BIGINT) AS n_episodes, h.n_orders,
      |  ROUND(CAST(h.n_episodes AS DOUBLE) / t.ne, 6) AS share,
      |  ROUND(t.ss / t.ne, 6) AS mean_span_days
      |FROM hist h CROSS JOIN tot t ORDER BY h.episode_size""".stripMargin

  // --------------------------------------------------------------------
  // q100_nation_trade_balance: per nation, revenue EARNED by its
  // suppliers vs revenue SPENT by its customers, the net balance, and
  // each side's share of world trade. A two-sided rollup of the same
  // fact through two different dimension paths (supplier-nation vs
  // customer-nation via orders) — the classic conformed-dimension
  // double-aggregation every BI layer needs, absent from the TPC-H
  // shapes (Q5 measures one side only; Q7 pairs nations).
  // Scale shape: TWO fact-grain partial-aggs (one keyed by suppkey,
  // one by orderkey→custkey through the orders join), each collapsing
  // to nation grain BEFORE the full-outer nation alignment; dims
  // broadcast; the alignment joins two ≤|nation| tables. Determinism:
  // DECIMAL-routed revenue; total ordering by nation.
  def q100NationTradeBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev")
    val nations = broadcast(Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name"))
    val earned = Tables.lineitem(spark, dir)
      .select($"l_suppkey", rev)
      .groupBy($"l_suppkey").agg(Exact.sum($"rev").as("srev"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_nationkey".as("nk"))
      .agg(Exact.sum($"srev")
        .as("earned"))
    val spent = Tables.lineitem(spark, dir)
      .select($"l_orderkey", rev)
      .groupBy($"l_orderkey").agg(Exact.sum($"rev").as("orev"))
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey")), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nk2"))
      .agg(Exact.sum($"orev")
        .as("spent"))
    val aligned = earned.join(spent, $"nk" === $"nk2", "full_outer")
      .select(coalesce($"nk", $"nk2").as("nk"),
        coalesce($"earned", lit(0.0)).as("earned"),
        coalesce($"spent", lit(0.0)).as("spent"))
    val tot = aligned.agg(
      Exact.sum($"earned").as("world"))
      .filter($"world" > 0.0)
    aligned.join(nations, $"nk" === $"n_nationkey")
      .crossJoin(broadcast(tot))
      .select($"n_name".as("nation"),
        round($"earned", 2).as("earned"),
        round($"spent", 2).as("spent"),
        round($"earned" - $"spent", 2).as("balance"),
        round($"earned" / $"world", 6).as("earn_share"),
        round($"spent" / $"world", 6).as("spend_share"))
      .orderBy($"nation")
  }

  val q100Sql: String =
    """WITH e AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS srev
      |  FROM lineitem GROUP BY 1),
      |earned AS (
      |  SELECT s.s_nationkey AS nk,
      |    CAST(SUM(CAST(e.srev AS DECIMAL(28,12))) AS DOUBLE) AS earned
      |  FROM e JOIN supplier s ON e.l_suppkey = s.s_suppkey
      |  GROUP BY 1),
      |o AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,12))) AS DOUBLE) AS orev
      |  FROM lineitem GROUP BY 1),
      |spent AS (
      |  SELECT c.c_nationkey AS nk,
      |    CAST(SUM(CAST(o.orev AS DECIMAL(28,12))) AS DOUBLE) AS spent
      |  FROM o
      |  JOIN orders ON o.l_orderkey = orders.o_orderkey
      |  JOIN customer c ON orders.o_custkey = c.c_custkey
      |  GROUP BY 1),
      |aligned AS (
      |  SELECT COALESCE(e.nk, s.nk) AS nk,
      |    COALESCE(e.earned, 0.0) AS earned,
      |    COALESCE(s.spent, 0.0) AS spent
      |  FROM earned e FULL OUTER JOIN spent s ON e.nk = s.nk),
      |t AS (SELECT CAST(SUM(CAST(earned AS DECIMAL(28,12))) AS DOUBLE)
      |    AS world
      |  FROM aligned HAVING SUM(CAST(earned AS DECIMAL(28,12))) > 0)
      |SELECT n.n_name AS nation,
      |  ROUND(a.earned, 2) AS earned,
      |  ROUND(a.spent, 2) AS spent,
      |  ROUND(a.earned - a.spent, 2) AS balance,
      |  ROUND(a.earned / t.world, 6) AS earn_share,
      |  ROUND(a.spent / t.world, 6) AS spend_share
      |FROM aligned a JOIN nation n ON a.nk = n.n_nationkey
      |CROSS JOIN t ORDER BY nation""".stripMargin

  // --------------------------------------------------------------------
  // q101_order_backlog: month-end OPEN-ORDER backlog time series — an
  // order is open from o_orderdate until its last lineitem ships; per
  // month: orders opened, orders fully shipped, and the running
  // backlog. The classic interval-count query done the SWEEP-LINE way:
  // materialize +1/−1 deltas at each order's endpoints and take a
  // cumulative sum over the bounded month spine — NOT a month×order
  // range join (which multiplies the fact by the horizon and is the
  // naive trap at 100 TB; the oracle's correctness is checked against
  // exactly that naive form in the spec).
  // Scale shape: one fact partial-agg to order grain (max shipdate),
  // one join to orders (orderkey-partial), two month-grain partial
  // aggs union'd, ONE window over the ≤horizon-month spine.
  // Determinism: month keys are integer year*12+month off integer
  // timestamps; counts integer; the cumulative window orders by the
  // unique month key.
  def q101OrderBacklog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def mkey(c: Column) = (year(c) * 12 + month(c) - 1).cast("long")
    // close clamps to the open month: the synthetic fixture ships some
    // lineitems BEFORE the order date (shipdates are independent of
    // orderdate), and an interval cannot close before it opens — the
    // clamp makes those zero-length (opened and closed same month)
    val spans = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey").agg(max($"l_shipdate").as("last_ship"))
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select(mkey($"o_orderdate").as("open_m"),
        greatest(mkey($"o_orderdate"), mkey($"last_ship")).as("close_m"))
    val opens = spans.groupBy($"open_m".as("m"))
      .agg(count(lit(1)).as("opened"))
    val closes = spans.groupBy($"close_m".as("m2"))
      .agg(count(lit(1)).as("closed"))
    val months = opens.join(closes, $"m" === $"m2", "full_outer")
      .select(coalesce($"m", $"m2").as("m"),
        coalesce($"opened", lit(0L)).as("opened"),
        coalesce($"closed", lit(0L)).as("closed"))
    val w = Window.orderBy($"m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    months
      .withColumn("backlog", sum($"opened" - $"closed").over(w))
      .select((($"m" / 12L).cast("long")).as("year"),
        ($"m" % 12 + 1).cast("int").as("month"),
        $"opened", $"closed", $"backlog")
      .orderBy($"year", $"month")
  }

  val q101Sql: String =
    """WITH spans AS (
      |  SELECT (EXTRACT(YEAR FROM o.o_orderdate) * 12
      |      + EXTRACT(MONTH FROM o.o_orderdate) - 1) AS open_m,
      |    GREATEST(
      |      (EXTRACT(YEAR FROM o.o_orderdate) * 12
      |        + EXTRACT(MONTH FROM o.o_orderdate) - 1),
      |      (EXTRACT(YEAR FROM ls.last_ship) * 12
      |        + EXTRACT(MONTH FROM ls.last_ship) - 1)) AS close_m
      |  FROM (SELECT l_orderkey, MAX(l_shipdate) AS last_ship
      |        FROM lineitem GROUP BY 1) ls
      |  JOIN orders o ON ls.l_orderkey = o.o_orderkey),
      |op AS (SELECT open_m AS m, COUNT(*) AS opened FROM spans GROUP BY 1),
      |cl AS (SELECT close_m AS m, COUNT(*) AS closed FROM spans GROUP BY 1),
      |months AS (
      |  SELECT COALESCE(op.m, cl.m) AS m,
      |    COALESCE(op.opened, 0) AS opened,
      |    COALESCE(cl.closed, 0) AS closed
      |  FROM op FULL OUTER JOIN cl ON op.m = cl.m)
      |SELECT CAST(m // 12 AS BIGINT) AS year,
      |  CAST(m % 12 + 1 AS INT) AS month,
      |  CAST(opened AS BIGINT) AS opened,
      |  CAST(closed AS BIGINT) AS closed,
      |  CAST(SUM(opened - closed) OVER (ORDER BY m
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS backlog
      |FROM months ORDER BY year, month""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "q101_order_backlog" -> (q101OrderBacklog _, q101Sql),
    "q100_nation_trade_balance" -> (q100NationTradeBalance _, q100Sql),
    "q99_purchase_episodes" -> (q99PurchaseEpisodes _, q99Sql),
    "q97_status_transitions" -> (q97StatusTransitions _, q97Sql),
    "q98_dow_priority_chi2" -> (q98DowPriorityChi2 _, q98Sql),
    "q91_priority_late_ships" -> (q91PriorityLateShips _, q91Sql),
    "q92_forecast_revenue" -> (q92ForecastRevenue _, q92Sql),
    "q93_part_value_concentration" -> (q93PartValueConcentration _, q93Sql),
    "q94_brand_supplier_breadth" -> (q94BrandSupplierBreadth _, q94Sql),
    "q95_disjunctive_promo" -> (q95DisjunctivePromo _, q95Sql),
    "q96_dominant_suppliers" -> (q96DominantSuppliers _, q96Sql),
    "q89_sales_opportunity" -> (q89SalesOpportunity _, q89Sql),
    "q88_repeat_business" -> (q88RepeatBusiness _, q88Sql),
    "q87_column_profile" -> (q87ColumnProfile _, q87Sql),
    "q86_anova" -> (q86Anova _, q86Sql),
    "q85_gini" -> (q85Gini _, q85Sql),
    "q84_benford_audit" -> (q84BenfordAudit _, q84Sql),
    "q83_price_dispersion" -> (q83PriceDispersion _, q83Sql),
    "q82_return_repurchase" -> (q82ReturnRepurchase _, q82Sql),
    "q81_discount_mix" -> (q81DiscountMix _, q81Sql),
    "q80_fulfillment_spread" -> (q80FulfillmentSpread _, q80Sql),
    "q79_quarter_growth" -> (q79QuarterGrowth _, q79Sql),
    "q78_seasonal_index" -> (q78SeasonalIndex _, q78Sql),
    "q77_wilson_returns" -> (q77WilsonReturns _, q77Sql),
    "q68_min_cost_supplier" -> (q68MinCostSupplier _, q68Sql),
    "q69_blocking_suppliers" -> (q69BlockingSuppliers _, q69Sql),
    "q70_dormant_capital" -> (q70DormantCapital _, q70Sql),
    "q01_pricing_summary" -> (q01PricingSummary _, q01Sql),
    "q02_topk_per_group" -> (q02TopKPerGroup _, q02Sql),
    "q03_customer_revenue" -> (q03CustomerRevenue _, q03Sql),
    "q04_broadcast_dim_join" -> (q04BroadcastDimJoin _, q04Sql),
    "q05_semi_join" -> (q05SemiJoin _, q05Sql),
    "q06_anti_join" -> (q06AntiJoin _, q06Sql),
    "q07_rollup" -> (q07Rollup _, q07Sql),
    "q08_cube" -> (q08Cube _, q08Sql),
    "q09_distinct_agg" -> (q09DistinctAgg _, q09Sql),
    "q10_set_ops" -> (q10SetOps _, q10Sql),
    "q11_window_lag" -> (q11WindowLag _, q11Sql),
    "q12_pivot_wide" -> (q12PivotWide _, q12Sql),
    "q13_unpivot" -> (q13Unpivot _, q13Sql),
    "q32_setops_all" -> (q32SetopsAll _, q32Sql),
    "q46_promo_effect" -> (q46PromoEffect _, q46Sql),
    "q47_small_qty_revenue" -> (q47SmallQtyRevenue _, q47Sql),
    "q48_top_supplier" -> (q48TopSupplier _, q48Sql),
    "q49_market_share" -> (q49MarketShare _, q49Sql),
    "q50_order_histogram" -> (q50OrderHistogram _, q50Sql),
    "q51_priority_mix" -> (q51PriorityMix _, q51Sql),
    "q52_large_volume" -> (q52LargeVolume _, q52Sql),
    "q53_sole_supplier" -> (q53SoleSupplier _, q53Sql),
    "q54_idle_capital" -> (q54IdleCapital _, q54Sql),
    "q55_local_supplier" -> (q55LocalSupplier _, q55Sql),
    "q56_trade_volume" -> (q56TradeVolume _, q56Sql),
    "q57_product_profit" -> (q57ProductProfit _, q57Sql),
    "q58_returned_items" -> (q58ReturnedItems _, q58Sql),
    "q59_segment_priority_chisq" -> (q59SegmentPriorityChisq _, q59Sql),
    "q60_supplier_hhi" -> (q60SupplierHhi _, q60Sql),
    "q61_pareto_curve" -> (q61ParetoCurve _, q61Sql),
    "q62_cohort_revenue" -> (q62CohortRevenue _, q62Sql),
    "q63_market_basket" -> (q63MarketBasket _, q63Sql),
    "q64_supplier_reliability" -> (q64SupplierReliability _, q64Sql),
    "q65_discount_elasticity" -> (q65DiscountElasticity _, q65Sql),
    "q66_quartile_migration" -> (q66QuartileMigration _, q66Sql),
    "q67_repeat_intervals" -> (q67RepeatIntervals _, q67Sql),
    "q71_ship_latency" -> (q71ShipLatency _, q71Sql),
    "q74_price_index" -> (q74PriceIndex _, q74Sql),
    "q75_paasche_index" -> (q75PaascheIndex _, q75Sql),
    "q76_supplier_churn" -> (q76SupplierChurn _, q76Sql),
    "q72_decile_lift" -> (q72DecileLift _, q72Sql),
    "q73_trade_balance" -> (q73TradeBalance _, q73Sql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
