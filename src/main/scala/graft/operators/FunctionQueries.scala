package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Exact
import graft.sources.Tables

/** Scalar-function breadth (SURVEY.md §2.7: string / date / math /
  * array / JSON functions) plus the join shapes the reference lacks
  * (range join, as-of join, grouping sets). Everything stays inside
  * whole-stage codegen — `org.apache.spark.sql.functions`, no UDFs.
  */
object FunctionQueries {

  // --------------------------------------------------------------------
  // q14: string functions — split/trim/regexp/substring/case/length over
  // part names (the reference's parse stage P3 generalized,
  // file_generator.go:79-105).
  def q14StringFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select(
        $"p_partkey",
        upper($"p_brand").as("brand_upper"),
        lower($"p_type").as("type_lower"),
        length($"p_name").as("name_len"),
        substring($"p_type", 1, 5).as("type_pre"),
        element_at(split($"p_type", " "), 1).as("type_first_word"),
        regexp_extract($"p_brand", "([0-9]+)", 1).as("brand_num"),
        trim(concat(lit("  "), $"p_name", lit("  "))).as("name_trim"),
        replace($"p_name", lit(" "), lit("_")).as("name_snake"),
        $"p_name".startsWith("a").as("starts_a"),
        $"p_name".contains("blue").as("has_blue"))
      .orderBy($"p_partkey")
  }

  val q14Sql: String =
    """SELECT p_partkey, UPPER(p_brand) AS brand_upper,
      |  LOWER(p_type) AS type_lower, LENGTH(p_name) AS name_len,
      |  SUBSTRING(p_type, 1, 5) AS type_pre,
      |  string_split(p_type, ' ')[1] AS type_first_word,
      |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
      |  TRIM('  ' || p_name || '  ') AS name_trim,
      |  REPLACE(p_name, ' ', '_') AS name_snake,
      |  p_name LIKE 'a%' AS starts_a,
      |  contains(p_name, 'blue') AS has_blue
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------
  // q15: date/time functions — the typed replacement for the
  // reference's DD-MM-YYYY string handling (common.js:42-53).
  def q15DatetimeFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("y"),
        month($"o_orderdate").as("m"),
        dayofmonth($"o_orderdate").as("d"),
        quarter($"o_orderdate").as("q"),
        to_date(date_trunc("month", $"o_orderdate")).as("month_start"),
        date_format($"o_orderdate", "dd-MM-yyyy").as("legacy_key"),
        datediff(lit(java.sql.Date.valueOf("2002-01-01")), to_date($"o_orderdate"))
          .as("days_to_2002"))
      .orderBy($"o_orderkey")
  }

  val q15Sql: String =
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INT) AS y,
      |  CAST(month(o_orderdate) AS INT) AS m,
      |  CAST(day(o_orderdate) AS INT) AS d,
      |  CAST(quarter(o_orderdate) AS INT) AS q,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  strftime(o_orderdate, '%d-%m-%Y') AS legacy_key,
      |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q16: math functions. Transcendentals are rounded to 6 decimals —
  // libm vs JDK StrictMath can differ in the last ulp.
  def q16MathFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_linenumber" === 1)
      .select(
        $"l_orderkey",
        abs($"l_discount" - 0.05).cast("double").as("abs_d"),
        ceil($"l_extendedprice").as("ceil_p"),
        floor($"l_extendedprice").as("floor_p"),
        round($"l_extendedprice", 1).as("round_p"),
        round(sqrt($"l_quantity"), 6).as("sqrt_q"),
        round(log($"l_extendedprice"), 6).as("ln_p"),
        round(pow($"l_quantity", lit(2.0)), 6).as("q_sq"),
        pmod($"l_orderkey", lit(7L)).as("key_mod7"),
        greatest($"l_tax", $"l_discount").as("max_rate"),
        least($"l_tax", $"l_discount").as("min_rate"))
      .orderBy($"l_orderkey")
  }

  val q16Sql: String =
    """SELECT l_orderkey,
      |  ABS(l_discount - 0.05) AS abs_d,
      |  CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_p,
      |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_p,
      |  ROUND(l_extendedprice, 1) AS round_p,
      |  ROUND(SQRT(l_quantity), 6) AS sqrt_q,
      |  ROUND(LN(l_extendedprice), 6) AS ln_p,
      |  ROUND(POW(l_quantity, 2.0), 6) AS q_sq,
      |  l_orderkey % 7 AS key_mod7,
      |  GREATEST(l_tax, l_discount) AS max_rate,
      |  LEAST(l_tax, l_discount) AS min_rate
      |FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q17: array functions over tokenized documents (the engine's
  // array/map surface, SURVEY §2.7; input to the llm text module).
  def q17ArrayFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select(
        $"doc_id",
        size($"toks").as("n_tokens"),
        size(array_distinct($"toks")).as("n_unique"),
        // joined to a scalar string: the driver's hash compare (pandas)
        // cannot sort/hash array cells, so array outputs ship serialized
        concat_ws(",", slice(array_sort($"toks"), 1, 3)).as("first3_sorted"),
        array_contains($"toks", "spark").as("has_spark"),
        element_at($"toks", 1).as("first_tok"),
        element_at($"toks", -1).as("last_tok"))
      .orderBy($"doc_id")
  }

  val q17Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS INT) AS n_unique,
      |  array_to_string(list_sort(toks)[1:3], ',') AS first3_sorted,
      |  list_contains(toks, 'spark') AS has_spark,
      |  toks[1] AS first_tok,
      |  toks[-1] AS last_tok
      |FROM t ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // q18: JSON extraction from events.props (FIXTURES.md: shape
  // {"k": <int>}) — the engine's from_json/get_json_object surface.
  def q18JsonFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(
        $"event_id",
        get_json_object($"props", "$.k").cast("long").as("k"),
        (get_json_object($"props", "$.k").cast("long") % 10).as("k_mod10"),
        get_json_object($"props", "$.missing").isNull.as("missing_is_null"))
      .orderBy($"event_id")
  }

  val q18Sql: String =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod10,
      |  json_extract_string(props, '$.missing') IS NULL AS missing_is_null
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q19: range (theta) join — events banded into literal value buckets
  // via a non-equi condition against a broadcast bounds table
  // (SURVEY §2.7 "range joins": absent from the reference; BNLJ over a
  // broadcast 4-row side is the right plan — check `.explain` shows
  // BroadcastNestedLoopJoin).
  def q19RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val buckets = spark.createDataFrame(Seq(
      ("low", 0.0, 50.0), ("mid", 50.0, 120.0),
      ("high", 120.0, 200.0), ("xhigh", 200.0, 1e9)))
      .toDF("bucket", "lo", "hi")
    Tables.events(spark, dir)
      .join(broadcast(buckets), $"value" >= $"lo" && $"value" < $"hi")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        Exact.sum($"value", 18, 6).as("sum_value"))
      .orderBy($"bucket")
  }

  val q19Sql: String =
    """WITH buckets(bucket, lo, hi) AS (VALUES
      |  ('low', 0.0, 50.0), ('mid', 50.0, 120.0),
      |  ('high', 120.0, 200.0), ('xhigh', 200.0, 1e9))
      |SELECT bucket, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events JOIN buckets ON value >= lo AND value < hi
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------------
  // q20: as-of join — for each purchase, the most recent click at or
  // before it by the same user. Implemented scalably as one window
  // pass over the interleaved event stream (union + last(ignoreNulls)
  // over rows-unbounded-preceding): no per-row subquery, one shuffle
  // on user_id. DuckDB's native ASOF JOIN is the oracle.
  def q20AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"ts", $"event_type",
        when($"event_type" === "click", unix_micros($"ts")).as("click_us"))
    // clicks sort before purchases at equal ts (ASOF allows ts-equality)
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_type".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_click_us", last($"click_us", ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase" && $"last_click_us".isNotNull)
      .select($"event_id", $"user_id",
        unix_micros($"ts").as("purchase_us"),
        $"last_click_us",
        (unix_micros($"ts") - $"last_click_us").as("gap_us"))
      .orderBy($"event_id")
  }

  val q20Sql: String =
    """SELECT p.event_id, p.user_id,
      |  epoch_us(p.ts) AS purchase_us,
      |  epoch_us(c.ts) AS last_click_us,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin

  // --------------------------------------------------------------------
  // q21: GROUPING SETS (the generalization of rollup/cube) via SQL.
  def q21GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |  (o_orderstatus, o_orderpriority))
        |ORDER BY status, priority""".stripMargin)
  }

  val q21Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
      |  (o_orderstatus, o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  // --------------------------------------------------------------------
  // q22: typed-Aggregator UDAF — exact top-3 order values per priority
  // with a k-bounded buffer (map-side combinable; see
  // graft.functions.TopKDoubles). The UDAF surface of SURVEY §2.7.
  def q22UdafTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // register once per session: unconditional re-registration logs a
    // "replaced a previously registered function" WARN on every call
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("top3_vals"))) {
      spark.udf.register("top3_vals",
        org.apache.spark.sql.functions.udaf(new graft.functions.TopKDoubles(3)))
    }
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(expr("top3_vals(o_totalprice)").as("top3_arr"),
        count(lit(1)).as("n"))
      // serialized via DECIMAL(18,2): double->string formatting diverges
      // across engines (scientific notation); fixed-point strings don't
      .select($"o_orderpriority",
        concat_ws(",", expr(
          "transform(top3_arr, x -> cast(cast(x as decimal(18,2)) as string))"))
          .as("top3_price"),
        $"n")
      .orderBy($"o_orderpriority")
  }

  val q22Sql: String =
    """SELECT o_orderpriority,
      |  array_to_string(list_transform((list_sort(list(o_totalprice), 'DESC'))[1:3],
      |    x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)), ',') AS top3_price,
      |  COUNT(*) AS n
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------------
  // q23: salted two-stage aggregation — the skew-mitigation pattern: a
  // hot grouping key is split across 8 salt partitions for the first
  // (wide) aggregation, then partials are combined in a second, tiny
  // aggregation. Result is identical to a direct groupBy (the oracle is
  // the plain GROUP BY); DECIMAL partials make the two-stage sum
  // order-insensitive and hash-exact.
  def q23SaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    Tables.events(spark, dir)
      .withColumn("salt", pmod(hash($"event_id"), lit(8)))
      .groupBy($"user_id", $"salt")
      .agg(sum($"value".cast(dec)).as("part_sum"),
        count(lit(1)).as("part_n"))
      .groupBy($"user_id")
      .agg(sum($"part_sum").cast("double").as("sum_value"),
        sum($"part_n").as("n"))
      .orderBy($"user_id")
  }

  val q23Sql: String =
    """SELECT user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // q24: correlated scalar subqueries — Catalyst decorrelates both into
  // aggregate-then-join (RewriteCorrelatedScalarSubquery), so the plan
  // is two shuffles, not a per-row probe. COALESCE makes the
  // no-lineitem case explicit (decorrelation turns the empty subquery
  // into a null via left join).
  def q24CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v24")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_v24")
    spark.sql(
      """SELECT o_orderkey,
        |  COALESCE((SELECT COUNT(*) FROM lineitem_v24 l
        |            WHERE l.l_orderkey = o.o_orderkey), 0) AS n_items,
        |  COALESCE((SELECT MAX(l_quantity) FROM lineitem_v24 l
        |            WHERE l.l_orderkey = o.o_orderkey), 0) AS max_qty
        |FROM orders_v24 o
        |ORDER BY o_orderkey""".stripMargin)
  }

  val q24Sql: String =
    """SELECT o_orderkey,
      |  COALESCE((SELECT COUNT(*) FROM lineitem l
      |            WHERE l.l_orderkey = o.o_orderkey), 0) AS n_items,
      |  COALESCE((SELECT MAX(l_quantity) FROM lineitem l
      |            WHERE l.l_orderkey = o.o_orderkey), 0) AS max_qty
      |FROM orders o
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q25: exact interpolated percentiles per group (median/p90/p99) —
  // Spark `percentile` and DuckDB `quantile_cont` share the linear-
  // interpolation definition, verified bit-exact. At 100 TB swap in
  // approx_percentile (t-digest) — same plan shape, bounded memory.
  def q25Percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val q25Sql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
      |  ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // q26: window-function family breadth — ranking (row_number / rank /
  // dense_rank / ntile), navigation (lead + first/last over a running
  // frame) in one pass over a single window partitioning (one shuffle).
  def q26WindowFamily(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .filter($"o_orderstatus" === "F")
      .select(
        $"o_orderpriority", $"o_orderkey", $"o_totalprice",
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lead($"o_orderkey", 1).over(w).as("next_key"),
        first($"o_totalprice").over(running).as("top_price_so_far"))
      .filter($"rn" <= 20)
      .orderBy($"o_orderpriority", $"rn")
  }

  val q26Sql: String =
    """WITH t AS (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER w AS rn,
      |    CAST(RANK() OVER w AS INT) AS rnk,
      |    CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      |    CAST(NTILE(4) OVER w AS INT) AS quartile,
      |    LEAD(o_orderkey, 1) OVER w AS next_key,
      |    FIRST_VALUE(o_totalprice) OVER
      |      (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_price_so_far
      |  FROM orders WHERE o_orderstatus = 'F'
      |  WINDOW w AS (PARTITION BY o_orderpriority
      |               ORDER BY o_totalprice DESC, o_orderkey))
      |SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn,
      |  rnk, drnk, quartile, next_key, top_price_so_far
      |FROM t WHERE rn <= 20 ORDER BY o_orderpriority, rn""".stripMargin

  // --------------------------------------------------------------------
  // q27: map functions — construction (map_from_arrays / map_concat),
  // access (element_at), introspection (size / map_keys). The engine's
  // MapType surface (SURVEY §2.7 array/map row); the oracle states the
  // expected scalars directly, verifying the map round-trip is lossless.
  def q27MapFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_linenumber" === 1)
      .select($"l_orderkey",
        map_from_arrays(
          array(lit("qty"), lit("price"), lit("disc")),
          array($"l_quantity", $"l_extendedprice", $"l_discount")).as("m"),
        $"l_tax")
      .select($"l_orderkey",
        element_at($"m", "qty").as("qty_via_map"),
        size($"m").as("n_keys"),
        concat_ws(",", array_sort(map_keys($"m"))).as("keys_sorted"),
        array_contains(map_keys($"m"), "price").as("has_price"),
        element_at(map_concat($"m", map(lit("tax"), $"l_tax")), "tax")
          .as("tax_via_map"))
      .orderBy($"l_orderkey")
  }

  val q27Sql: String =
    """SELECT l_orderkey,
      |  l_quantity AS qty_via_map,
      |  3 AS n_keys,
      |  'disc,price,qty' AS keys_sorted,
      |  TRUE AS has_price,
      |  l_tax AS tax_via_map
      |FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q28: RANGE window frame — trailing 30-day spend per customer. The
  // value-based frame q26's ROWS frames can't express; order key is a
  // day number so Spark's numeric rangeBetween and DuckDB's RANGE
  // PRECEDING agree exactly. One shuffle on o_custkey.
  def q28WindowRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val w = Window.partitionBy($"o_custkey").orderBy($"day_n")
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey",
        datediff(to_date($"o_orderdate"),
          lit(java.sql.Date.valueOf("1990-01-01"))).as("day_n"),
        $"o_totalprice")
      .withColumn("sum_30d",
        sum($"o_totalprice".cast(dec)).over(w).cast("double"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .select($"o_orderkey", $"o_custkey", $"day_n", $"sum_30d", $"n_30d")
      .orderBy($"o_orderkey")
  }

  val q28Sql: String =
    """WITH t AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_n,
      |    o_totalprice
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, day_n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_30d,
      |  COUNT(*) OVER w AS n_30d
      |FROM t
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_n
      |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q29: EXISTS / NOT EXISTS correlated subqueries — the subquery
  // syntax surface on top of q05/q06's join-API semi/anti joins.
  // Catalyst rewrites both to left-semi/left-anti joins on o_custkey
  // (RewritePredicateSubquery): two hash joins, no per-row probing.
  def q29ExistsSubq(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v29")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v29")
    spark.sql(
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer_v29 c
        |WHERE EXISTS (SELECT 1 FROM orders_v29 o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders_v29 o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)
  }

  val q29Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  // --------------------------------------------------------------------
  // q30: LATERAL VIEW posexplode — the generator/UDTF syntax surface
  // (ordinal-preserving row expansion; llm_mm_frames covers the
  // function-API generator). Bounded to the first 3 tokens per doc.
  def q30LateralExplode(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents_v30")
    spark.sql(
      """SELECT doc_id, pos, tok
        |FROM documents_v30
        |LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok
        |WHERE pos < 3
        |ORDER BY doc_id, pos""".stripMargin)
  }

  val q30Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |SELECT doc_id, CAST(i AS INT) AS pos, toks[i + 1] AS tok
      |FROM t, range(0, 3) r(i)
      |WHERE i < len(toks)
      |ORDER BY doc_id, pos""".stripMargin

  // --------------------------------------------------------------------
  // q31: HAVING with an uncorrelated scalar subquery — keep priorities
  // whose revenue exceeds 19.9% of total revenue. The scalar subquery is
  // planned once as its own tiny aggregation and broadcast into the
  // filter (one extra job, no per-row probing); the global sum routes
  // through DECIMAL so both engines compare against the identical
  // double.
  def q31HavingSubq(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v31")
    spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders_v31
        |GROUP BY o_orderpriority
        |HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) >
        |  0.199 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |          FROM orders_v31)
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val q31Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY o_orderpriority
      |HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) >
      |  0.199 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |          FROM orders)
      |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------------
  // q33: null semantics — NULLIF/COALESCE/null-safe equality and the
  // COUNT(col)-skips-nulls contract, exercised per-group so the
  // null-skipping behavior is visible in aggregates.
  def q33NullFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority",
        expr("nullif(o_orderstatus, 'P')").as("st_or_null"),
        $"o_orderstatus")
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"st_or_null").as("n_nonnull"), // COUNT(col) skips nulls
        sum(when($"o_orderstatus" <=> $"st_or_null", 1).otherwise(0))
          .as("n_null_safe_eq"),
        sum(when(coalesce($"st_or_null", lit("replaced")) === "replaced", 1)
          .otherwise(0)).as("n_replaced"))
      .orderBy($"o_orderpriority")
  }

  val q33Sql: String =
    """WITH t AS (SELECT o_orderpriority, o_orderstatus,
      |    NULLIF(o_orderstatus, 'P') AS st_or_null FROM orders)
      |SELECT o_orderpriority,
      |  COUNT(*) AS n_rows,
      |  COUNT(st_or_null) AS n_nonnull,
      |  CAST(SUM(CASE WHEN o_orderstatus IS NOT DISTINCT FROM st_or_null
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq,
      |  CAST(SUM(CASE WHEN COALESCE(st_or_null, 'replaced') = 'replaced'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_replaced
      |FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------------
  // q34: approximate distinct (HLL++) bounded against its exact twin —
  // the 100 TB substitute for COUNT(DISTINCT). The estimate itself is
  // engine-specific, but HLL is a max over register values, so it is
  // merge-order independent: "within 5% of exact" is a deterministic
  // boolean the oracle can state as TRUE. (approx_percentile's summary
  // IS merge-order sensitive, so it stays spec-bounded, not
  // oracle-declared — see ApproxSpec.)
  def q34ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_orderkey").as("exact_distinct"),
        // rsd=0.01: the 5% assertion bound is then 5 standard
        // deviations — the default rsd of 0.05 actually missed it
        approx_count_distinct($"l_orderkey", 0.01).as("approx"))
      .select($"l_returnflag", $"exact_distinct",
        (abs($"approx" - $"exact_distinct") <=
          greatest(lit(1L), $"exact_distinct" * 5 / 100)).as("approx_ok"))
      .orderBy($"l_returnflag")
  }

  val q34Sql: String =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS exact_distinct,
      |  TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------
  // q35: calendar arithmetic — month addition (with end-of-month
  // clamping), last_day, ISO weeks, week truncation, day arithmetic.
  // Both engines clamp Jan 31 + 1 month to Feb 28 and truncate weeks
  // to Monday, so results are exact.
  def q35DatetimeArith(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey",
        add_months(to_date($"o_orderdate"), 3).as("plus3m"),
        last_day(to_date($"o_orderdate")).as("month_end"),
        (dayofweek(to_date($"o_orderdate"))).as("dow"),
        weekofyear(to_date($"o_orderdate")).as("iso_week"),
        to_date(date_trunc("week", $"o_orderdate")).as("week_start"),
        date_sub(to_date($"o_orderdate"), 30).as("minus30d"))
      .orderBy($"o_orderkey")
  }

  val q35Sql: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
      |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
      |  CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
      |  CAST(o_orderdate - INTERVAL 30 DAY AS DATE) AS minus30d
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // --------------------------------------------------------------------
  // q36: bitwise operators — AND/OR/XOR/shifts/popcount over integer
  // keys (hash-bucketing and bitmap tricks depend on these).
  def q36Bitwise(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_id",
        ($"event_id".bitwiseAND(255)).as("low_byte"),
        ($"event_id".bitwiseOR($"user_id")).as("id_or_user"),
        ($"event_id".bitwiseXOR($"user_id")).as("id_xor_user"),
        shiftleft($"event_id" % 1000, 3).as("shl3"),
        shiftright($"event_id", 2).as("shr2"),
        bit_count($"event_id").as("popcount"))
      .orderBy($"event_id")
  }

  val q36Sql: String =
    """SELECT event_id,
      |  event_id & 255 AS low_byte,
      |  event_id | user_id AS id_or_user,
      |  xor(event_id, user_id) AS id_xor_user,
      |  (event_id % 1000) << 3 AS shl3,
      |  event_id >> 2 AS shr2,
      |  CAST(bit_count(event_id) AS INT) AS popcount
      |FROM events ORDER BY event_id""".stripMargin

  // --------------------------------------------------------------------
  // q37: string padding / reversal / translation — the remainder of the
  // string surface beyond q14 (pad-to-width, repeat, char mapping,
  // 1-based field split).
  def q37StringExtras(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select($"p_partkey",
        lpad($"p_brand", 12, "*").as("brand_lpad"),
        rpad($"p_brand", 12, ".").as("brand_rpad"),
        reverse($"p_name").as("name_rev"),
        repeat(substring($"p_type", 1, 2), 3).as("type2x3"),
        translate($"p_name", "aeiou", "12345").as("name_translated"),
        expr("split_part(p_type, ' ', 2)").as("type_second_word"),
        expr("left(p_name, 4)").as("name_left4"),
        expr("right(p_name, 4)").as("name_right4"))
      .orderBy($"p_partkey")
  }

  val q37Sql: String =
    """SELECT p_partkey,
      |  lpad(p_brand, 12, '*') AS brand_lpad,
      |  rpad(p_brand, 12, '.') AS brand_rpad,
      |  reverse(p_name) AS name_rev,
      |  repeat(substring(p_type, 1, 2), 3) AS type2x3,
      |  translate(p_name, 'aeiou', '12345') AS name_translated,
      |  split_part(p_type, ' ', 2) AS type_second_word,
      |  left(p_name, 4) AS name_left4,
      |  right(p_name, 4) AS name_right4
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------
  // q40: referential-integrity audit — orphan counts for every foreign-
  // key edge of the star schema, the data-quality gate a warehouse runs
  // before trusting a join (an orphan child row silently vanishes from
  // an inner join). Scale shape: the child side collapses to
  // (key, row_count) via a partial-aggregable groupBy FIRST, so the
  // parent join shuffles one row per DISTINCT key, not one per child
  // row — at 100 TB the lineitem→orders edge moves |keys| rows, not
  // |rows| — and child_rows/orphan_rows both come back by summing the
  // collapsed counts, so each child table is scanned exactly once.
  def q40FkIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, key: String,
             parent: DataFrame, pkey: String): DataFrame = {
      // ONE pass over the child: collapse to (key, cnt), left-join the
      // parent key (a primary key, so the join can't fan out), and read
      // child_rows back as SUM(cnt) — the r8 shape re-scanned the child
      // for its row count, i.e. five extra fact scans at 100 TB.
      val perKey = child.groupBy(col(key).as("k"))
        .agg(count(lit(1)).as("cnt"))
      perKey
        .join(parent.select(col(pkey).as("k"), lit(1).as("hit")),
          Seq("k"), "left_outer")
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("child_rows"),
          count(when(col("hit").isNull, 1)).as("orphan_keys"),
          coalesce(sum(when(col("hit").isNull, col("cnt"))), lit(0L))
            .as("orphan_rows"))
        .select(lit(name).as("edge"), col("child_rows"),
          col("orphan_keys"), col("orphan_rows"))
    }
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    edge("customer->nation", Tables.customer(spark, dir), "c_nationkey",
        Tables.nation(spark, dir), "n_nationkey")
      .unionAll(edge("lineitem->orders", li, "l_orderkey", ord, "o_orderkey"))
      .unionAll(edge("lineitem->part", li, "l_partkey",
        Tables.part(spark, dir), "p_partkey"))
      .unionAll(edge("lineitem->supplier", li, "l_suppkey",
        Tables.supplier(spark, dir), "s_suppkey"))
      .unionAll(edge("orders->customer", ord, "o_custkey",
        Tables.customer(spark, dir), "c_custkey"))
      .orderBy(col("edge"))
  }

  val q40Sql: String = {
    def edge(name: String, child: String, key: String,
             parent: String, pkey: String): String =
      s"""SELECT '$name' AS edge,
         |  (SELECT COUNT(*) FROM $child) AS child_rows,
         |  CAST(COUNT(*) AS BIGINT) AS orphan_keys,
         |  CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS orphan_rows
         |FROM (SELECT $key AS k, COUNT(*) AS cnt FROM $child GROUP BY 1) c
         |LEFT JOIN $parent p ON c.k = p.$pkey WHERE p.$pkey IS NULL""".stripMargin
    Seq(
      edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  // --------------------------------------------------------------------
  // q41: join-key skew audit — per candidate shuffle key: row count,
  // distinct keys, the heaviest key's share, and max/avg skew ratio.
  // This is the pre-flight diagnostic that decides whether a join or
  // aggregation needs q23's salting (or AQE skew handling) BEFORE the
  // straggler appears at 100 TB: a skew_ratio near 1 shuffles evenly;
  // events.event_type (5 values over millions of rows) is the shape
  // that funnels a reducer. Two-phase plan: per-key counts are one
  // partial-aggregable groupBy; the summary reduces the (key,count)
  // table to ONE row — nothing wider than the distinct-key table ever
  // shuffles, and no window touches the hot key.
  def q41SkewAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(label: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("cnt")).as("max_per_key"),
          expr("percentile(cnt, 0.99)").as("p99"))
        .select(lit(label).as("join_key"), col("n_rows"), col("n_keys"),
          col("max_per_key"), round(col("p99"), 6).as("p99_per_key"),
          round(col("max_per_key") * col("n_keys") / col("n_rows"), 6)
            .as("skew_ratio"),
          (col("max_per_key") * col("n_keys") > lit(4) * col("n_rows"))
            .as("is_skewed"))
    val li = Tables.lineitem(spark, dir)
    val ev = Tables.events(spark, dir)
    audit("events.event_type", ev, "event_type")
      .unionAll(audit("events.user_id", ev, "user_id"))
      .unionAll(audit("lineitem.l_orderkey", li, "l_orderkey"))
      .unionAll(audit("lineitem.l_partkey", li, "l_partkey"))
      .unionAll(audit("orders.o_custkey", Tables.orders(spark, dir), "o_custkey"))
      .orderBy(col("join_key"))
  }

  val q41Sql: String = {
    def audit(label: String, table: String, key: String): String =
      s"""SELECT '$label' AS join_key,
         |  CAST(SUM(cnt) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(cnt) AS BIGINT) AS max_per_key,
         |  ROUND(quantile_cont(cnt, 0.99), 6) AS p99_per_key,
         |  ROUND(MAX(cnt) * COUNT(*) / SUM(cnt), 6) AS skew_ratio,
         |  MAX(cnt) * COUNT(*) > 4 * SUM(cnt) AS is_skewed
         |FROM (SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY 1) t""".stripMargin
    Seq(
      audit("events.event_type", "events", "event_type"),
      audit("events.user_id", "events", "user_id"),
      audit("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      audit("lineitem.l_partkey", "lineitem", "l_partkey"),
      audit("orders.o_custkey", "orders", "o_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY join_key")
  }

  // --------------------------------------------------------------------
  // q90_higher_order_funcs: the lambda/higher-order array surface —
  // aggregate (left fold), zip_with, filter, exists, forall — over
  // per-order quantity/price vectors. q17 exercises the scalar array
  // functions; these are the CODEGEN'D LAMBDA forms that replace row
  // UDFs for per-entity vector logic (the engine's own ANN/PQ paths
  // run on exactly these), so the §2.7 matrix needs them first-class.
  // Scale shape: one fact scan collapses to order grain (collect_list
  // of (linenumber, value) structs, partial-aggregable); every lambda
  // is per-row arithmetic on the bounded per-order array (TPC-H
  // orders have ≤ 7 lines). Determinism: arrays are sorted by
  // linenumber (total order) so the fold SEQUENCE is fixed — the
  // fold's float rounding is then bit-identical in both engines (no
  // DECIMAL routing needed: same operands, same order); exists/forall
  // emit BIGINT 0/1 flags.
  def q90HigherOrderFuncs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice")
      .groupBy($"l_orderkey")
      // ONE sorted struct array, both vectors extracted from it: the
      // fixture has DUPLICATE l_linenumber values within an order, so
      // sorting qtys and prices independently would pair values from
      // different lineitems; the (ln, qty, price) key is a total order
      // up to fully-identical rows (where pairing is moot)
      .agg(expr(
        """array_sort(collect_list(
          |  struct(l_linenumber, l_quantity, l_extendedprice)))"""
          .stripMargin).as("items"))
      .select($"l_orderkey",
        expr("transform(items, s -> s.l_quantity)").as("qtys"),
        expr("transform(items, s -> s.l_extendedprice)").as("prices"))
      .select($"l_orderkey",
        size($"qtys").as("n_items"),
        round(expr(
          "aggregate(qtys, cast(0.0 as double), (a, x) -> a + x)"), 2)
          .as("hof_sum_qty"),
        round(expr(
          """aggregate(zip_with(qtys, prices, (q, p) -> q * p),
            |  cast(0.0 as double), (a, x) -> a + x)""".stripMargin), 2)
          .as("hof_dot"),
        size(expr("filter(qtys, x -> x >= 30.0d)")).as("n_big"),
        expr("if(exists(qtys, x -> x % 2.0d = 0.0d), 1L, 0L)")
          .as("has_even"),
        expr("if(forall(qtys, x -> x > 0.0d), 1L, 0L)")
          .as("all_positive"))
      .orderBy($"l_orderkey")
  }

  val q90Sql: String =
    """WITH g AS (
      |  SELECT l_orderkey,
      |    list(l_quantity ORDER BY l_linenumber, l_quantity,
      |      l_extendedprice) AS qtys,
      |    list(l_extendedprice ORDER BY l_linenumber, l_quantity,
      |      l_extendedprice) AS prices
      |  FROM lineitem GROUP BY 1)
      |SELECT l_orderkey,
      |  CAST(len(qtys) AS INT) AS n_items,
      |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), qtys),
      |    (a, x) -> a + x), 2) AS hof_sum_qty,
      |  ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(list_zip(qtys, prices), z -> z[1] * z[2])),
      |    (a, x) -> a + x), 2) AS hof_dot,
      |  CAST(len(list_filter(qtys, x -> x >= 30.0)) AS INT) AS n_big,
      |  CAST(CASE WHEN len(list_filter(qtys, x -> x % 2.0 = 0.0)) > 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS has_even,
      |  CAST(CASE WHEN len(list_filter(qtys, x -> NOT (x > 0.0))) = 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS all_positive
      |FROM g ORDER BY l_orderkey""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "q90_higher_order_funcs" -> (q90HigherOrderFuncs _, q90Sql),
    "q14_string_funcs" -> (q14StringFuncs _, q14Sql),
    "q15_datetime_funcs" -> (q15DatetimeFuncs _, q15Sql),
    "q16_math_funcs" -> (q16MathFuncs _, q16Sql),
    "q17_array_funcs" -> (q17ArrayFuncs _, q17Sql),
    "q18_json_funcs" -> (q18JsonFuncs _, q18Sql),
    "q19_range_join" -> (q19RangeJoin _, q19Sql),
    "q20_asof_join" -> (q20AsofJoin _, q20Sql),
    "q21_grouping_sets" -> (q21GroupingSets _, q21Sql),
    "q22_udaf_topk" -> (q22UdafTopk _, q22Sql),
    "q23_salted_agg" -> (q23SaltedAgg _, q23Sql),
    "q24_correlated_subq" -> (q24CorrelatedSubquery _, q24Sql),
    "q25_percentiles" -> (q25Percentiles _, q25Sql),
    "q26_window_family" -> (q26WindowFamily _, q26Sql),
    "q27_map_funcs" -> (q27MapFuncs _, q27Sql),
    "q28_window_range" -> (q28WindowRange _, q28Sql),
    "q29_exists_subq" -> (q29ExistsSubq _, q29Sql),
    "q30_lateral_explode" -> (q30LateralExplode _, q30Sql),
    "q31_having_subq" -> (q31HavingSubq _, q31Sql),
    "q33_null_funcs" -> (q33NullFuncs _, q33Sql),
    "q34_approx_distinct" -> (q34ApproxDistinct _, q34Sql),
    "q35_datetime_arith" -> (q35DatetimeArith _, q35Sql),
    "q36_bitwise" -> (q36Bitwise _, q36Sql),
    "q37_string_extras" -> (q37StringExtras _, q37Sql),
    "q40_fk_integrity" -> (q40FkIntegrity _, q40Sql),
    "q41_skew_audit" -> (q41SkewAudit _, q41Sql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
