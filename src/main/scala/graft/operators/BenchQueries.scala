package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.sources.{BenchFixture, BenchIngest}

/** Reference-surface queries (SURVEY.md §2) over the deterministic
  * fixture tree. The fixture is a pure function of its path, so every
  * query's result is a constant — the DuckDB oracles are literal
  * SELECTs of the expected rows, making these full hash-checked golden
  * tests of ingest semantics (P1/P2/P3, A1 last-write-wins, O1 date
  * sort, A3 catalog, A4 distinct dates, J1 alignment, J2 unpivot,
  * O3/O4 priority order).
  *
  * Queries ignore the star-schema `dir` argument — their input is the
  * fixture tree (written under target/, never committed).
  */
object BenchQueries {

  private val pkgs = Seq("sql", "sql/parser", "util/cache")

  /** Per-JVM scratch root for sinkRoundtrip: concurrent harness runs
    * (bench alongside verify, or two verifies) each get their own dir,
    * so neither reads the other's half-written sink output. Lazy so the
    * dir is only created when the sink query actually runs; registered
    * for deletion on exit. */
  lazy val sinkScratchDir: String = {
    val p = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp")),
      "graft_bench_sink_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } catch { case _: Throwable => () }))
    p.toString
  }

  /** Ingested fact table over the shared fixture, materialized once per
    * session: nine queries share it, and the fixture is a constant —
    * the same dim-table caching a deployment would use. Ingest itself
    * is exercised uncached in IngestSpec and the streaming-ingest
    * tests. Session-scoped via [[graft.sources.Tables.artifact]],
    * which evicts on application end (no pinned stopped sessions). */
  def fact(spark: SparkSession): DataFrame =
    graft.sources.Tables.artifact(spark, BenchFixture.shared, "bench_fact") {
      BenchIngest.ingest(spark, BenchFixture.shared, pkgs)
    }

  def ingestGolden(spark: SparkSession, dir: String): DataFrame =
    fact(spark).orderBy(col("pkg"), col("test"), col("date"))

  val ingestGoldenSql: String =
    """SELECT * FROM (VALUES
      |  ('sql', 'BenchmarkBank2_Cockroach-8', DATE '2015-01-01', CAST(1328086 AS BIGINT), CAST(2317 AS BIGINT), CAST(183965 AS BIGINT), CAST(0.0 AS DOUBLE)),
      |  ('sql', 'BenchmarkBank2_Cockroach-8', DATE '2015-01-02', CAST(1200000 AS BIGINT), CAST(2300 AS BIGINT), CAST(180000 AS BIGINT), CAST(0.0 AS DOUBLE)),
      |  ('sql', 'BenchmarkBank2_Cockroach-8', DATE '2015-03-15', CAST(1100000 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
      |  ('sql', 'BenchmarkDup-8', DATE '2015-01-01', CAST(200 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
      |  ('sql/parser', 'BenchmarkParse-4', DATE '2015-01-01', CAST(4096 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(12.34 AS DOUBLE)),
      |  ('util/cache', 'BenchmarkCacheGet-8', DATE '2015-01-02', CAST(250 AS BIGINT), CAST(1 AS BIGINT), CAST(64 AS BIGINT), CAST(998.77 AS DOUBLE))
      |) AS t(pkg, test, date, ns_per_op, allocs_per_op, bytes_per_op, mb_per_s)
      |ORDER BY pkg, test, date""".stripMargin

  def seriesSorted(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.sortedSeries(fact(spark), "sql", "BenchmarkBank2_Cockroach-8")

  val seriesSortedSql: String =
    """SELECT * FROM (VALUES
      |  (DATE '2015-01-01', CAST(1328086 AS BIGINT), CAST(2317 AS BIGINT), CAST(183965 AS BIGINT), CAST(0.0 AS DOUBLE)),
      |  (DATE '2015-01-02', CAST(1200000 AS BIGINT), CAST(2300 AS BIGINT), CAST(180000 AS BIGINT), CAST(0.0 AS DOUBLE)),
      |  (DATE '2015-03-15', CAST(1100000 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE))
      |) AS t(date, ns_per_op, allocs_per_op, bytes_per_op, mb_per_s)
      |ORDER BY date""".stripMargin

  // tests serialized to one string: the driver's pandas hash compare
  // cannot handle array cells (CORRECTNESS_r01 'unhashable numpy.ndarray')
  def catalogQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.catalog(fact(spark))
      .select(col("pkg"), concat_ws(",", col("tests")).as("tests"))

  val catalogSql: String =
    """SELECT * FROM (VALUES
      |  ('sql', 'BenchmarkBank2_Cockroach-8,BenchmarkDup-8'),
      |  ('sql/parser', 'BenchmarkParse-4'),
      |  ('util/cache', 'BenchmarkCacheGet-8')
      |) AS t(pkg, tests) ORDER BY pkg""".stripMargin

  /** J3 (generate_benchmark_plot.js:106-125): flatten the catalog back
    * to sorted (pkg, test) pairs — the compare-dropdown query. */
  def flattenQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.catalog(fact(spark))
      .select(col("pkg"), explode(col("tests")).as("test"))
      .orderBy(col("pkg"), col("test"))

  val flattenSql: String =
    """SELECT * FROM (VALUES
      |  ('sql', 'BenchmarkBank2_Cockroach-8'),
      |  ('sql', 'BenchmarkDup-8'),
      |  ('sql/parser', 'BenchmarkParse-4'),
      |  ('util/cache', 'BenchmarkCacheGet-8')
      |) AS t(pkg, test) ORDER BY pkg, test""".stripMargin

  def distinctDatesQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.distinctDates(fact(spark))

  val distinctDatesSql: String =
    """SELECT * FROM (VALUES (DATE '2015-01-01'), (DATE '2015-01-02'),
      |  (DATE '2015-03-15')) AS t(date) ORDER BY date""".stripMargin

  def unpivotQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.unpivotMetrics(fact(spark))
      .filter(col("test") === "BenchmarkBank2_Cockroach-8" &&
        col("date") === lit("2015-01-01").cast("date"))
      .select(col("metric"), col("val"))
      .orderBy(col("metric"))

  val unpivotSql: String =
    """SELECT * FROM (VALUES
      |  ('allocs_per_op', CAST(2317.0 AS DOUBLE)),
      |  ('bytes_per_op', CAST(183965.0 AS DOUBLE)),
      |  ('mb_per_s', CAST(0.0 AS DOUBLE)),
      |  ('ns_per_op', CAST(1328086.0 AS DOUBLE))
      |) AS t(metric, val) ORDER BY metric""".stripMargin

  def alignQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.alignSeries(fact(spark), "sql",
      "BenchmarkBank2_Cockroach-8", "BenchmarkDup-8")

  val alignSql: String =
    """SELECT * FROM (VALUES
      |  (DATE '2015-01-01', CAST(1328086 AS BIGINT), CAST(200 AS BIGINT)),
      |  (DATE '2015-01-02', CAST(1200000 AS BIGINT), CAST(NULL AS BIGINT)),
      |  (DATE '2015-03-15', CAST(1100000 AS BIGINT), CAST(NULL AS BIGINT))
      |) AS t(date, a_ns_per_op, b_ns_per_op) ORDER BY date""".stripMargin

  // --------------------------------------------------------------------
  // bench_series_ratio: compared-series ratio — the number the
  // reference's compare view leaves the reader to eyeball: per shared
  // date, B's ns/op as a fraction of A's. Rides the same J1 alignment
  // (full outer on date), inner-restricted to dates BOTH series
  // measured (a ratio against a missing point is undefined, not 0); a
  // single IEEE double division is correctly rounded in both engines,
  // so the value is cross-engine exact without decimal routing.
  def seriesRatioQ(spark: SparkSession, dir: String): DataFrame = {
    SeriesOps.alignSeries(fact(spark), "sql",
        "BenchmarkBank2_Cockroach-8", "BenchmarkDup-8")
      .filter(col("a_ns_per_op").isNotNull && col("b_ns_per_op").isNotNull)
      .select(col("date"), col("a_ns_per_op"), col("b_ns_per_op"),
        round(col("b_ns_per_op").cast("double")
          / col("a_ns_per_op").cast("double"), 9).as("b_over_a"))
      .orderBy(col("date"))
  }

  val seriesRatioSql: String =
    """SELECT date, a_ns_per_op, b_ns_per_op,
      |  ROUND(CAST(b_ns_per_op AS DOUBLE) / a_ns_per_op, 9) AS b_over_a
      |FROM (VALUES
      |  (DATE '2015-01-01', CAST(1328086 AS BIGINT), CAST(200 AS BIGINT))
      |) AS t(date, a_ns_per_op, b_ns_per_op) ORDER BY date""".stripMargin

  def pivotWideQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.pivotWide(fact(spark), "sql",
      Seq("BenchmarkBank2_Cockroach-8", "BenchmarkDup-8"))
      .select(col("date"),
        col("BenchmarkBank2_Cockroach-8").as("t_bank2"),
        col("BenchmarkDup-8").as("t_dup"))

  val pivotWideSql: String =
    """SELECT * FROM (VALUES
      |  (DATE '2015-01-01', CAST(1328086 AS BIGINT), CAST(200 AS BIGINT)),
      |  (DATE '2015-01-02', CAST(1200000 AS BIGINT), CAST(NULL AS BIGINT)),
      |  (DATE '2015-03-15', CAST(1100000 AS BIGINT), CAST(NULL AS BIGINT))
      |) AS t(date, t_bank2, t_dup) ORDER BY date""".stripMargin

  def priorityQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.priorityOrder(SeriesOps.catalog(fact(spark)),
      Seq("BenchmarkDup-8") ++ SeriesOps.ReferencePriorities)

  val prioritySql: String =
    """SELECT * FROM (VALUES
      |  ('sql', 'BenchmarkDup-8', 1),
      |  ('sql', 'BenchmarkBank2_Cockroach-8', 2),
      |  ('sql/parser', 'BenchmarkParse-4', 1),
      |  ('util/cache', 'BenchmarkCacheGet-8', 1)
      |) AS t(pkg, test, rank) ORDER BY pkg, rank""".stripMargin

  /** O3 faithful form: phantom priority names included unconditionally
    * for pkg=sql, exactly as the frontend's unshift (see
    * SeriesOps.priorityWithPhantoms). */
  def priorityPhantomsQ(spark: SparkSession, dir: String): DataFrame =
    SeriesOps.priorityWithPhantoms(SeriesOps.catalog(fact(spark)))

  val priorityPhantomsSql: String = {
    val rows =
      SeriesOps.ReferencePriorities.zipWithIndex.map { case (t, i) =>
        s"('sql', '$t', ${i + 1})"
      } ++ Seq(
        "('sql', 'BenchmarkBank2_Cockroach-8', 33)",
        "('sql', 'BenchmarkDup-8', 34)",
        "('sql/parser', 'BenchmarkParse-4', 1)",
        "('util/cache', 'BenchmarkCacheGet-8', 1)")
    s"""SELECT * FROM (VALUES
       |  ${rows.mkString(",\n  ")}
       |) AS t(pkg, test, rank) ORDER BY pkg, rank""".stripMargin
  }

  /** Date spine: gap-fill the sparse golden series to a continuous
    * daily axis — the time axis the reference's plot renders
    * (generate_benchmark_plot.js builds its x-axis from the union of
    * dates; a SQL consumer wants the spine explicit). The registered
    * plan generates the spine with `explode(sequence(d0, d1, 1 day))`
    * — ONE narrow generator pass whose cost is independent of the date
    * range, so a 10-year axis costs the same plan as a 10-day one. The
    * DuckDB oracle keeps the textbook recursive-CTE formulation (spec,
    * not algorithm); the LEFT JOIN keeps the series columns nullable
    * for the gap days exactly like the frontend's missing-point
    * handling.
    */
  def dateSpine(spark: SparkSession, dir: String): DataFrame = {
    val f = fact(spark)
      .filter(col("pkg") === "sql" &&
        col("test") === "BenchmarkBank2_Cockroach-8")
      .select(col("date"), col("ns_per_op"))
    val spine = f
      .agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("date"))
    spine.join(f, Seq("date"), "left")
      .select(col("date"), col("ns_per_op"))
      .orderBy(col("date"))
  }

  val dateSpineSql: String =
    s"""WITH RECURSIVE fct AS ($ingestGoldenSql),
       |bounds AS (
       |  SELECT MIN(date) AS d0, MAX(date) AS d1 FROM fct
       |  WHERE pkg = 'sql' AND test = 'BenchmarkBank2_Cockroach-8'),
       |spine(date) AS (
       |  SELECT d0 FROM bounds
       |  UNION ALL
       |  SELECT spine.date + 1 FROM spine, bounds
       |  WHERE spine.date < bounds.d1)
       |SELECT s.date, f.ns_per_op
       |FROM spine s
       |LEFT JOIN (SELECT date, ns_per_op FROM fct
       |  WHERE pkg = 'sql' AND test = 'BenchmarkBank2_Cockroach-8') f
       |  ON s.date = f.date
       |ORDER BY s.date""".stripMargin

  /** S5+S6 sink round-trip, ORACLE-CHECKED end to end: write the
    * reference-exact `<pkg>/<test>.json` deploy tree (S5) and the
    * catalog (S6), then
    * read the deploy tree's ACTUAL bytes back (wholetext — the files
    * on disk, not the pre-write frame) and reduce each file to a
    * summary row: relative path, date-key count, lexical first/last
    * date key, and DECIMAL-routed stat sums. The DuckDB oracle
    * recomputes the same summary from the golden fact, closing the
    * loop path layout → JSON body → parse → aggregate against an
    * independent engine (previously this was the registry's one
    * rows-only entry). Byte-level body shape (key order, null
    * rendering) stays asserted in BenchSinksSpec; catalog CONTENT is
    * hash-checked by bench_catalog.
    */
  def sinkRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // Per-process scratch dir: two concurrent harness runs (bench +
    // verify, or two verifies) must not clobber each other's sink
    // output mid-read. Keyed per JVM, not per call, so repeat
    // invocations in one session overwrite in place instead of
    // leaking a dir per run; deleted on JVM exit.
    val out = BenchQueries.sinkScratchDir
    val f = fact(spark)
    BenchSinks.writeSeriesJsonExact(f, s"$out/deploy")
    BenchSinks.writeCatalogJson(f, s"$out/catalog")
    val bodyType = "MAP<STRING, STRUCT<N: BIGINT, A: BIGINT, B: BIGINT, M: DOUBLE>>"
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .text(s"$out/deploy")
      .select(
        regexp_replace(input_file_name(), "^.*?/deploy/", "").as("rel_path"),
        from_json(col("value"), bodyType, Map.empty[String, String]).as("series"))
      .select(col("rel_path"), explode(col("series")))
      .groupBy(col("rel_path"))
      .agg(count(lit(1)).as("n_dates"),
        min(col("key")).as("first_key"),
        max(col("key")).as("last_key"),
        sum(col("value.N")).as("sum_ns"),
        round(Exact.sum(col("value.M"), 18, 6), 6).as("sum_mbs"))
      .orderBy(col("rel_path"))
  }

  val sinkRoundtripSql: String =
    s"""WITH fct AS ($ingestGoldenSql)
       |SELECT pkg || '/' || test || '.json' AS rel_path,
       |  CAST(COUNT(*) AS BIGINT) AS n_dates,
       |  MIN(strftime(date, '%d-%m-%Y')) AS first_key,
       |  MAX(strftime(date, '%d-%m-%Y')) AS last_key,
       |  CAST(SUM(ns_per_op) AS BIGINT) AS sum_ns,
       |  ROUND(CAST(SUM(CAST(mb_per_s AS DECIMAL(18,6))) AS DOUBLE), 6)
       |    AS sum_mbs
       |FROM fct GROUP BY pkg, test ORDER BY rel_path""".stripMargin

  // --------------------------------------------------------------------
  // bench_moving_avg: trailing 3-point mean per series — the smoothing
  // pass a plot layer runs before rendering a noisy ns/op line. One
  // window partitioned on (pkg,test) ordered by date: the same single
  // shuffle every series op here uses, and the frame is ROWS-bounded
  // so state per series is O(3) regardless of history length. The sum
  // goes through DECIMAL so the cross-engine mean is exact.
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pkg"), col("test")).orderBy(col("date"))
      .rowsBetween(-2, 0)
    fact(spark)
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"),
        count(lit(1)).over(w).as("n_pts"),
        round((sum(col("ns_per_op").cast("decimal(28,6)")).over(w)
          / count(lit(1)).over(w)).cast("double"), 6).as("ma3"))
      .orderBy(col("pkg"), col("test"), col("date"))
  }

  val movingAvgSql: String =
    s"""WITH fct AS ($ingestGoldenSql)
       |SELECT pkg, test, date, ns_per_op,
       |  COUNT(*) OVER w AS n_pts,
       |  ROUND(CAST(SUM(CAST(ns_per_op AS DECIMAL(28,6))) OVER w
       |    / COUNT(*) OVER w AS DOUBLE), 6) AS ma3
       |FROM fct
       |WINDOW w AS (PARTITION BY pkg, test ORDER BY date
       |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY pkg, test, date""".stripMargin

  // --------------------------------------------------------------------
  // bench_ewma: exponentially weighted moving average per series —
  // the other standard smoother next to bench_moving_avg's flat
  // window: recent points dominate (alpha = 0.3), so level shifts show
  // up in the smoothed line a couple of points sooner than in ma3.
  // Uses the truncated adjusted form ewma_t = Σ_{j<K} w_j·x_{t-j} /
  // Σ_{j<K} w_j with w_j = 0.7^j and K = 10 — well-defined from the
  // first point (no seed bias) and bounded state.
  //
  // Cross-engine exactness: 0.7^j for j < 10 is a ≤ 9-digit decimal,
  // so the weights are EXACT DECIMAL literals (a 10-row broadcast
  // table, not runtime pow() whose libm may differ per engine);
  // weight × ns_per_op and both sums stay in DECIMAL (order-
  // insensitive), and only the final division runs in double.
  //
  // Scale shape: the lag join is an equi-join on (pkg,test) with a
  // bounded rn-range predicate — one shuffle on the series key, K
  // candidate rows per output row regardless of history length, no
  // global sort. (A ROWS window can't express distance-dependent
  // weights, hence the self-join form.)
  private val EwmaK = 10

  /** w_j = 0.7^j, j = 0..K-1, as exact decimal strings. */
  private def ewmaWeights: Seq[(Int, java.math.BigDecimal)] =
    (0 until EwmaK).scanLeft(
        (0, new java.math.BigDecimal("1"))) { case ((_, w), j) =>
      (j + 1, w.multiply(new java.math.BigDecimal("0.7")))
    }.take(EwmaK)

  def ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaOn(spark, fact(spark))

  /** Core of [[ewma]] over an arbitrary fact-shaped frame
    * (pkg, test, date, ns_per_op) — separated so PropertySpec can run
    * it against an independent per-series reference on random series. */
  private[graft] def ewmaOn(spark: SparkSession, fIn: DataFrame): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pkg"), col("test")).orderBy(col("date"))
    val f = fIn
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"))
      .withColumn("rn", row_number().over(w))
    val wt = ewmaWeights
      .map { case (j, v) => (j, v.toPlainString) }
      .toDF("j", "wtx")
      .select(col("j"), col("wtx").cast("decimal(12,11)").as("wt"))
    val cur = f.select(col("pkg"), col("test"), col("date"),
      col("ns_per_op"), col("rn"))
    val past = f.select(col("pkg").as("p2"), col("test").as("t2"),
      col("ns_per_op").as("x"), col("rn").as("rn2"))
    cur.join(past,
        col("pkg") === col("p2") && col("test") === col("t2") &&
          col("rn2") <= col("rn") && col("rn2") > col("rn") - EwmaK)
      .join(broadcast(wt), col("j") === col("rn") - col("rn2"))
      .groupBy(col("pkg"), col("test"), col("date"), col("ns_per_op"))
      .agg(count(lit(1)).cast("int").as("n_pts"),
        round((sum(col("x").cast("decimal(20,6)") * col("wt"))
            .cast("double")
          / sum(col("wt")).cast("double")), 6).as("ewma"))
      .orderBy(col("pkg"), col("test"), col("date"))
  }

  val ewmaSql: String = {
    val wtRows = ewmaWeights
      .map { case (j, v) =>
        s"($j, CAST(${v.toPlainString} AS DECIMAL(12,11)))" }
      .mkString(", ")
    s"""WITH fct AS ($ingestGoldenSql),
       |rnk AS (SELECT pkg, test, date, ns_per_op, ROW_NUMBER() OVER
       |    (PARTITION BY pkg, test ORDER BY date) AS rn FROM fct),
       |wt AS (SELECT * FROM (VALUES $wtRows) AS w(j, wt)),
       |pairs AS (
       |  SELECT a.pkg, a.test, a.date, a.ns_per_op,
       |    b.ns_per_op AS x, wt.wt
       |  FROM rnk a JOIN rnk b ON a.pkg = b.pkg AND a.test = b.test
       |    AND b.rn <= a.rn AND b.rn > a.rn - $EwmaK
       |  JOIN wt ON wt.j = a.rn - b.rn)
       |SELECT pkg, test, date, ns_per_op,
       |  CAST(COUNT(*) AS INT) AS n_pts,
       |  ROUND(CAST(SUM(CAST(x AS DECIMAL(20,6)) * wt) AS DOUBLE)
       |    / CAST(SUM(wt) AS DOUBLE), 6) AS ewma
       |FROM pairs GROUP BY pkg, test, date, ns_per_op
       |ORDER BY pkg, test, date""".stripMargin
  }

  // --------------------------------------------------------------------
  // bench_regression_flags: day-over-day regression screening — the
  // question a benchviz user actually asks of the charts ("did this
  // test get slower?"), answered engine-side: per series, the percent
  // change vs the previous measurement, flagged when ns/op rose more
  // than 5%. lag() shares the one (pkg,test) shuffle; rows without a
  // predecessor are excluded (no change to judge).
  def regressionFlags(spark: SparkSession, dir: String): DataFrame =
    regressionFlagsOn(fact(spark))

  /** Core of [[regressionFlags]] over an arbitrary fact-shaped frame
    * (pkg, test, date, ns_per_op) — separated so `bench_alerts` runs
    * the identical detector. */
  private[graft] def regressionFlagsOn(f: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pkg"), col("test")).orderBy(col("date"))
    f
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"),
        lag(col("ns_per_op"), 1).over(w).as("prev_ns"))
      .filter(col("prev_ns").isNotNull)
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"),
        col("prev_ns"),
        round((col("ns_per_op") - col("prev_ns")).cast("double")
          / col("prev_ns"), 6).as("pct_change"),
        ((col("ns_per_op") - col("prev_ns")).cast("double")
          / col("prev_ns") > 0.05).as("is_regression"))
      .orderBy(col("pkg"), col("test"), col("date"))
  }

  val regressionFlagsSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |lg AS (
       |  SELECT pkg, test, date, ns_per_op,
       |    LAG(ns_per_op, 1) OVER (PARTITION BY pkg, test ORDER BY date)
       |      AS prev_ns
       |  FROM fct)
       |SELECT pkg, test, date, ns_per_op, prev_ns,
       |  ROUND(CAST(ns_per_op - prev_ns AS DOUBLE) / prev_ns, 6) AS pct_change,
       |  CAST(ns_per_op - prev_ns AS DOUBLE) / prev_ns > 0.05 AS is_regression
       |FROM lg WHERE prev_ns IS NOT NULL
       |ORDER BY pkg, test, date""".stripMargin

  // --------------------------------------------------------------------
  // bench_anomaly_mad: robust per-series outlier screening — flag
  // points more than 3 MADs from the series median. The statistical
  // upgrade of bench_regression_flags' fixed 5% threshold: median/MAD
  // ignore the outlier being hunted (a mean/stddev gate moves with
  // it), the standard robust practice for noisy benchmark series.
  // Spark `percentile` and DuckDB `quantile_cont` share linear
  // interpolation, so the gate stays hash-exact (the q25 pattern).
  //
  // Scale shape: two partial-aggregable groupBys on (pkg,test) plus
  // joins back on the same key; the median/MAD side tables are
  // series-count-sized and broadcast under AQE. At production series
  // volume swap percentile for approx_percentile (t-digest) — same
  // plan, bounded memory (q25's documented trade).
  def anomalyMad(spark: SparkSession, dir: String): DataFrame =
    anomalyMadOn(fact(spark))

  /** Core of [[anomalyMad]] over an arbitrary fact-shaped frame (see
    * [[alertsOn]] for why the detectors need synthetic-series entry
    * points). */
  private[graft] def anomalyMadOn(f: DataFrame): DataFrame = {
    val med = f.groupBy(col("pkg"), col("test"))
      .agg(expr("percentile(ns_per_op, 0.5)").as("med"))
    val dev = f.join(med, Seq("pkg", "test"))
      .withColumn("adev", abs(col("ns_per_op") - col("med")))
    val mad = dev.groupBy(col("pkg"), col("test"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(mad, Seq("pkg", "test"))
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"),
        round(col("med"), 6).as("series_median"),
        round(col("mad"), 6).as("series_mad"),
        (col("adev") > lit(3) * col("mad")).as("is_anomaly"))
      .orderBy(col("pkg"), col("test"), col("date"))
  }

  val anomalyMadSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |md AS (SELECT pkg, test, quantile_cont(ns_per_op, 0.5) AS med
       |  FROM fct GROUP BY pkg, test),
       |dv AS (SELECT fct.*, med, ABS(ns_per_op - med) AS adev
       |  FROM fct JOIN md USING (pkg, test)),
       |mad AS (SELECT pkg, test, quantile_cont(adev, 0.5) AS mad
       |  FROM dv GROUP BY pkg, test)
       |SELECT pkg, test, date, ns_per_op,
       |  ROUND(med, 6) AS series_median,
       |  ROUND(mad, 6) AS series_mad,
       |  adev > 3 * mad AS is_anomaly
       |FROM dv JOIN mad USING (pkg, test)
       |ORDER BY pkg, test, date""".stripMargin

  // --------------------------------------------------------------------
  // bench_history_ranges: SCD2-style validity windows — each
  // measurement is valid [date, next measurement date); the open
  // current row has valid_to NULL. The warehouse pattern that turns
  // a snapshot series into an as-of-joinable dimension (q20's as-of
  // probe against exactly this shape). lead() rides the same single
  // (pkg,test) shuffle as every series op.
  def historyRanges(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pkg"), col("test")).orderBy(col("date"))
    fact(spark)
      .select(col("pkg"), col("test"), col("ns_per_op"),
        col("date").as("valid_from"),
        lead(col("date"), 1).over(w).as("valid_to"))
      .orderBy(col("pkg"), col("test"), col("valid_from"))
  }

  val historyRangesSql: String =
    s"""WITH fct AS ($ingestGoldenSql)
       |SELECT pkg, test, ns_per_op, date AS valid_from,
       |  LEAD(date, 1) OVER (PARTITION BY pkg, test ORDER BY date)
       |    AS valid_to
       |FROM fct ORDER BY pkg, test, valid_from""".stripMargin

  // --------------------------------------------------------------------
  // bench_asof_lookup: probe the SCD2 validity windows — for every
  // (series, spine date), the measurement valid AT that date (latest
  // measurement at or before it; NULL before a series' first point).
  // This closes the loop bench_history_ranges opens: the ranges query
  // BUILDS the as-of-joinable dimension, this one PROBES it, the
  // lookup a dashboard does to render "value as of day X" for every
  // cell. Same plan shape as q20's as-of join: probes and measurements
  // interleave in ONE (pkg,test) window pass — last(ignoreNulls) over
  // rows-unbounded-preceding — instead of a per-probe subquery or a
  // range join. One shuffle on the series key; the probe table is
  // |catalog| × |spine| (bounded: series catalog × days), never
  // data-sized. kind 'f' sorts before 'p' at equal dates, so a
  // same-day measurement is visible to its probe (valid_from is
  // inclusive), matching ASOF's ts-equality convention.
  def asofLookup(spark: SparkSession, dir: String): DataFrame = {
    val f = fact(spark)
    val spine = f.agg(min(col("date")).as("d0"), max(col("date")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("date"))
    val probes = f.select(col("pkg"), col("test")).distinct()
      .crossJoin(broadcast(spine))
      .select(col("pkg"), col("test"), col("date"), lit("p").as("kind"),
        lit(null).cast("long").as("ns_per_op"))
    val meas = f.select(col("pkg"), col("test"), col("date"),
      lit("f").as("kind"), col("ns_per_op"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pkg"), col("test"))
      .orderBy(col("date").asc, col("kind").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    meas.unionByName(probes)
      .withColumn("asof_ns", last(col("ns_per_op"), ignoreNulls = true).over(w))
      .filter(col("kind") === "p")
      .select(col("pkg"), col("test"), col("date").as("probe_date"),
        col("asof_ns").as("ns_per_op"))
      .orderBy(col("pkg"), col("test"), col("probe_date"))
  }

  val asofLookupSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |b AS (SELECT MIN(date) AS d0, MAX(date) AS d1 FROM fct),
       |spine AS (
       |  SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
       |    AS probe_date FROM b),
       |probes AS (
       |  SELECT pkg, test, probe_date
       |  FROM (SELECT DISTINCT pkg, test FROM fct) CROSS JOIN spine)
       |SELECT p.pkg, p.test, p.probe_date, f.ns_per_op
       |FROM probes p
       |ASOF LEFT JOIN fct f
       |  ON p.pkg = f.pkg AND p.test = f.test AND p.probe_date >= f.date
       |ORDER BY p.pkg, p.test, p.probe_date""".stripMargin

  // --------------------------------------------------------------------
  // bench_pctile_band: percentile band overlay — per series, the
  // [p05, p95] envelope of its history and a flag on every point that
  // escapes it. The shaded-band chart layer benchviz-style dashboards
  // draw behind a noisy ns/op line, computed engine-side so the
  // frontend gets band edges as data. Complements bench_anomaly_mad:
  // MAD flags distance from center, the band flags tail membership —
  // a sustained plateau shift trips the band before it moves 3 MADs.
  // Spark `percentile` and DuckDB `quantile_cont` share linear
  // interpolation (the anomaly_mad/q25 pattern), so the gate stays
  // hash-exact.
  //
  // Scale shape: one partial-aggregable groupBy on (pkg,test) to a
  // series-count-sized band table, broadcast-joined back — the same
  // two-phase shape as anomaly_mad; at production series volume swap
  // percentile for approx_percentile (t-digest), same plan.
  def pctileBand(spark: SparkSession, dir: String): DataFrame = {
    val f = fact(spark)
    val band = f.groupBy(col("pkg"), col("test"))
      .agg(expr("percentile(ns_per_op, 0.05)").as("p05"),
        expr("percentile(ns_per_op, 0.95)").as("p95"))
    f.join(broadcast(band), Seq("pkg", "test"))
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"),
        round(col("p05"), 6).as("band_lo"),
        round(col("p95"), 6).as("band_hi"),
        (col("ns_per_op") < col("p05") || col("ns_per_op") > col("p95"))
          .as("is_outside"))
      .orderBy(col("pkg"), col("test"), col("date"))
  }

  val pctileBandSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |bd AS (SELECT pkg, test,
       |    quantile_cont(ns_per_op, 0.05) AS p05,
       |    quantile_cont(ns_per_op, 0.95) AS p95
       |  FROM fct GROUP BY pkg, test)
       |SELECT pkg, test, date, ns_per_op,
       |  ROUND(p05, 6) AS band_lo,
       |  ROUND(p95, 6) AS band_hi,
       |  ns_per_op < p05 OR ns_per_op > p95 AS is_outside
       |FROM fct JOIN bd USING (pkg, test)
       |ORDER BY pkg, test, date""".stripMargin

  // --------------------------------------------------------------------
  // bench_changepoint: CUSUM level-shift detection per series — the
  // question behind every benchviz chart ("did this benchmark step to a
  // new level, and when?") answered engine-side. Classic cumulative-sum
  // test (Page 1954 / Taylor's CUSUM changepoint form): S_i = prefix
  // sum of deviations from the series mean; a sustained level shift
  // makes |S| build to a peak AT the shift point, while noise keeps S
  // near zero. We emit the argmax-|S| date as the changepoint estimate
  // and S's range normalized by n·(max−min) as a unitless confidence
  // score (a clean half-way step scores exactly 0.25 — n·δ·f(1−f) over
  // n·δ at f=1/2; i.i.d. noise decays as 1/√n), flagged at 0.15.
  //
  // Cross-engine exactness: the textbook S_i = Σ(x_j − x̄) drags an
  // IEEE division (the mean) through an order-sensitive running sum.
  // Scaled by n it is integer-exact: S'_i = n·prefix_i − i·total, all
  // BIGINT, so Spark's sequential window sum and DuckDB's segment-tree
  // window agg agree bit-for-bit; the single division happens once at
  // the end, on integer-exact operands. Tie-break: max(struct(|S|,
  // date)) picks the latest date among equal peaks (oracle mirrors
  // with ORDER BY |S| DESC, date DESC).
  //
  // Scale shape: the prefix sum and row_number ride the ONE (pkg,test)
  // shuffle every series op shares; per-series stats are a
  // partial-aggregable groupBy broadcast back; output is one row per
  // series. A 1-point (or constant) series has x_range 0 → score 0 by
  // the vacuous-value convention (ddLshRecall's), never 0/0.
  def changepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOn(fact(spark))

  /** Core of [[changepoint]] over an arbitrary (pkg, test, date,
    * ns_per_op) frame — separated so the CUSUM semantics (argmax
    * location, flag threshold, constant-series convention) are
    * unit-testable on synthetic step/constant series independent of
    * the fixture (SeriesOpsSpec). */
  private[graft] def changepointOn(f: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pkg"), col("test")).orderBy(col("date"))
    val stats = f.groupBy(col("pkg"), col("test"))
      .agg(count(lit(1)).as("n"), sum(col("ns_per_op")).as("total"),
        (max(col("ns_per_op")) - min(col("ns_per_op"))).as("x_range"))
    val cu = f.select(col("pkg"), col("test"), col("date"), col("ns_per_op"))
      .withColumn("pre", sum(col("ns_per_op")).over(w))
      .withColumn("i", row_number().over(w))
      .join(broadcast(stats), Seq("pkg", "test"))
      .withColumn("cusum", col("n") * col("pre") - col("i") * col("total"))
    cu.groupBy(col("pkg"), col("test"))
      .agg(max(col("n")).as("n_points"),
        max(struct(abs(col("cusum")).as("a"), col("date").as("d"))).as("am"),
        (max(col("cusum")) - min(col("cusum"))).as("s_range"),
        // s_range is n× the textbook CUSUM range, so the normalizer
        // n·(max−min) carries an extra factor of n: n²·x_range
        max(col("n") * col("n") * col("x_range")).as("denom"))
      .select(col("pkg"), col("test"), col("n_points"),
        col("am.d").as("cp_date"),
        when(col("denom") === 0, lit(0.0))
          .otherwise(round(col("s_range") / col("denom"), 6))
          .as("shift_score"))
      .withColumn("is_shift", col("shift_score") > 0.15)
      .orderBy(col("pkg"), col("test"))
  }

  val changepointSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |st AS (SELECT pkg, test, COUNT(*) AS n, SUM(ns_per_op) AS total,
       |    MAX(ns_per_op) - MIN(ns_per_op) AS x_range
       |  FROM fct GROUP BY pkg, test),
       |cu AS (SELECT f.pkg, f.test, f.date,
       |    st.n * SUM(f.ns_per_op) OVER (PARTITION BY f.pkg, f.test
       |      ORDER BY f.date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - ROW_NUMBER() OVER (PARTITION BY f.pkg, f.test ORDER BY f.date)
       |        * st.total AS cusum,
       |    st.n, st.x_range
       |  FROM fct f JOIN st USING (pkg, test)),
       |ag AS (SELECT pkg, test, MAX(n) AS n_points,
       |    MAX(cusum) - MIN(cusum) AS s_range, MAX(n * n * x_range) AS denom
       |  FROM cu GROUP BY pkg, test),
       |cp AS (SELECT pkg, test, date AS cp_date, ROW_NUMBER() OVER (
       |    PARTITION BY pkg, test ORDER BY ABS(cusum) DESC, date DESC) AS rn
       |  FROM cu)
       |SELECT pkg, test, n_points, cp_date, shift_score,
       |  shift_score > 0.15 AS is_shift
       |FROM (SELECT a.pkg, a.test, a.n_points, c.cp_date,
       |    CASE WHEN a.denom = 0 THEN 0.0
       |      ELSE ROUND(CAST(a.s_range AS DOUBLE) / a.denom, 6) END
       |      AS shift_score
       |  FROM ag a JOIN cp c ON a.pkg = c.pkg AND a.test = c.test
       |    AND c.rn = 1)
       |ORDER BY pkg, test""".stripMargin

  // --------------------------------------------------------------------
  // bench_series_norm: per-series min-max normalization of ns/op to
  // [0,1] — the rescaling a comparison chart applies before overlaying
  // series whose absolute levels differ by orders of magnitude (the
  // compare view plots a 1.3M-ns/op series against a 200-ns/op one;
  // normalized, their SHAPES are comparable). A constant series has no
  // shape: x_range 0 → norm 0.0 by the vacuous-value convention, never
  // 0/0.
  //
  // Scale shape: per-series min/max is one partial-aggregable groupBy
  // broadcast back; the subtraction stays integer-exact and only the
  // final division is IEEE (identical operands both engines, rounded
  // to 6).
  def seriesNorm(spark: SparkSession, dir: String): DataFrame = {
    val f = fact(spark)
    val mm = f.groupBy(col("pkg"), col("test"))
      .agg(min(col("ns_per_op")).as("mn"), max(col("ns_per_op")).as("mx"))
    f.join(broadcast(mm), Seq("pkg", "test"))
      .select(col("pkg"), col("test"), col("date"), col("ns_per_op"),
        when(col("mx") === col("mn"), lit(0.0))
          .otherwise(round((col("ns_per_op") - col("mn")).cast("double")
            / (col("mx") - col("mn")), 6)).as("norm"))
      .orderBy(col("pkg"), col("test"), col("date"))
  }

  val seriesNormSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |mm AS (SELECT pkg, test, MIN(ns_per_op) AS mn, MAX(ns_per_op) AS mx
       |  FROM fct GROUP BY pkg, test)
       |SELECT pkg, test, date, ns_per_op,
       |  CASE WHEN mx = mn THEN 0.0
       |    ELSE ROUND(CAST(ns_per_op - mn AS DOUBLE) / (mx - mn), 6) END
       |    AS norm
       |FROM fct JOIN mm USING (pkg, test)
       |ORDER BY pkg, test, date""".stripMargin

  // --------------------------------------------------------------------
  // bench_gap_audit: series completeness — per (pkg,test), which of
  // the corpus's observed dates the series is MISSING. The frontend
  // renders missing cells as nulls (generate_benchmark_plot.js:129-139)
  // but never reports them; a CI operator wants the inverse view ("this
  // benchmark stopped reporting after March 15") as a table. Gap = the
  // (series × distinct-dates) grid anti-joined against the fact.
  //
  // Scale shape: the date spine is calendar-bounded and broadcast; the
  // grid is |series|·|dates| rows of KEYS only (no payload), and the
  // anti-join shuffles on the same (pkg,test,date) key the fact is
  // already keyed by. missing_dates is a comma-joined string, bounded
  // by the spine length — never an unbounded collect.
  def gapAudit(spark: SparkSession, dir: String): DataFrame = {
    val f = fact(spark)
    val dates = f.select(col("date")).distinct()
    val series = f.select(col("pkg"), col("test")).distinct()
    val grid = series.crossJoin(broadcast(dates))
    val missing = grid
      .join(f.select(col("pkg"), col("test"), col("date")),
        Seq("pkg", "test", "date"), "left_anti")
      .groupBy(col("pkg"), col("test"))
      .agg(count(lit(1)).as("n_missing"),
        concat_ws(",", sort_array(collect_list(col("date").cast("string"))))
          .as("missing_dates"))
    f.groupBy(col("pkg"), col("test"))
      .agg(count(lit(1)).as("n_present"))
      .join(missing, Seq("pkg", "test"), "left")
      .select(col("pkg"), col("test"), col("n_present"),
        coalesce(col("n_missing"), lit(0L)).as("n_missing"),
        coalesce(col("missing_dates"), lit("")).as("missing_dates"))
      .orderBy(col("pkg"), col("test"))
  }

  val gapAuditSql: String =
    s"""WITH fct AS ($ingestGoldenSql),
       |d AS (SELECT DISTINCT date FROM fct),
       |s AS (SELECT DISTINCT pkg, test FROM fct),
       |grid AS (SELECT s.pkg, s.test, d.date FROM s CROSS JOIN d),
       |miss AS (SELECT g.pkg, g.test, g.date FROM grid g
       |  LEFT JOIN fct f
       |    ON f.pkg = g.pkg AND f.test = g.test AND f.date = g.date
       |  WHERE f.pkg IS NULL),
       |ma AS (SELECT pkg, test, COUNT(*) AS n_missing,
       |    string_agg(CAST(date AS VARCHAR), ',' ORDER BY date)
       |      AS missing_dates
       |  FROM miss GROUP BY pkg, test),
       |p AS (SELECT pkg, test, COUNT(*) AS n_present
       |  FROM fct GROUP BY pkg, test)
       |SELECT p.pkg, p.test, p.n_present,
       |  COALESCE(ma.n_missing, 0) AS n_missing,
       |  COALESCE(ma.missing_dates, '') AS missing_dates
       |FROM p LEFT JOIN ma ON p.pkg = ma.pkg AND p.test = ma.test
       |ORDER BY p.pkg, p.test""".stripMargin

  // --------------------------------------------------------------------
  // bench_alerts: the unified alert digest — every flagged row from
  // the three series detectors (day-over-day regression, MAD anomaly,
  // CUSUM level shift) in one feed with a comparable relative score:
  // pct_change for regressions, |x − median| / median for anomalies
  // (from the ROUNDED median both engines share), shift_score for
  // changepoints. This is the operational output a benchmark monitor
  // actually pages on; the per-detector queries stay the drill-down.
  //
  // Scale shape: pure union of the three already-scale-shaped plans
  // (series-keyed windows and partial-aggregable groupBys over the
  // session-cached fact); the digest adds no new shuffle of its own.
  def alerts(spark: SparkSession, dir: String): DataFrame =
    alertsOn(fact(spark))

  /** Core of [[alerts]] over an arbitrary fact-shaped frame —
    * separated so the digest can be exercised on synthetic series
    * that trip ALL THREE detectors (the shared fixture has no MAD
    * anomaly, so the anomaly leg would otherwise be value-dead in
    * every test; SeriesOpsSpec feeds it a spiked series). */
  private[graft] def alertsOn(f: DataFrame): DataFrame = {
    val reg = regressionFlagsOn(f).filter(col("is_regression"))
      .select(lit("regression").as("alert_type"), col("pkg"), col("test"),
        col("date"), col("pct_change").as("score"))
    val anom = anomalyMadOn(f).filter(col("is_anomaly"))
      .select(lit("anomaly").as("alert_type"), col("pkg"), col("test"),
        col("date"),
        when(col("series_median") === 0, lit(0.0))
          .otherwise(round(abs(col("ns_per_op") - col("series_median"))
            / col("series_median"), 6)).as("score"))
    val cp = changepointOn(f).filter(col("is_shift"))
      .select(lit("changepoint").as("alert_type"), col("pkg"), col("test"),
        col("cp_date").as("date"), col("shift_score").as("score"))
    reg.union(anom).union(cp)
      .orderBy(col("alert_type"), col("pkg"), col("test"), col("date"))
  }

  val alertsSql: String =
    s"""SELECT * FROM (
       |SELECT 'regression' AS alert_type, pkg, test, date,
       |  pct_change AS score
       |FROM ($regressionFlagsSql) WHERE is_regression
       |UNION ALL
       |SELECT 'anomaly', pkg, test, date,
       |  CASE WHEN series_median = 0 THEN 0.0
       |    ELSE ROUND(ABS(ns_per_op - series_median) / series_median, 6)
       |    END
       |FROM ($anomalyMadSql) WHERE is_anomaly
       |UNION ALL
       |SELECT 'changepoint', pkg, test, cp_date, shift_score
       |FROM ($changepointSql) WHERE is_shift)
       |ORDER BY alert_type, pkg, test, date""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "bench_ingest_golden" -> (ingestGolden _, ingestGoldenSql),
    "bench_series_sorted" -> (seriesSorted _, seriesSortedSql),
    "bench_catalog" -> (catalogQ _, catalogSql),
    "bench_catalog_flat" -> (flattenQ _, flattenSql),
    "bench_distinct_dates" -> (distinctDatesQ _, distinctDatesSql),
    "bench_unpivot_metrics" -> (unpivotQ _, unpivotSql),
    "bench_align_fullouter" -> (alignQ _, alignSql),
    "bench_pivot_wide" -> (pivotWideQ _, pivotWideSql),
    "bench_series_ratio" -> (seriesRatioQ _, seriesRatioSql),
    "bench_priority_order" -> (priorityQ _, prioritySql),
    "bench_priority_phantoms" -> (priorityPhantomsQ _, priorityPhantomsSql),
    "bench_date_spine" -> (dateSpine _, dateSpineSql),
    "bench_moving_avg" -> (movingAvg _, movingAvgSql),
    "bench_ewma" -> (ewma _, ewmaSql),
    "bench_regression_flags" -> (regressionFlags _, regressionFlagsSql),
    "bench_anomaly_mad" -> (anomalyMad _, anomalyMadSql),
    "bench_history_ranges" -> (historyRanges _, historyRangesSql),
    "bench_asof_lookup" -> (asofLookup _, asofLookupSql),
    "bench_pctile_band" -> (pctileBand _, pctileBandSql),
    "bench_changepoint" -> (changepoint _, changepointSql),
    "bench_series_norm" -> (seriesNorm _, seriesNormSql),
    "bench_gap_audit" -> (gapAudit _, gapAuditSql),
    "bench_alerts" -> (alerts _, alertsSql),
    "bench_sink_roundtrip" -> (sinkRoundtrip _, sinkRoundtripSql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
