package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-series operators over the bench fact table — the reference's
  * frontend computations (the www JS layer) as Catalyst plans
  * (SURVEY.md §2.4–2.6).
  */
object SeriesOps {

  /** O1/P4 (common.js:42-53, generate_benchmark_plot.js:26-47): one
    * test's date-sorted series. The custom DD-MM-YYYY comparator is
    * unnecessary once date is typed — native DateType ordering.
    */
  def sortedSeries(fact: DataFrame, pkg: String, test: String): DataFrame =
    fact.filter(col("pkg") === pkg && col("test") === test)
      .select(col("date"), col("ns_per_op"), col("allocs_per_op"),
        col("bytes_per_op"), col("mb_per_s"))
      .orderBy(col("date"))

  /** A3/S6 (file_generator.go:194-208): the catalog — per pkg, the
    * sorted distinct test list, in pkg order. `array_sort(collect_set)`
    * dedups and keeps the output deterministic (the reference sorts
    * client-side, list.js:22).
    */
  def catalog(fact: DataFrame): DataFrame =
    fact.groupBy(col("pkg"))
      .agg(array_sort(collect_set(col("test"))).as("tests"))
      .orderBy(col("pkg"))

  /** A4 (file_generator.go:210-224, dead code in the reference but part
    * of its declared surface): global distinct dates.
    */
  def distinctDates(fact: DataFrame): DataFrame =
    fact.select(col("date")).distinct().orderBy(col("date"))

  /** J2 (generate_benchmark_plot.js:56-92): per-metric unpivot — one
    * (metric, value) row per metric per observation, the long form
    * behind the reference's 4 single-metric charts.
    */
  def unpivotMetrics(fact: DataFrame): DataFrame =
    fact.select(col("pkg"), col("test"), col("date"),
      expr("""stack(4,
        'ns_per_op', CAST(ns_per_op AS DOUBLE),
        'allocs_per_op', CAST(allocs_per_op AS DOUBLE),
        'bytes_per_op', CAST(bytes_per_op AS DOUBLE),
        'mb_per_s', mb_per_s) AS (metric, val)"""))

  /** J1 (generate_benchmark_plot.js:127-164): multi-series date
    * alignment = full outer join on date. The reference's
    * one-row-per-date invariant (:141-143) holds by construction;
    * its explicit nulls for missing cells are Spark's join nulls.
    */
  def alignSeries(fact: DataFrame, pkg: String, testA: String,
                  testB: String, metric: String = "ns_per_op"): DataFrame = {
    def side(test: String, as: String) =
      fact.filter(col("pkg") === pkg && col("test") === test)
        .select(col("date"), col(metric).as(as))
    side(testA, "a_" + metric)
      .join(side(testB, "b_" + metric), Seq("date"), "full_outer")
      .orderBy(col("date"))
  }

  /** J1 N-way / frontend wide-table model (§1.4): one row per date, one
    * column per test, cells = the chosen metric, missing = null.
    * Pivot values are passed explicitly so the plan is static (no
    * distinct-collect job — required at scale).
    */
  def pivotWide(fact: DataFrame, pkg: String, tests: Seq[String],
                metric: String = "ns_per_op"): DataFrame =
    fact.filter(col("pkg") === pkg && col("test").isin(tests: _*))
      .groupBy(col("date"))
      .pivot("test", tests)
      .agg(first(col(metric)))
      .orderBy(col("date"))

  /** O3/O4 (generate_benchmark_list.js:23-48): priority ordering — the
    * reference unshifts 32 synthetic names (even absent ones) to the
    * front of the sql test list; the engine's defined semantics rank
    * *present* rows by a priority lookup, then alphabetically
    * (SURVEY §7.5 risk 5). Implemented as a broadcast join against the
    * literal priority table.
    */
  def priorityOrder(catalogDf: DataFrame, priorities: Seq[String]): DataFrame = {
    val spark = catalogDf.sparkSession
    import spark.implicits._
    val prio = priorities.zipWithIndex.toDF("p_test", "priority")
    catalogDf
      .select(col("pkg"), explode(col("tests")).as("test"))
      .join(broadcast(prio), col("test") === col("p_test"), "left")
      .select(col("pkg"), col("test"),
        coalesce(col("priority"), lit(Int.MaxValue)).as("prio"))
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("pkg")).orderBy(col("prio"), col("test"))))
      .select(col("pkg"), col("test"), col("rank"))
      .orderBy(col("pkg"), col("rank"))
  }

  /** O3, reference-faithful variant (generate_benchmark_list.js:22-25,
    * :29-38): the frontend sorts the pkg's test list lexically, then —
    * for the "sql" directory only — unshifts all 32 synthetic priority
    * names WHETHER OR NOT they exist in the data. This reproduces that
    * exactly: phantom rows rank 1..32 for pkg=sql, real tests follow in
    * lexical order (offset 32 for sql, 0 elsewhere); a real test that
    * matched a priority name would appear twice, like the frontend's
    * dropdown. The present-rows-only semantics stay available as
    * [[priorityOrder]].
    */
  def priorityWithPhantoms(catalogDf: DataFrame): DataFrame = {
    val spark = catalogDf.sparkSession
    import spark.implicits._
    val phantoms = ReferencePriorities.zipWithIndex.toDF("test", "idx")
      .select(lit("sql").as("pkg"), col("test"), col("idx"))
    val real = catalogDf
      .select(col("pkg"), posexplode(col("tests")).as(Seq("pos", "test")))
      .select(col("pkg"), col("test"),
        (col("pos") + when(col("pkg") === "sql", lit(32)).otherwise(lit(0)))
          .as("idx"))
    phantoms.union(real)
      .select(col("pkg"), col("test"), (col("idx") + 1).as("rank"))
      .orderBy(col("pkg"), col("rank"))
  }

  /** The reference's 32-name priority list, generate_benchmark_list.js:29-38:
    * 4 ops × 2 suffixes × counts 1,10,100,1000, generated inner-to-outer
    * then unshifted — final order is the reverse of generation order.
    */
  val ReferencePriorities: Seq[String] = {
    val gen = for {
      op <- Seq("Scan", "Delete", "Update", "Insert")
      suffix <- Seq("_Cockroach-16", "Multinode_Cockroach-16")
      count <- Seq(1, 10, 100, 1000)
    } yield s"Benchmark${op}$count$suffix"
    gen.reverse
  }
}
