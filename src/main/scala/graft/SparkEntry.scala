package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** The local session the mains (Bench, Verify, Profile) run on:
    * `local[$SPARK_GRAFT_CPUS]` (default 32), one shuffle partition per
    * core, UTC session time zone, no UI. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.RelationalQueries.q01PricingSummary(spark, "/root/testdata/sf0.001")
  /** A registry query: (session, SF dir) => result. */
  type Query = (SparkSession, String) => DataFrame
  /** Every query module's table, each module named once, merged. A
    * table maps a query's name to its plan and to the equivalent ANSI SQL
    * that DuckDB runs on the same parquet tables, so no query lacks an oracle. */
  private lazy val table: Map[String, (Query, String)] = Seq(
    operators.RelationalQueries.queryTable,
    operators.BenchQueries.queryTable,
    operators.FunctionQueries.queryTable,
    llm.TextAnalysis.queryTable,
    llm.Dedup.queryTable,
    llm.Sampling.queryTable,
    llm.Similarity.queryTable,
    llm.Multimodal.queryTable,
    llm.Pipeline.queryTable,
    llm.Graph.queryTable,
    llm.Models.queryTable,
    streaming.WindowQueries.queryTable).flatten.toMap
  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, Query] = table.view.mapValues(_._1).toMap
  /** The queries a run keeps: those named in the comma-separated
    * `SPARK_GRAFT_ONLY` (a filter for isolating a few), or all if unset. */
  def selectedQueries: Map[String, Query] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    queries.filter { case (n, _) => only.forall(_.contains(n)) }
  }
  /** For each key in queries, the DuckDB oracle SQL. */
  lazy val oracleSql: Map[String, String] = table.view.mapValues(_._2).toMap
}
