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
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.RelationalQueries.registry ++
      operators.BenchQueries.registry ++
      operators.FunctionQueries.registry ++
      llm.TextAnalysis.registry ++
      llm.Dedup.registry ++
      llm.Sampling.registry ++
      llm.Similarity.registry ++
      llm.Multimodal.registry ++
      llm.Pipeline.registry ++
      llm.Graph.registry ++
      llm.Models.registry ++
      streaming.WindowQueries.registry
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.RelationalQueries.oracles ++
      operators.BenchQueries.oracles ++
      operators.FunctionQueries.oracles ++
      llm.TextAnalysis.oracles ++
      llm.Dedup.oracles ++
      llm.Sampling.oracles ++
      llm.Similarity.oracles ++
      llm.Multimodal.oracles ++
      llm.Pipeline.oracles ++
      llm.Graph.oracles ++
      llm.Models.oracles ++
      streaming.WindowQueries.oracles
}
