package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's JSON sinks (SURVEY.md §2.1 S5/S6) as distributed
  * Spark writes.
  */
object BenchSinks {

  /** One (pkg, test) group's date-keyed series, the aggregate the
    * series sink writes: `{DD-MM-YYYY: {N, A, B, M}}`, dates sorted.
    * Dates render as DD-MM-YYYY strings to preserve the reference's
    * key contract (README.md:31-33). */
  private def series: Column =
    map_from_entries(array_sort(collect_list(struct(
      date_format(col("date"), "dd-MM-yyyy").as("date"),
      struct(
        col("ns_per_op").as("N"),
        col("allocs_per_op").as("A"),
        col("bytes_per_op").as("B"),
        col("mb_per_s").as("M")).as("stats")))))

  /** S5, exact reference layout (file_generator.go:177-190): ONE file
    * per test at `<out>/<pkg>/<test>.json` whose body is the date-keyed
    * stats object `{"DD-MM-YYYY":{"N":…,"A":…,"B":…,"M":…}, …}` with
    * lexically sorted date keys — matching Go's json.Marshal, which
    * sorts map keys, so a frontend pointed at this output resolves the
    * same paths and parses the same bodies (common.js:17-27,
    * generate_benchmark_plot.js:94-104). The only formatting divergence
    * is integral floats: Go renders `0`, Spark `0.0` — the same JSON
    * number.
    *
    * The write is distributed: a one-row-per-test series
    * aggregation, then executors write their
    * rows' files via the Hadoop FileSystem API (URI-agnostic: file://,
    * hdfs://, s3a:// deploy roots all work, which is the S8 publish
    * path). File count equals test count by CONTRACT — the output is a
    * dashboard's data directory, frontend-sized at any corpus scale,
    * so per-row files are the point, not a small-files accident.
    *
    * `ignoreNullFields=false` because Go's json.Marshal always emits
    * all four stat keys — a null stat must render as `"M":null`, not
    * vanish, or a frontend indexing `.M` breaks.
    *
    * Known divergence: the reference publishes with `--acl
    * public-read` (file_generator.go:245). The Hadoop FileSystem API
    * has no portable per-object ACL, so this path reproduces the data
    * movement but not the ACL bit — on S3 deployments, grant public
    * read via a bucket policy (the AWS-recommended replacement for
    * object ACLs) instead.
    */
  def writeSeriesJsonExact(fact: DataFrame, outDir: String): Unit = {
    // the session's Hadoop conf (every `spark.hadoop.*` and session
    // setting, e.g. object-store credentials), shipped to executors
    val conf = new org.apache.spark.util.SerializableConfiguration(
      fact.sparkSession.sessionState.newHadoopConf())
    fact
      .groupBy(col("pkg"), col("test"))
      .agg(to_json(series, Map("ignoreNullFields" -> "false")).as("body"))
      .select(col("pkg"), col("test"), col("body"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val root = new org.apache.hadoop.fs.Path(outDir)
        // raw local FS for file:// roots: the deploy dir must hold
        // exactly the reference's files, no .crc sidecars.
        val fs = graft.sources.HadoopFs.forPath(root, conf.value)
        rows.foreach { r =>
          val p = new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(root, r.getString(0)),
            r.getString(1) + ".json")
          val out = fs.create(p, true) // creates parent dirs
          try out.write(r.getString(2)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
      }
  }

  /** S7 (file_generator.go:229-238 CopyWWW): copy the frontend's
    * static assets into the deploy root. A driver-side file copy by
    * nature (a fixed handful of files, no data-parallelism to exploit),
    * expressed through the Hadoop FileSystem API so source and
    * destination may each be file://, hdfs://, or s3a:// — the same
    * URI-agnosticism as [[writeSeriesJsonExact]], which together with
    * it covers the reference's S8 publish step (`aws s3 sync` ≡
    * writing every sink against an s3a:// deploy root directly; no
    * staging-then-sync hop needed in an engine that writes remote URIs
    * natively).
    */
  def copyStaticAssets(spark: SparkSession, files: Seq[String], outDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val dst = new org.apache.hadoop.fs.Path(outDir)
    // raw local FS on both sides for file://: no `.crc` sidecar lands
    // in the deploy root, and no chmod fork per asset
    val dstFs = graft.sources.HadoopFs.forPath(dst, conf)
    files.foreach { f =>
      val src = new org.apache.hadoop.fs.Path(f)
      val in = graft.sources.HadoopFs.forPath(src, conf).open(src)
      val out = dstFs.create(new org.apache.hadoop.fs.Path(dst, src.getName), true)
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, conf, true /* close both */)
    }
  }

  /** S6 (file_generator.go:192-208): the `test_names.json` catalog —
    * `{pkg: [test...]}`. Single small file by contract, rows in pkg
    * order: the catalog is one row per pkg, tiny at any scale, so one
    * partition sorted in place writes it without the range-sampling
    * job and extra exchange a global `orderBy` costs.
    */
  def writeCatalogJson(fact: DataFrame, outDir: String): Unit =
    SeriesOps.catalogRows(fact)
      .coalesce(1)
      .sortWithinPartitions(col("pkg"))
      .write.mode(SaveMode.Overwrite)
      .json(outDir)
}
