package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** The reference's JSON sinks (SURVEY.md §2.1 S5/S6) as partitioned
  * Spark writes.
  */
object BenchSinks {

  /** S5 (file_generator.go:177-190): per-(pkg,test) series JSON. The
    * reference writes `{date: {N,A,B,M}}` per test file; the engine
    * writes one JSON row per (pkg,test) carrying the same date-keyed
    * map, partitioned by pkg — same information layout, but a
    * distributed write (no driver-side materialization of the cube).
    * Dates render as DD-MM-YYYY strings to preserve the reference's
    * key contract (README.md:31-33).
    */
  def writeSeriesJson(fact: DataFrame, outDir: String): Unit =
    fact
      .groupBy(col("pkg"), col("test"))
      .agg(map_from_entries(array_sort(collect_list(struct(
        date_format(col("date"), "dd-MM-yyyy").as("date"),
        struct(
          col("ns_per_op").as("N"),
          col("allocs_per_op").as("A"),
          col("bytes_per_op").as("B"),
          col("mb_per_s").as("M")).as("stats"))))).as("series"))
      .write.mode(SaveMode.Overwrite)
      // keep null stats as explicit JSON nulls (Go marshals all keys)
      .option("ignoreNullFields", "false")
      .partitionBy("pkg")
      .json(outDir)

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
    * The write is distributed: the same one-row-per-test series
    * aggregation as [[writeSeriesJson]], then executors write their
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
  def writeSeriesJsonExact(fact: DataFrame, outDir: String): Unit =
    fact
      .groupBy(col("pkg"), col("test"))
      .agg(to_json(map_from_entries(array_sort(collect_list(struct(
        date_format(col("date"), "dd-MM-yyyy").as("date"),
        struct(
          col("ns_per_op").as("N"),
          col("allocs_per_op").as("A"),
          col("bytes_per_op").as("B"),
          col("mb_per_s").as("M")).as("stats"))))),
        Map("ignoreNullFields" -> "false")).as("body"))
      .select(col("pkg"), col("test"), col("body"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val root = new org.apache.hadoop.fs.Path(outDir)
        // raw local FS for file:// roots: the deploy dir must hold
        // exactly the reference's files, no .crc sidecars.
        val fs = graft.sources.HadoopFs.forPath(
          root, new org.apache.hadoop.conf.Configuration())
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
  def copyStaticAssets(files: Seq[String], outDir: String): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dst = new org.apache.hadoop.fs.Path(outDir)
    val dstFs = dst.getFileSystem(conf)
    files.foreach { f =>
      val src = new org.apache.hadoop.fs.Path(f)
      val srcFs = src.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, src, dstFs, new org.apache.hadoop.fs.Path(dst, src.getName),
        false /* keep source */, true /* overwrite */, conf)
    }
  }

  /** S6 (file_generator.go:192-208): the `test_names.json` catalog —
    * `{pkg: [test...]}`. Single small file by contract (`coalesce(1)`
    * is correct here: the catalog is distinct (pkg,test) pairs, tiny
    * at any scale).
    */
  def writeCatalogJson(fact: DataFrame, outDir: String): Unit =
    SeriesOps.catalog(fact)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .json(outDir)
}
