package graft.operators

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
    // an explicit partition count: AQE would merge the small shuffle
    // into one reduce task that creates every file one after another
    fact
      .repartition(fact.sparkSession.sparkContext.defaultParallelism, col("pkg"), col("test"))
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
    * `{pkg: [test...]}` — as `SeriesOps.catalog(fact)`'s rows, one JSON
    * line each, in `<outDir>/part-00000.json`. The catalog is one row
    * per pkg, tiny at any scale, so one job collects each partition's
    * distinct (pkg, test) pairs, with no exchange, and the driver sorts
    * them (Spark's string order) and writes the one file through
    * [[graft.sources.HadoopFs.forPath]]. No output committer runs and
    * no `_SUCCESS` is written; an existing `outDir` is deleted first,
    * as `SaveMode.Overwrite` does. The lines are Jackson's, as Spark's
    * JSON writer makes them (a null pkg drops its key).
    */
  def writeCatalogJson(fact: DataFrame, outDir: String): Unit = {
    val spark = fact.sparkSession
    import spark.implicits._
    val pairs = fact.select(col("pkg"), col("test")).as[(String, String)]
      .mapPartitions(_.toSet.iterator).collect()
    val utf8 = Ordering.by((s: String) => UTF8String.fromString(s))
    val nullsFirst: Ordering[String] = Ordering.Option(utf8).on(Option(_))
    val json = new java.io.StringWriter
    val gen = new JsonFactory().createGenerator(json).setRootValueSeparator(null)
    pairs.groupMap(_._1)(_._2).toSeq.sortBy(_._1)(nullsFirst)
      .foreach { case (pkg, tests) =>
        gen.writeStartObject()
        if (pkg != null) gen.writeStringField("pkg", pkg)
        gen.writeArrayFieldStart("tests")
        tests.filter(_ != null).distinct.sorted(utf8).foreach(t => gen.writeString(t))
        gen.writeEndArray()
        gen.writeEndObject()
        gen.flush()
        json.write("\n")
      }
    gen.close()
    val dir = new org.apache.hadoop.fs.Path(outDir)
    val fs = graft.sources.HadoopFs.forPath(dir, spark.sessionState.newHadoopConf())
    fs.delete(dir, true)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "part-00000.json"), false)
    try out.write(json.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
