package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{GlobFilter, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest of raw Go-benchmark stdout trees into the flat fact table
  * `bench_fact(pkg, test, date, ns_per_op, allocs_per_op, bytes_per_op,
  * mb_per_s)` (FIXTURES.md §1).
  *
  * Reference semantics re-expressed declaratively (cites into
  * /root/reference/filegenerator/file_generator.go):
  *  - S2/S3: date-dir scan + `*test.stdout` glob (:131-157) → one
  *    driver-side walk of the tree + partition keys recovered from the
  *    file path; invalid date dirs and unknown pkgs are pruned by
  *    filters on those derived columns.
  *  - P1: benchmark-line predicate (:72-77) — prefix `Benchmark` and no
  *    `FAIL` substring.
  *  - P3: 4 regex metric extracts with **zero (not null) defaults**
  *    (:79-105); the test name keeps its `-GOMAXPROCS` suffix. The
  *    reference's MB/s regex `[0-9]+\.?[0-9]+` needs ≥2 digit chars —
  *    replicated verbatim (SURVEY §2.3 documents the quirk).
  *  - A1: duplicate (pkg,test,date) keys resolve last-write-wins by
  *    `ReadDir` order (:153, :167). Distributed scans have no "last",
  *    so the engine defines the deterministic equivalent: max file
  *    path, then max line number within the file (window row_number).
  *  - P2 divergence (documented): the reference's date regex is
  *    unanchored (:107-111) so `x01-01-2015y` would pass and then be
  *    used as an unparseable date string; the engine anchors the match
  *    and types the date (`to_date`, SURVEY §7.5 risk 3).
  *
  * Scale notes: the tree is many KB-sized files (the reference syncs
  * it to local disk and walks it on one thread, :121-152), so the
  * batch read is a file list, not a file-source scan. The driver walks
  * the tree with `listStatus` — no listing job, which Spark's file
  * index launches above 32 subdirs — and executors read whole files in
  * `defaultParallelism` slices of that list, numbering lines for the
  * A1 tie-break. The list lives on the driver and rides in the tasks,
  * about 100 bytes per file. The dedup window shuffles once on
  * (pkg,test,date), which is also the natural output partitioning for
  * every downstream series query.
  */
object BenchIngest {

  val DefaultPackages: Seq[String] = Seq(
    // main.go:23-25 — the reference's closed 12-package list.
    "sql", "sql/parser", "kv", "roachpb", "storage", "storage/engine",
    "util/cache", "util/caller", "util/decimal", "util/encoding",
    "util/interval", "util/log")

  /** Raw (file, line_no, line) rows for every `*test.stdout` file
    * under `root`. The driver lists the tree ([[listStdout]]); executors
    * read each file whole through the Hadoop FileSystem and number its
    * lines from 0, split on `\n` keeping trailing empty strings — the
    * rows `posexplode(split(value, "\n"))` makes of a `wholetext` scan.
    */
  def rawLines(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val sc = spark.sparkContext
    sc.parallelize(listStdout(root, conf.value), sc.defaultParallelism)
      .mapPartitions { files =>
        val fs = HadoopFs.forPath(new Path(root), conf.value)
        files.flatMap { f =>
          val in = fs.open(f)
          val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          val file = f.toString
          text.split("\n", -1).iterator.zipWithIndex
            .map { case (line, i) => (file, i, line) }
        }
      }
      .toDF("file", "line_no", "line")
  }

  /** Every `*test.stdout` file under `root`, sorted, by a recursive
    * `listStatus` walk on the driver. Like Spark's file source it skips
    * names that start with `_` or `.` and empty files (a `wholetext`
    * scan makes no row of them); like `pathGlobFilter` the glob matches
    * file names only. A missing root throws
    * FileNotFoundException. (`listFiles(root, true)` is no substitute:
    * its LocatedFileStatus reads permissions, which on the local FS
    * forks a shell per file.)
    */
  private def listStdout(root: String, conf: Configuration): Seq[Path] = {
    val rootPath = new Path(root)
    val fs = HadoopFs.forPath(rootPath, conf)
    val glob = new GlobFilter("*test.stdout")
    def walk(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq
        .filterNot { s => val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
        .flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getLen > 0 && glob.accept(s.getPath)) Seq(s.getPath)
          else Nil
        }
    walk(rootPath).sortBy(_.toString)
  }

  /** Scan→derive→filter→extract stages (S2-S4, P1, P3), shared by the
    * batch and streaming ingest paths. Input: (file, line_no, line). */
  private def parse(df: DataFrame, packages: Seq[String]): DataFrame = {
    def c(n: String) = col(n)
    def metric(pattern: String) =
      coalesce(nullif(regexp_extract(c("line"), pattern, 1), lit("")), lit("0"))
    df
      .withColumn("date_str",
        regexp_extract(c("file"), "/([0-9]{2}-[0-9]{2}-[0-9]{4})/cockroach/", 1))
      .withColumn("pkg",
        regexp_extract(c("file"), "/cockroach/(.+)/[^/]*$", 1))
      .filter(c("date_str") =!= "" && c("pkg").isin(packages: _*))
      // P1: file_generator.go:72-77
      .filter(c("line").startsWith("Benchmark") && !c("line").contains("FAIL"))
      .select(
        c("pkg"),
        trim(element_at(split(c("line"), "\t"), 1)).as("test"),
        to_date(c("date_str"), "dd-MM-yyyy").as("date"),
        // P3: file_generator.go:88-104 (zero-defaults :85-86)
        metric("([0-9]+) ns/op").cast("long").as("ns_per_op"),
        metric("([0-9]+) allocs/op").cast("long").as("allocs_per_op"),
        metric("([0-9]+) B/op").cast("long").as("bytes_per_op"),
        metric("([0-9]+\\.?[0-9]+) MB/s").cast("double").as("mb_per_s"),
        c("file"), c("line_no"))
  }

  /** Full ingest: scan → derive (date, pkg) → P1 filter → P3 extract →
    * A1 last-write-wins dedup.
    */
  def ingest(spark: SparkSession, root: String,
             packages: Seq[String] = DefaultPackages): DataFrame = {
    import spark.implicits._
    // A1 dedup: last (file, line) wins per (pkg,test,date).
    val w = Window.partitionBy($"pkg", $"test", $"date")
      .orderBy($"file".desc, $"line_no".desc)
    parse(rawLines(spark, root), packages)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .drop("rn", "file", "line_no")
  }

  /** Incremental ingest — the Spark-first replacement for the
    * reference's `aws s3 sync` + daily re-run loop
    * (file_generator.go:121-127): a Structured Streaming file source
    * discovers new `*test.stdout` files exactly-once and appends their
    * parsed rows. A1's last-write-wins applies at read time (new date
    * dirs are new (pkg,test,date) keys, so append ≡ upsert for the
    * reference's daily-snapshot layout). Drive with
    * Trigger.AvailableNow for the idempotent catch-up run.
    */
  def streamingIngest(spark: SparkSession, root: String,
                      packages: Seq[String] = DefaultPackages,
                      maxFilesPerTrigger: Int = 10000): DataFrame = {
    import spark.implicits._
    val raw = spark.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*test.stdout")
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .text(root)
      .select(input_file_name().as("file"), $"value")
      .select($"file", posexplode(split($"value", "\n")).as(Seq("line_no", "line")))
    // (file, line_no) ride along so a sink can resolve duplicate
    // (pkg,test,date) keys arriving in the SAME micro-batch with the
    // same (file desc, line desc) tie-break batch ingest's A1 window
    // uses — upsertWrite does exactly that, then drops both columns.
    // Across batches last-write-wins is the sink merge's job.
    parse(raw, packages)
  }
}
