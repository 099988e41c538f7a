package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, GlobFilter, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

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
  *    `ReadDir` order (:153, :167) inside one package dir (:144-172).
  *    The engine's deterministic equivalent: max file path (UTF-8 byte
  *    order, as Spark compares strings), then max line number within
  *    the file. Batch ingest applies it while reading a package day's
  *    files ([[ingest]]); the streaming upsert uses the window form
  *    ([[lastWriteWins]]).
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
  * `defaultParallelism` slices of that list. The list lives on the
  * driver and rides in the tasks, about 100 bytes per file. A (date,
  * pkg) dir is the whole A1 unit and its key is in the path, so
  * [[ingest]] groups the list by that key on the driver and each task
  * dedups the groups it reads: one job, no exchange. The checkpoint of
  * its result keeps no partitioning (a `LogicalRDD` under AQE reports
  * none), so each series query plans its own exchange.
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
          val file = f.toString
          lines(fs, f).iterator.zipWithIndex
            .map { case (line, i) => (file, i, line) }
        }
      }
      .toDF("file", "line_no", "line")
  }

  /** The lines of one file: read whole as UTF-8, split on `\n` keeping
    * trailing empty strings, as `split(value, "\n")` does. */
  private def lines(fs: FileSystem, f: Path): Array[String] = {
    val in = fs.open(f)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.split("\n", -1)
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

  // S2: the (date, pkg) path keys, as regexes over the full file path
  private val DateDir = "/([0-9]{2}-[0-9]{2}-[0-9]{4})/cockroach/"
  private val PkgDir = "/cockroach/(.+)/[^/]*$"

  /** Scan→derive→filter→extract stages (S2-S4, P1, P3) of the
    * streaming ingest. Input: (file, line_no, line). With [[rawLines]]
    * and [[lastWriteWins]] it is also the window form of [[ingest]]. */
  private[graft] def parse(df: DataFrame, packages: Seq[String]): DataFrame = {
    def c(n: String) = col(n)
    df
      .withColumn("date_str", regexp_extract(c("file"), DateDir, 1))
      .withColumn("pkg", regexp_extract(c("file"), PkgDir, 1))
      .filter(c("date_str") =!= "" && c("pkg").isin(packages: _*))
      // P1: file_generator.go:72-77
      .filter(c("line").startsWith("Benchmark") && !c("line").contains("FAIL"))
      .withColumn("test", trim(element_at(split(c("line"), "\t"), 1)))
      .select(factColumns :+ c("file") :+ c("line_no"): _*)
  }

  /** The fact columns of rows that carry `pkg`, `test`, `date_str` and
    * `line`: the typed date and the P3 extracts (file_generator.go:88-104,
    * zero-defaults :85-86). */
  private def factColumns: Seq[Column] = {
    def metric(pattern: String) =
      coalesce(nullif(regexp_extract(col("line"), pattern, 1), lit("")), lit("0"))
    Seq(
      col("pkg"), col("test"),
      to_date(col("date_str"), "dd-MM-yyyy").as("date"),
      metric("([0-9]+) ns/op").cast("long").as("ns_per_op"),
      metric("([0-9]+) allocs/op").cast("long").as("allocs_per_op"),
      metric("([0-9]+) B/op").cast("long").as("bytes_per_op"),
      metric("([0-9]+\\.?[0-9]+) MB/s").cast("double").as("mb_per_s"))
  }

  /** Full ingest: scan → derive (date, pkg) → P1 filter → A1
    * last-write-wins → P3 extract, run once, eagerly, into a local
    * checkpoint (file_generator.go:131-175 builds its cube once too).
    * The driver keys each listed file by the (pkg, date_str) of its
    * path and drops the files [[parse]]'s filter drops; each task then
    * reads whole package days, files in UTF-8 byte order, and keeps
    * the last P1 line per test. That is the row [[lastWriteWins]]
    * keeps, found without a shuffle. Under `spark.sql.ansi.enabled=false`
    * one difference remains: an unparseable date dir gives a null date,
    * and the window would merge the rows of two such dirs of one pkg.
    *
    * Both sinks read the returned fact, so a publish lists and reads
    * the tree once, not once per sink, and the fact no longer needs the
    * tree. The blocks live in the session's block manager until the
    * DataFrame is garbage collected; a long-lived caller frees them
    * with `Tables.freeCheckpoint` once its sinks are written.
    * (`Tables.artifact` keeps the checkpoint as it is.)
    */
  def ingest(spark: SparkSession, root: String,
             packages: Seq[String] = DefaultPackages): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val days = packageDays(listStdout(root, conf.value), packages)
    val sc = spark.sparkContext
    sc.parallelize(days, math.max(1, math.min(days.size, sc.defaultParallelism)))
      .mapPartitions { ds =>
        val fs = HadoopFs.forPath(new Path(root), conf.value)
        ds.flatMap { case (pkg, date, files) =>
          val last = scala.collection.mutable.LinkedHashMap.empty[String, String]
          for (f <- files; line <- lines(fs, f) if isBenchLine(line))
            last(testName(line)) = line
          last.iterator.map { case (test, line) => (pkg, test, date, line) }
        }
      }
      .toDF("pkg", "test", "date_str", "line")
      .select(factColumns: _*)
      .localCheckpoint()
  }

  /** The listed files grouped by their path's (pkg, date_str) key, the
    * same regexes and package filter [[parse]] applies, each group's
    * files in UTF-8 byte order of their path. */
  private def packageDays(files: Seq[Path], packages: Seq[String])
      : Seq[(String, String, Seq[Path])] = {
    def extract(regex: String) = {
      val p = java.util.regex.Pattern.compile(regex)
      (s: String) => { val m = p.matcher(s); if (m.find()) m.group(1) else "" }
    }
    val (dateOf, pkgOf) = (extract(DateDir), extract(PkgDir))
    val keep = packages.toSet
    files
      .map { f => val s = f.toString; ((pkgOf(s), dateOf(s)), f) }
      .filter { case ((pkg, date), _) => date.nonEmpty && keep(pkg) }
      .groupMap(_._1)(_._2).toSeq.sortBy(_._1)
      .map { case ((pkg, date), fs) =>
        (pkg, date, fs.sortBy(f => UTF8String.fromString(f.toString))) }
  }

  /** P1 (file_generator.go:72-77), as [[parse]] filters it. */
  private def isBenchLine(line: String): Boolean =
    line.startsWith("Benchmark") && !line.contains("FAIL")

  /** A Benchmark line's test name, as [[parse]] derives it: the text
    * before the first tab, with spaces (only `' '`, like Spark's `trim`)
    * cut from both ends. */
  private def testName(line: String): String = {
    val tab = line.indexOf('\t')
    val name = if (tab < 0) line else line.substring(0, tab)
    var (from, to) = (0, name.length)
    while (from < to && name.charAt(from) == ' ') from += 1
    while (to > from && name.charAt(to - 1) == ' ') to -= 1
    name.substring(from, to)
  }

  /** A1 dedup of parsed rows: the last (file, line_no) wins per
    * (pkg, test, date), and both tie-break columns are dropped. The
    * streaming sink's upsert applies it; [[ingest]] keeps the same rows
    * while reading. */
  def lastWriteWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("pkg"), col("test"), col("date"))
      .orderBy(col("file").desc, col("line_no").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
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
    // same (file desc, line desc) tie-break as batch ingest's A1 —
    // upsertWrite does exactly that, then drops both columns.
    // Across batches last-write-wins is the sink merge's job.
    parse(raw, packages)
  }
}
