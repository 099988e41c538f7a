package graft

import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.sources.{BenchFixture, BenchIngest}

/** Ingest parity with the reference (ports of
  * file_generator_test.go:49-65 plus the edge cases its suite lacks,
  * SURVEY.md §5).
  */
class IngestSpec extends SparkSpec {

  lazy val fact = BenchIngest
    .ingest(spark, BenchFixture.shared, Seq("sql", "sql/parser", "util/cache"))
    .cache()

  test("golden line parses with zero-default MB/s (reference test 1)") {
    // file_generator_test.go:55-64: N=1328086, B=183965, A=2317, M=0.
    val rows = fact.filter("test = 'BenchmarkBank2_Cockroach-8' AND date = DATE '2015-01-01'")
      .select("pkg", "ns_per_op", "allocs_per_op", "bytes_per_op", "mb_per_s")
      .collect()
    assert(rows.toSeq == Seq(Row("sql", 1328086L, 2317L, 183965L, 0.0)))
  }

  test("FAIL lines and non-Benchmark lines are dropped (P1)") {
    assert(fact.filter("test LIKE 'BenchmarkFailing%'").count() == 0)
    assert(fact.filter("test = 'PASS' OR test LIKE 'goos%' OR test LIKE 'ok%'").count() == 0)
  }

  test("file glob excludes non test.stdout files (S3)") {
    assert(fact.filter("test = 'BenchmarkGhost-8'").count() == 0)
  }

  test("unknown pkg dirs and invalid date dirs are pruned (S2/P2)") {
    assert(fact.filter("test LIKE 'BenchmarkNope%'").count() == 0)
  }

  test("duplicate (pkg,test,date) resolves last-write-wins (A1)") {
    // a.test.stdout has 100, b.test.stdout has 150 then 200:
    // lexicographically-last file, then last line, must win.
    val ns = fact.filter("test = 'BenchmarkDup-8'").select("ns_per_op").collect()
    assert(ns.toSeq == Seq(Row(200L)))
  }

  test("MB/s parses when present (P3)") {
    val m = fact.filter("test = 'BenchmarkParse-4'").select("mb_per_s").collect()
    assert(m.toSeq == Seq(Row(12.34)))
  }

  test("reference MB/s regex quirk: single-digit '5 MB/s' does not match") {
    // SURVEY §2.3: the reference regex [0-9]+\.?[0-9]+ needs >=2 digit
    // chars — replicated, so a bare '5 MB/s' yields the zero default.
    val dir = Files.createTempDirectory("quirk").toString
    BenchFixture.write(dir) // base tree (unused pkg filter keeps it out)
    val p = java.nio.file.Paths.get(dir, "05-05-2015/cockroach/kv/kv.test.stdout")
    Files.createDirectories(p.getParent)
    Files.write(p, "BenchmarkQuirk-8 \t 10 \t 77 ns/op \t 5 MB/s".getBytes)
    val f = BenchIngest.ingest(spark, dir, Seq("kv"))
    val rows = f.select("test", "ns_per_op", "mb_per_s").collect()
    assert(rows.toSeq == Seq(Row("BenchmarkQuirk-8", 77L, 0.0)))
  }

  test("dates are typed and sorted natively (O1)") {
    val dates = fact.filter("test = 'BenchmarkBank2_Cockroach-8'")
      .orderBy("date").select("date").collect().map(_.getDate(0).toString)
    assert(dates.toSeq == Seq("2015-01-01", "2015-01-02", "2015-03-15"))
  }

  /** `rawLines` rows as (path below `root`, line_no, line). */
  private def rows(df: org.apache.spark.sql.DataFrame, root: String) =
    df.collect().map { r =>
      val f = r.getAs[String]("file")
      (f.substring(f.indexOf(root) + root.length), r.getAs[Int]("line_no"),
        r.getAs[String]("line"))
    }.toSeq.sorted

  /** The rows Spark's `wholetext` text source makes of the same tree. */
  private def viaTextSource(root: String) = {
    import org.apache.spark.sql.functions._
    rows(spark.read
      .option("wholetext", "true")
      .option("pathGlobFilter", "*test.stdout")
      .option("recursiveFileLookup", "true")
      .text(root)
      .select(input_file_name().as("file"),
        posexplode(split(col("value"), "\n")).as(Seq("line_no", "line"))), root)
  }

  private def writeTree(files: (String, String)*): String = {
    val root = tempDir("graft_rawlines")
    files.foreach { case (rel, body) =>
      val p = java.nio.file.Paths.get(root, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes("UTF-8"))
    }
    root
  }

  private def assertSameAsTextSource(root: String, expected: Int): Unit = {
    val got = rows(BenchIngest.rawLines(spark, root), root)
    assert(got.size == expected, got)
    assert(got == viaTextSource(root))
  }

  test("rawLines equals the wholetext text source on the fixture tree") {
    // 8 of its 9 files pass the glob (notes.txt does not)
    assertSameAsTextSource(BenchFixture.shared, 15)
  }

  test("rawLines equals the wholetext text source past 32 date dirs") {
    // Spark's file index lists with a Spark job above 32 subdirs
    val root = writeTree((1 to 40).map { d =>
      f"$d%02d-01-2015/cockroach/kv/kv.test.stdout" ->
        s"BenchmarkPut-8 \t 10 \t $d ns/op\nPASS"
    }: _*)
    assertSameAsTextSource(root, 80)
  }

  test("rawLines equals the wholetext text source on nested, hidden and odd files") {
    val root = writeTree(
      "01-01-2015/cockroach/sql/sql.test.stdout" -> "BenchmarkA-8 \t 1 \t 5 ns/op",
      "01-01-2015/cockroach/sql/parser/parser.test.stdout" -> "BenchmarkP-8 \t 1 \t 6 ns/op",
      "01-01-2015/cockroach/sql/_tmp/x.test.stdout" -> "BenchmarkTmp-8",
      "01-01-2015/cockroach/sql/.hidden/x.test.stdout" -> "BenchmarkHidden-8",
      "01-01-2015/cockroach/sql/_x.test.stdout" -> "BenchmarkTmpFile-8",
      "01-01-2015/cockroach/sql/.x.test.stdout" -> "BenchmarkHiddenFile-8",
      "_tmp/cockroach/sql/a.test.stdout" -> "BenchmarkTmpDate-8",
      ".hidden/cockroach/sql/a.test.stdout" -> "BenchmarkHiddenDate-8",
      "01-01-2015/cockroach/kv/empty.test.stdout" -> "",
      "01-01-2015/cockroach/kv/trailing.test.stdout" -> "BenchmarkT-8 \t 1 \t 7 ns/op\n")
    // sql 1 + parser 1 + trailing 2 (line, ""); the empty file makes no row
    assertSameAsTextSource(root, 4)
  }

  /** The window form of `ingest`: parse every line, then A1 by a
    * window over (file desc, line_no desc). */
  private def oracle(root: String, packages: Seq[String]) =
    BenchIngest.lastWriteWins(BenchIngest.parse(BenchIngest.rawLines(spark, root), packages))

  /** Each side's rows, or the class of its error's root cause. */
  private def outcome(df: => org.apache.spark.sql.DataFrame): Either[String, Seq[String]] =
    try Right(df.collect().map(_.toString).toSeq.sorted)
    catch { case e: Exception =>
      Left(org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e).getClass.getName) }

  private def assertSameAsOracle(root: String, packages: Seq[String], rows: Int): Unit = {
    val got = BenchIngest.ingest(spark, root, packages)
    val want = oracle(root, packages)
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (outcome(got), outcome(want))
    assert(g == w)
    assert(g.map(_.size) == Right(rows), g)
  }

  test("ingest equals its window form on the fixture tree") {
    assertSameAsOracle(BenchFixture.shared, BenchIngest.DefaultPackages, 6)
  }

  test("ingest equals its window form past 32 date dirs") {
    val root = writeTree((0 until 40).flatMap { d =>
      val day = f"${d % 28 + 1}%02d-${d / 28 + 1}%02d-2015"
      Seq(s"$day/cockroach/kv/a.test.stdout" ->
        s"BenchmarkPut-8 \t 10 \t $d ns/op\nBenchmarkGet-8 \t 1 \t 3 ns/op\nPASS",
        s"$day/cockroach/kv/b.test.stdout" ->
        s"BenchmarkPut-8 \t 10 \t ${d + 100} ns/op")
    }: _*)
    assertSameAsOracle(root, BenchIngest.DefaultPackages, 80)
  }

  /** Lines and layouts where the read-stage A1 could part from the
    * window form. */
  private lazy val edgeTree = writeTree(
    // CRLF: every line keeps its `\r`
    "01-01-2015/cockroach/sql/a.test.stdout" ->
      "BenchmarkCrlf-8 \t 1 \t 10 ns/op\r\nBenchmarkCrlf-8 \t 1 \t 11 ns/op\r\nPASS\r\n",
    // no tab: the whole line is the test name; padded and `\r`-ended names
    "01-01-2015/cockroach/sql/b.test.stdout" -> Seq(
      "BenchmarkNoTab-8 12 ns/op",
      "BenchmarkPadded-8   \t 1 \t 13 ns/op",
      "BenchmarkPadded-8\t 1 \t 14 ns/op",
      "BenchmarkCr-8\r",
      "BenchmarkCr-8 \r\t 1 \t 15 ns/op",
      "BenchmarkCr-8 \t 1 \t 16 ns/op").mkString("\n"),
    // twins: `Ａ` (U+FF21) sorts before `😀` in UTF-8, after it in UTF-16
    "02-01-2015/cockroach/sql/\uFF21.test.stdout" -> "BenchmarkTwin-8 \t 1 \t 20 ns/op",
    "02-01-2015/cockroach/sql/\uD83D\uDE00.test.stdout" -> "BenchmarkTwin-8 \t 1 \t 21 ns/op",
    "02-01-2015/cockroach/util/cache/c.test.stdout" ->
      "BenchmarkNested-8 \t 1 \t 30 ns/op\nBenchmarkNested-8 \t 1 \t 31 ns/op",
    "02-01-2015/cockroach/nopkg/n.test.stdout" -> "BenchmarkUnknown-8 \t 1 \t 40 ns/op",
    "not-a-date/cockroach/sql/x.test.stdout" -> "BenchmarkNoDate-8 \t 1 \t 50 ns/op",
    "03-01-2015/cockroach/kv/f.test.stdout" ->
      "BenchmarkOnlyFail-8 \t 1 \t 60 ns/op \t FAIL\n--- FAIL: BenchmarkOnlyFail-8")

  test("ingest equals its window form on CRLF, untabbed, padded, twin and pruned files") {
    // Crlf, NoTab, Padded (its two lines share a name), three Cr
    // names (Java's `String.trim` would merge them), Twin, Nested
    assertSameAsOracle(edgeTree, BenchIngest.DefaultPackages, 8)
    val twin = BenchIngest.ingest(spark, edgeTree, Seq("sql"))
      .filter("test = 'BenchmarkTwin-8'").select("ns_per_op").collect()
    assert(twin.toSeq == Seq(Row(21L)), "the UTF-8-last twin must win")
  }

  test("ingest gives its window form's outcome on an impossible date dir") {
    val root = writeTree(
      "31-02-2015/cockroach/sql/a.test.stdout" -> "BenchmarkFeb-8 \t 1 \t 70 ns/op",
      "01-03-2015/cockroach/sql/a.test.stdout" -> "BenchmarkMar-8 \t 1 \t 71 ns/op")
    val got = outcome(BenchIngest.ingest(spark, root, Seq("sql")))
    assert(got == outcome(oracle(root, Seq("sql"))), got)
  }

  test("ingest runs one job with no exchange") {
    import org.apache.spark.sql.execution.QueryExecution
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(s"$f: ${qe.executedPlan}")
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs =
      try jobsOf(BenchIngest.ingest(spark, BenchFixture.shared))
      finally spark.listenerManager.unregister(listener)
    assert(jobs == 1)
    assert(plans.size == 1 && plans.peek.startsWith("localCheckpoint: "), plans)
    assert(!plans.peek.contains("Exchange"), plans.peek)
  }

  test("rawLines fails loudly on a missing root") {
    val missing = s"${tempDir("graft_missing")}/nope"
    intercept[java.io.FileNotFoundException](BenchIngest.rawLines(spark, missing))
  }

  /** Exit code and output of [[IngestUnderLocale]] on `root`, in a
    * child JVM started with `LC_ALL=C` and no other locale variable:
    * its `sun.jnu.encoding` is then ASCII. */
  private def ingestUnderCLocale(root: String): (Int, String) = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray(Array.empty[String]).filter(_.startsWith("--add-opens"))
    val cmd = Seq(java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx512m", "-cp", sys.props("java.class.path"),
        "graft.IngestUnderLocale", root)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().keySet().removeIf(k => k == "LANG" || k.startsWith("LC_"))
    pb.environment().put("LC_ALL", "C")
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  test("without a UTF-8 locale, ingest of a non-ASCII name says how to start the JVM") {
    val root = writeTree(
      "01-01-2015/cockroach/sql/a.test.stdout" -> "BenchmarkA-8 \t 1 \t 5 ns/op",
      "01-01-2015/cockroach/sql/\u00e9.test.stdout" -> "BenchmarkE-8 \t 1 \t 6 ns/op")
    val (code, out) = ingestUnderCLocale(root)
    assert(code != 0, out)
    assert(out.contains("sun.jnu.encoding") && out.contains("LC_ALL=C.UTF-8"), out)
  }

  test("an all-ASCII tree ingests under the C locale") {
    val root = writeTree(
      "01-01-2015/cockroach/sql/a.test.stdout" -> "BenchmarkA-8 \t 1 \t 5 ns/op",
      "02-01-2015/cockroach/sql/b.test.stdout" -> "BenchmarkB-8 \t 1 \t 6 ns/op")
    val (code, out) = ingestUnderCLocale(root)
    assert(code == 0 && out.contains("rows=2"), out)
  }

  test("snapshot-stamped fact cache sees files added DEEP in the stdout tree") {
    import graft.sources.Tables
    // The live incremental-ingest shape: a new day's stdout lands
    // nested at <date>/cockroach/<pkg>/<file> — two levels below the
    // root, where neither the root's entry count nor the root's
    // entry mtimes change. Tables.snapshot must recurse, or the
    // session-cached fact silently serves the stale pre-drop answer
    // (the r6 verdict's top finding).
    val root = Files.createTempDirectory("graft_deepsnap").toString
    def fact() = Tables.artifact(spark, root, "deep_fact") {
      BenchIngest.ingest(spark, root, Seq("sql"))
    }
    val d1 = java.nio.file.Paths.get(root, "01-01-2015", "cockroach", "sql")
    Files.createDirectories(d1)
    Files.write(d1.resolve("a.test.stdout"),
      "BenchmarkDeepA-8 \t 1000 \t 500 ns/op".getBytes("UTF-8"))
    assert(fact().count() == 1)
    // new file two directory levels below root, pre-existing date dir
    Files.write(d1.resolve("b.test.stdout"),
      "BenchmarkDeepB-8 \t 1000 \t 700 ns/op".getBytes("UTF-8"))
    assert(fact().count() == 2,
      "deep-tree change did not re-key the session-cached fact")
    // and a whole new nested day, also below the top level
    val d2 = java.nio.file.Paths.get(root, "02-01-2015", "cockroach", "sql")
    Files.createDirectories(d2)
    Files.write(d2.resolve("c.test.stdout"),
      "BenchmarkDeepA-8 \t 1000 \t 400 ns/op".getBytes("UTF-8"))
    assert(fact().count() == 3,
      "new nested date dir did not re-key the session-cached fact")
  }
}

/** Ingests the tree at `args(0)` in a local[1] session and prints
  * `rows=<n>`: the child-JVM side of IngestSpec's locale tests. */
object IngestUnderLocale {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
    try println(s"rows=${BenchIngest.ingest(spark, args(0)).count()}")
    finally spark.stop()
  }
}
