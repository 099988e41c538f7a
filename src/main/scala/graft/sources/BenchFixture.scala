package graft.sources

import java.nio.file.{Files, Path, Paths}

/** Deterministic benchmark-stdout fixture tree, modeled on the
  * reference's own test fixture (file_generator_test.go:35-43) plus the
  * edge cases its suite leaves uncovered (SURVEY.md §5): FAIL lines,
  * non-Benchmark lines, MB/s metrics, duplicate tests across and within
  * files (last-write-wins), invalid date dirs, non-matching file names,
  * unknown packages.
  *
  * The tree is a pure function of `root` — queries built on it have
  * constant results, so their DuckDB oracles are literal SELECTs.
  */
object BenchFixture {

  /** The reference's golden line, file_generator_test.go:38. */
  val GoldenLine =
    "BenchmarkBank2_Cockroach-8 \t    1000 \t 1328086 ns/op \t 183965 B/op \t 2317 allocs/op"

  private val tree: Seq[(String, String)] = Seq(
    "01-01-2015/cockroach/sql/a.test.stdout" -> Seq(
      "goos: linux",                                    // dropped: no Benchmark prefix
      GoldenLine,                                       // golden: M defaults to 0
      "BenchmarkDup-8 \t 500 \t 100 ns/op",             // overwritten by b.test.stdout
      "--- FAIL: BenchmarkFailing-8",                   // dropped: no Benchmark prefix
      "BenchmarkFailing2-8 \t 1 \t 7 ns/op \t FAIL",    // dropped: FAIL substring
      "PASS").mkString("\n"),
    "01-01-2015/cockroach/sql/b.test.stdout" -> Seq(
      "BenchmarkDup-8 \t 500 \t 150 ns/op",             // overwritten by next line
      "BenchmarkDup-8 \t 500 \t 200 ns/op",             // survives: last file, last line
      "ok  \tgithub.com/cockroachdb/cockroach/sql\t12.3s").mkString("\n"),
    "01-01-2015/cockroach/sql/notes.txt" ->
      "BenchmarkGhost-8 \t 1 \t 1 ns/op",               // dropped: glob *test.stdout
    "01-01-2015/cockroach/sql/parser/parser.test.stdout" ->
      "BenchmarkParse-4 \t 3000 \t 4096 ns/op \t 12.34 MB/s",
    "01-01-2015/cockroach/notapkg/x.test.stdout" ->
      "BenchmarkNope-8 \t 1 \t 1 ns/op",                // dropped: pkg not in list
    "02-01-2015/cockroach/sql/a.test.stdout" ->
      "BenchmarkBank2_Cockroach-8 \t 1000 \t 1200000 ns/op \t 180000 B/op \t 2300 allocs/op",
    "02-01-2015/cockroach/util/cache/cache.test.stdout" ->
      "BenchmarkCacheGet-8 \t 10000 \t 250 ns/op \t 64 B/op \t 1 allocs/op \t 998.77 MB/s",
    "15-03-2015/cockroach/sql/a.test.stdout" ->
      "BenchmarkBank2_Cockroach-8 \t 1000 \t 1100000 ns/op",
    "not-a-date/cockroach/sql/x.test.stdout" ->
      "BenchmarkNope2-8 \t 1 \t 1 ns/op",               // dropped: invalid date dir
  )

  /** Write the tree under `root` (idempotent). Returns `root`. */
  def write(root: String): String = {
    val base = Paths.get(root)
    tree.foreach { case (rel, content) =>
      val p: Path = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    root
  }

  /** Default fixture location: `target/` under the working directory
    * (the build dir, never committed). */
  def defaultRoot: String = Paths.get("target", "bench_fixture").toAbsolutePath.toString

  /** Write-once default tree, shared by queries and tests. */
  lazy val shared: String = write(defaultRoot)
}
