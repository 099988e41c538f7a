package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** Warm-mode (checkpointed-table) results must equal raw-scan results.
  *
  * Why this is load-bearing (r13 advice): graft.Bench times every query
  * against `-Dgraft.tableCache=checkpoint` tables, which are
  * repartitioned size-aware before `localCheckpoint` — a partitioning /
  * row order the Verify gate (raw scans) never executes. That is safe
  * only while every registry query is partition-order-insensitive
  * (DECIMAL-routed sums, full orderBy / set semantics on output). This
  * spec makes the invariant checked rather than assumed: a sample of
  * queries across families runs in both modes and must collect
  * identical rows, so a future order-sensitive query can't silently
  * report warm timings for different results. The sums' policy has one
  * owner, [[graft.functions.Exact]], and a source scan keeps it there.
  *
  * Mechanics: table and artifact keys are dir-stamped, not
  * mode-stamped, so the warm pass reads a COPY of the fixture dir —
  * fresh keys, fresh checkpointed builds — while the raw pass reads
  * the original.
  */
class WarmRawParitySpec extends SparkSpec {

  private def copyFixture(): String = {
    val out = java.nio.file.Files.createTempDirectory("graft_warm").toString
    val src = new java.io.File(sf0001)
    src.listFiles().foreach { f =>
      java.nio.file.Files.copy(
        f.toPath, java.nio.file.Paths.get(out, f.getName))
    }
    out
  }

  /** releaseScope only evicts the session cache; the fixture copies
    * are plain temp dirs that would otherwise leak per test run. */
  private def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  // cross-family sample: relational agg, window, dedup pair metrics
  // (the family whose warm-mode partitioning churned most in r13/r14)
  private val sample =
    Seq("q01_pricing_summary", "q11_window_lag",
      "llm_dd_containment", "llm_dd_ngram_jaccard")

  test("warm-mode results are row-identical to raw-scan results") {
    val warmDir = copyFixture()
    try {
      val qs = SparkEntry.queries
      for (name <- sample) {
        val raw = qs(name)(spark, sf0001).collect().toSeq
        sys.props("graft.tableCache") = "checkpoint"
        val warm =
          try qs(name)(spark, warmDir).collect().toSeq
          finally sys.props.remove("graft.tableCache")
        // compare as multisets on string forms: parity is about values,
        // not the physical row order a partitioning happens to produce
        // (ordered outputs still compare ordered — sorting both sides
        // identically preserves an order mismatch only when values
        // differ, and every fully-ordered query also has a hash-exact
        // DuckDB oracle in the Verify gate)
        def canon(rows: Seq[org.apache.spark.sql.Row]) =
          rows.map(_.toString).sorted
        assert(canon(warm) == canon(raw), s"warm/raw divergence in $name")
      }
    } finally {
      graft.sources.Tables.releaseScope(spark, warmDir)
      deleteRecursively(warmDir)
    }
  }

  test("exact arithmetic is spelled only in graft.functions.Exact") {
    // A module that defines its own DECIMAL-routed sum or 6-place
    // rounding can drift from the policy this spec and the oracle rest
    // on; it calls Exact.sum / Exact.sumSql / Exact.r6 instead.
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala.toSeq
      .map(root.relativize(_).toString)
      .filter(f => f.endsWith(".scala") && f != "functions/Exact.scala")
    assert(files.size > 20, s"source scan found only $files")
    val decSum = """\bsum\(.*\.cast\((DecimalType\(|s?"decimal\().*\)\)\.cast\("double"\)""".r
    val decSumSql = """CAST\(SUM\(CAST\(.* AS DECIMAL\(""".r
    val hits = for {
      f <- files
      ls = codeLines(f)
      (l, i) <- ls.zipWithIndex
      // a definition's body may start on the next line
      body = if (l.trim.endsWith("=")) l + ls.lift(i + 1).getOrElse("") else l
      if l.contains("setScale(6") || decSum.findFirstIn(l).isDefined ||
        ("""\bdef \w+""".r.findFirstIn(l).isDefined &&
          decSumSql.findFirstIn(body).isDefined)
    } yield s"$f:${i + 1}: ${l.trim}"
    assert(hits.isEmpty, s"exact arithmetic outside graft.functions.Exact: $hits")
  }

  test("warm partition target is size-aware: dims stay narrow, big single-file tables widen") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    // region: 5 rows / a few hundred uncompressed bytes — target 1, so
    // warm mode must NOT shuffle it wide (the r13 blanket-repartition
    // regression class); every sf0.001 table is likewise single-target
    assert(Tables.warmPartitions(spark, s"$sf0001/region.parquet") == 1)
    assert(Tables.warmPartitions(spark, s"$sf0001/events.parquet") == 1)
    // synthetic big-table shape: one parquet file written as one task,
    // encoded bytes >> WarmBytesPerPartition — the r13 16×/64× funnel.
    // texts must be DISTINCT: totalByteSize is the post-encoding size,
    // and a constant string dictionary-encodes to ~nothing (while the
    // real replicated fixtures keep their 29–116 MB because each class
    // text is distinct in the dictionary).
    val dir = java.nio.file.Files.createTempDirectory("graft_wide").toString
    val warmDir = copyFixture()
    try {
      spark.range(60000)
        .select(col("id").as("doc_id"),
          concat(lit("x" * 180), col("id").cast("string")).as("text"))
        .coalesce(1)
        .write.parquet(s"$dir/docs.parquet")
      val unc = Tables.parquetUncompressedBytes(spark, s"$dir/docs.parquet")
      assert(unc > 2 * Tables.WarmBytesPerPartition,
        s"fixture not big enough uncompressed: $unc")
      val target = Tables.warmPartitions(spark, s"$dir/docs.parquet")
      val expect = math.min(
        ((unc + Tables.WarmBytesPerPartition - 1) / Tables.WarmBytesPerPartition).toInt,
        spark.sparkContext.defaultParallelism)
      assert(target == expect,
        s"expected bytes/WarmBytesPerPartition partitions ($expect), got $target")
      sys.props("graft.tableCache") = "checkpoint"
      try {
        val warm = Tables.table(spark, dir, "docs")
        assert(warm.rdd.getNumPartitions == target,
          "warm checkpoint must widen an under-parallel big scan")
        // and a dim-sized table keeps its natural (narrow) partitioning:
        // no repartition means no added scheduler overhead on 3-row queries
        val region = Tables.table(spark, warmDir, "region")
        assert(region.rdd.getNumPartitions == 1,
          "warm checkpoint must not widen a 5-row dim table")
      } finally sys.props.remove("graft.tableCache")
    } finally {
      Tables.releaseScope(spark, warmDir)
      Tables.releaseScope(spark, dir)
      deleteRecursively(warmDir)
      deleteRecursively(dir)
    }
  }
}
