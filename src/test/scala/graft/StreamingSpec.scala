package graft

import graft.sources.BenchIngest
import graft.streaming.WindowQueries

/** Structured Streaming over the benchmark stdout tree: the streaming
  * ingest and its foreachBatch upsert sink, driven through the file
  * source with Trigger.AvailableNow so the micro-batch engine actually
  * runs (incremental discovery, partition merge, crash recovery). The
  * batch session_window form is DuckDB-verified separately
  * (WindowQueries); here it is checked to partition the events.
  */
class StreamingSpec extends SparkSpec {

  test("streaming ingest discovers new date dirs incrementally, exactly-once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    def runOnce(): Long = {
      val q = graft.sources.BenchIngest.streamingIngest(spark, src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(out).count()
    }
    writeFile("01-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op\nPASS")
    assert(runOnce() == 1L)
    // day 2 lands: only the new file is processed, old rows not duplicated
    writeFile("02-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 90 ns/op\nBenchmarkB-8 \t 10 \t 50 ns/op")
    assert(runOnce() == 3L)
    // re-run with no new input: idempotent
    assert(runOnce() == 3L)
  }

  test("foreachBatch upsert replaces re-delivered date partitions, keeps others") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    def runOnce(): Map[(String, String), Long] = {
      BenchIngest.ingestUpsertStream(spark, src, out, ckp)
        .awaitTermination()
      spark.read.parquet(out)
        .select("test", "date", "ns_per_op").collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
        .toMap
    }
    writeFile("01-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op")
    assert(runOnce() == Map(("BenchmarkA-8", "2015-01-01") -> 100L))
    // a new day lands: its partition is written, day 1 untouched
    writeFile("02-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 90 ns/op")
    assert(runOnce() == Map(
      ("BenchmarkA-8", "2015-01-01") -> 100L,
      ("BenchmarkA-8", "2015-01-02") -> 90L))
    // day 2 regenerated (full content re-delivered as a new file): its
    // partition is REPLACED — the stale 90 row disappears, day 1 stays
    writeFile("02-01-2015/cockroach/sql/b.test.stdout",
      "BenchmarkA-8 \t 10 \t 95 ns/op\nBenchmarkB-8 \t 10 \t 50 ns/op")
    assert(runOnce() == Map(
      ("BenchmarkA-8", "2015-01-01") -> 100L,
      ("BenchmarkA-8", "2015-01-02") -> 95L,
      ("BenchmarkB-8", "2015-01-02") -> 50L))
  }

  test("upsert sink loses no rows when one day's files split across micro-batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_split").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    // one day, three files: maxFilesPerTrigger=1 forces three
    // micro-batches over the SAME date partition — the regression
    // ADVICE flagged (per-batch dynamic overwrite kept only the last
    // file's rows; the key-merge keeps all three)
    writeFile("05-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op")
    writeFile("05-01-2015/cockroach/sql/b.test.stdout",
      "BenchmarkB-8 \t 10 \t 200 ns/op")
    writeFile("05-01-2015/cockroach/sql/c.test.stdout",
      "BenchmarkC-8 \t 10 \t 300 ns/op")
    BenchIngest.ingestUpsertStream(spark, src, out, ckp,
      maxFilesPerTrigger = 1).awaitTermination()
    val got = spark.read.parquet(out)
      .select("test", "ns_per_op").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("BenchmarkA-8" -> 100L, "BenchmarkB-8" -> 200L,
      "BenchmarkC-8" -> 300L))
  }

  test("upsert dedups duplicate keys arriving in the SAME micro-batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_dup").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    // two files for the SAME day both measuring BenchmarkA-8 — with
    // the default trigger they land in ONE micro-batch; the within-
    // batch A1 window must keep only the last (file, line) version
    // (b.test.stdout sorts after a.test.stdout), not both rows
    writeFile("07-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op")
    writeFile("07-01-2015/cockroach/sql/b.test.stdout",
      "BenchmarkA-8 \t 10 \t 110 ns/op")
    BenchIngest.ingestUpsertStream(spark, src, out, ckp)
      .awaitTermination()
    val rows = spark.read.parquet(out)
      .select("test", "ns_per_op").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.toSeq == Seq("BenchmarkA-8" -> 110L),
      s"expected exactly one deduped row, got ${rows.toSeq}")
  }

  test("upsert stream resumes from its checkpoint exactly-once after a crash") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upsert_rec").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    // three files, maxFilesPerTrigger=1 → three micro-batches; the
    // first run crashes entering batch 1 (batch 0 committed, batch 1
    // never ran), the second run restarts from the SAME checkpoint
    // with no crash and must deliver the remaining batches — each
    // fact row exactly once, nothing lost, nothing doubled
    writeFile("08-01-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op")
    writeFile("08-01-2015/cockroach/sql/b.test.stdout",
      "BenchmarkB-8 \t 10 \t 200 ns/op")
    writeFile("09-01-2015/cockroach/sql/c.test.stdout",
      "BenchmarkC-8 \t 10 \t 300 ns/op")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q1 = BenchIngest.ingestUpsertStream(spark, src, out, ckp,
      maxFilesPerTrigger = 1,
      beforeBatch = id => if (id >= 1 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash before batch 1"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(spark.read.parquet(out).count() == 1L,
      "only batch 0 may be committed before the crash")
    BenchIngest.ingestUpsertStream(spark, src, out, ckp,
      maxFilesPerTrigger = 1).awaitTermination()
    val got = spark.read.parquet(out)
      .select("test", "ns_per_op").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(got == Seq("BenchmarkA-8" -> 100L, "BenchmarkB-8" -> 200L,
      "BenchmarkC-8" -> 300L), s"got $got")
  }

  test("batch session_window agrees with hand-rolled sessionization totals") {
    val batch = WindowQueries.stSession(spark, sf0001)
    val totalEvents = batch.agg(org.apache.spark.sql.functions.sum("n_events"))
      .head().getLong(0)
    val n = graft.sources.Tables.events(spark, sf0001).count()
    assert(totalEvents == n, "session windows must partition the events")
  }
}
