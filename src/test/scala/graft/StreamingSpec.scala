package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{StreamPipelines, WindowQueries}
import graft.streaming.StreamPipelines.Event

/** Structured Streaming semantics: watermark drop of late data,
  * incremental windowed aggregation, and stateful sessionization —
  * driven through MemoryStream so the micro-batch engine actually runs.
  * The batch window()/session_window() forms are DuckDB-verified
  * separately (WindowQueries); here we verify stream==batch agreement
  * and the streaming-only behaviors.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  test("tumbling watermarked aggregation matches batch on in-order data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val events = Seq(
      Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0), Event(4, ts(70), 1, "click", 4.0),
      Event(5, ts(200), 3, "view", 5.0)) // advances watermark far ahead
    mem.addData(events: _*)
    val q = StreamPipelines.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    // watermark(200min - 10min) closes hours 0 and 1 -> emitted; hour 3 open
    val got = spark.table("tumbling_out")
      .select("w_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(got == Set((0L, "click", 2L, 3.0), (60L, "view", 1L, 3.0),
      (60L, "click", 1L, 4.0)))
  }

  test("late rows beyond the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamPipelines.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(Event(1, ts(5), 1, "click", 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, ts(500), 1, "click", 1.0)) // watermark -> 490min
    q.processAllAvailable()
    mem.addData(Event(3, ts(10), 1, "click", 100.0)) // hour 0: closed, late
    q.processAllAvailable()
    val hour0 = spark.table("late_out")
      .filter($"w_start" === ts(0)).select("n", "sum_value")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    q.stop()
    // the late event must NOT appear: hour-0 window emitted with only event 1
    assert(hour0.toSeq == Seq((1L, 1.0)))
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val mem = MemoryStream[Event]
    val q = StreamPipelines.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    // user 1: events at 1,11min (one session); then 100min (new session).
    // (Start at minute 1: a row whose event time equals the initial
    // watermark of 0 would be filtered as late before reaching state.)
    mem.addData(Event(1, ts(1), 1, "c", 1.0), Event(2, ts(11), 1, "c", 2.0))
    q.processAllAvailable()
    mem.addData(Event(3, ts(100), 1, "c", 4.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts(1000), 2, "c", 8.0)) // push watermark way ahead
    q.processAllAvailable()
    mem.addData(Event(5, ts(2000), 2, "c", 16.0)) // one more batch to flush timeouts
    q.processAllAvailable()
    val sessions = spark.table("sess_out")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
        r.getTimestamp(2).getTime / 60000, r.getLong(3), r.getDouble(4))).toSet
    q.stop()
    // user1 session A: [1,11], ends 11+30=41min, 2 events, sum 3
    assert(sessions.contains((1L, 1L, 41L, 2L, 3.0)),
      s"missing first session in $sessions")
    // user1 session B: single event at 100min, ends 130min
    assert(sessions.contains((1L, 100L, 130L, 1L, 4.0)),
      s"missing second session in $sessions")
  }

  test("sessionize extends the session start backwards for out-of-order events") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val mem = MemoryStream[Event]
    val q = StreamPipelines.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_ooo_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(Event(1, ts(20), 1, "c", 1.0))
    q.processAllAvailable() // watermark -> 10min
    mem.addData(Event(2, ts(15), 1, "c", 2.0)) // in-watermark, before start
    q.processAllAvailable()
    mem.addData(Event(3, ts(1000), 2, "c", 0.0)) // push watermark ahead
    q.processAllAvailable()
    mem.addData(Event(4, ts(2000), 2, "c", 0.0)) // flush timeouts
    q.processAllAvailable()
    val sessions = spark.table("sess_ooo_out")
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
        r.getTimestamp(2).getTime / 60000, r.getLong(3), r.getDouble(4))).toSet
    q.stop()
    // session_window semantics: start moves back to 15, end stays 20+30
    assert(sessions.contains((1L, 15L, 50L, 2L, 3.0)),
      s"out-of-order event did not extend session start: $sessions")
  }

  test("file-source AvailableNow pipeline is incremental and exactly-once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckp = s"$tmp/ckp"
    graft.sources.Tables.events(spark, sf0001)
      .limit(100).write.parquet(src)
    val q1 = StreamPipelines.fileToParquet(spark, src, out, ckp)
    q1.awaitTermination()
    val n1 = spark.read.parquet(out).count()
    // re-run with same checkpoint: no new input -> no duplicate output
    val q2 = StreamPipelines.fileToParquet(spark, src, out, ckp)
    q2.awaitTermination()
    val n2 = spark.read.parquet(out).count()
    assert(n1 == n2, s"rerun duplicated output: $n1 -> $n2")
  }

  test("stream-stream interval join pairs purchases with in-window clicks") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamPipelines.clickToPurchase(mem.toDF())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(
      Event(1, ts(5), 1, "click", 0.0),
      Event(2, ts(20), 1, "purchase", 0.0), // 15min after click: joins
      Event(3, ts(30), 2, "purchase", 0.0), // user 2 never clicked
      Event(4, ts(100), 3, "click", 0.0),
      Event(5, ts(170), 3, "purchase", 0.0)) // 70min after click: outside window
    q.processAllAvailable()
    mem.addData(Event(6, ts(500), 9, "view", 0.0)) // advance watermark
    q.processAllAvailable()
    val got = spark.table("ssj_out")
      .select("user_id", "purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(got == Set((1L, 2L, 1L)),
      s"expected only user 1's purchase joined to its click, got $got")
  }

  test("streaming dedup drops in-watermark duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = StreamPipelines.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(Event(1, ts(1), 1, "c", 1.0), Event(1, ts(2), 1, "c", 1.0),
      Event(2, ts(3), 1, "c", 2.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(4), 1, "c", 1.0)) // still duplicate
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(ids == Seq(1L, 2L), s"expected unique ids, got $ids")
  }

  test("stream-static decontamination joins the broadcast eval table per batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{explode, expr}
    graft.functions.GraftExtensions.register(spark)
    // eval doc 10 shingles: {abc bcd cde def efg}
    val evalSh = Seq((10L, "a b c d e f g")).toDF("eval_id", "text")
      .select($"eval_id", explode(expr("shingle3(text)")).as("shingle"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamPipelines
      .decontaminateStream(mem.toDF().toDF("doc_id", "text"), evalSh)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Update).start()
    mem.addData((1L, "a b c d e x y"), (2L, "a b c d"))
    q.processAllAvailable()
    mem.addData((3L, "c d e f g"))
    q.processAllAvailable()
    // update mode re-emits a key on change; the latest value per key
    // is the cumulative shared-shingle count
    val got = spark.table("decon_out")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    q.stop()
    assert(got == Map((1L, 10L) -> 3L, (2L, 10L) -> 2L, (3L, 10L) -> 3L),
      s"got $got")
  }

  test("stream-static enrichment aggregate equals the batch form across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "AUTOMOBILE"), (2L, "MACHINERY"), (3L, "AUTOMOBILE"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Event]
    val q = StreamPipelines.enrichAggregate(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Complete).start()
    val batch1 = Seq(Event(1, ts(1), 1, "click", 1.5),
      Event(2, ts(2), 2, "view", 2.0), Event(3, ts(3), 9, "click", 7.0))
    val batch2 = Seq(Event(4, ts(4), 3, "click", 0.5),
      Event(5, ts(5), 1, "view", 3.0))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    val got = spark.table("enrich_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    q.stop()
    // user 9 has no dim row -> dropped by the inner join; complete-mode
    // output equals the batch aggregate over ALL events seen so far
    val want = StreamPipelines
      .enrichAggregate((batch1 ++ batch2).toDF(), dim)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == want, s"got $got want $want")
    assert(got == Set(("AUTOMOBILE", "click", 2L, 2.0),
      ("AUTOMOBILE", "view", 1L, 3.0), ("MACHINERY", "view", 1L, 2.0)))
  }

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
      StreamPipelines.ingestUpsertStream(spark, src, out, ckp)
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
    StreamPipelines.ingestUpsertStream(spark, src, out, ckp,
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
    StreamPipelines.ingestUpsertStream(spark, src, out, ckp)
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
    val q1 = StreamPipelines.ingestUpsertStream(spark, src, out, ckp,
      maxFilesPerTrigger = 1,
      beforeBatch = id => if (id >= 1 && crashed.compareAndSet(false, true))
        throw new RuntimeException("injected crash before batch 1"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(spark.read.parquet(out).count() == 1L,
      "only batch 0 may be committed before the crash")
    StreamPipelines.ingestUpsertStream(spark, src, out, ckp,
      maxFilesPerTrigger = 1).awaitTermination()
    val got = spark.read.parquet(out)
      .select("test", "ns_per_op").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(got == Seq("BenchmarkA-8" -> 100L, "BenchmarkB-8" -> 200L,
      "BenchmarkC-8" -> 300L), s"got $got")
  }

  test("alerting stream pages once per regression, never re-pages on re-delivery") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_alerting").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"
    val alerts = s"$tmp/alerts"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    def readAlerts(): Seq[(String, String)] =
      spark.read.parquet(alerts).select("test", "date").collect()
        .map(r => r.getString(0) -> r.getDate(1).toString).toSeq.sorted
    // day 1 → 2: +20% = regression; the monitor pages once
    writeFile("01-02-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op")
    writeFile("02-02-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 120 ns/op")
    StreamPipelines.alertingStream(spark, src, out, alerts, ckp)
      .awaitTermination()
    assert(readAlerts() == Seq("BenchmarkA-8" -> "2015-02-02"))
    // day 3 regresses again (+10%) AND day 2 is re-delivered verbatim:
    // exactly one NEW alert; the day-2 alert is not re-emitted
    writeFile("03-02-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 132 ns/op")
    writeFile("02-02-2015/cockroach/sql/b.test.stdout",
      "BenchmarkA-8 \t 10 \t 120 ns/op")
    StreamPipelines.alertingStream(spark, src, out, alerts, ckp)
      .awaitTermination()
    assert(readAlerts() == Seq("BenchmarkA-8" -> "2015-02-02",
      "BenchmarkA-8" -> "2015-02-03"))
    // a non-regressing day adds no alert
    writeFile("04-02-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 131 ns/op")
    StreamPipelines.alertingStream(spark, src, out, alerts, ckp)
      .awaitTermination()
    assert(readAlerts().size == 2)
  }

  test("alerting stream pages each regressed day once under out-of-order arrival") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_alert_ooo").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"
    val alerts = s"$tmp/alerts"; val ckp = s"$tmp/ckp"
    def writeFile(rel: String, content: String): Unit = {
      val p = java.nio.file.Paths.get(src, rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    }
    def readAlerts(): Seq[String] =
      spark.read.parquet(alerts).select("date").collect()
        .map(_.getDate(0).toString).toSeq.sorted
    // days arrive OUT OF ORDER: 1 then 3 (skipping 2). With only
    // days 1+3 merged, day 3's predecessor is day 1: +32% pages.
    writeFile("01-03-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 100 ns/op")
    writeFile("03-03-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 132 ns/op")
    StreamPipelines.alertingStream(spark, src, out, alerts, ckp)
      .awaitTermination()
    assert(readAlerts() == Seq("2015-03-03"))
    // the missing middle day lands late at +20% over day 1: it pages
    // once; day 3 (now +10% over day 2, still a regression) does NOT
    // re-page — first-alert-wins holds under reordering
    writeFile("02-03-2015/cockroach/sql/a.test.stdout",
      "BenchmarkA-8 \t 10 \t 120 ns/op")
    StreamPipelines.alertingStream(spark, src, out, alerts, ckp)
      .awaitTermination()
    assert(readAlerts() == Seq("2015-03-02", "2015-03-03"))
  }

  test("batch session_window agrees with hand-rolled sessionization totals") {
    val batch = WindowQueries.stSession(spark, sf0001)
    val totalEvents = batch.agg(org.apache.spark.sql.functions.sum("n_events"))
      .head().getLong(0)
    val n = graft.sources.Tables.events(spark, sf0001).count()
    assert(totalEvents == n, "session windows must partition the events")
  }

  test("streaming sessionize equals batch session_window row-for-row on the fixture") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val evRows = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
    assert(evRows.nonEmpty)
    val maxTs = evRows.map(_.ts.getTime).max
    val mem = MemoryStream[Event]
    val q = StreamPipelines.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_full_out")
      .outputMode(OutputMode.Append).start()
    mem.addData(evRows.toIndexedSeq: _*)
    q.processAllAvailable()
    // two far-future sentinel batches: first advances the watermark
    // past every session end, second flushes the resulting timeouts
    mem.addData(Event(-1L, new Timestamp(maxTs + 86400000L), -1L, "c", 0.0))
    q.processAllAvailable()
    mem.addData(Event(-2L, new Timestamp(maxTs + 2 * 86400000L), -1L, "c", 0.0))
    q.processAllAvailable()
    // keys at millisecond precision: the state machine tracks millis,
    // and min/max commute with the µs→ms truncation, so batch µs
    // bounds divided by 1000 are the exact streaming bounds
    val streamed = spark.table("sess_full_out")
      .filter($"user_id" >= 0)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime) -> (r.getLong(3), r.getDouble(4))).toMap
    q.stop()
    val batch = WindowQueries.stSession(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1) / 1000,
        r.getLong(2) / 1000) -> (r.getLong(3), r.getDouble(4))).toMap
    assert(streamed.keySet == batch.keySet,
      s"session sets differ: stream-only=${(streamed.keySet -- batch.keySet).take(3)}" +
        s" batch-only=${(batch.keySet -- streamed.keySet).take(3)}")
    batch.foreach { case (k, (n, sum)) =>
      val (sn, ssum) = streamed(k)
      assert(sn == n, s"$k: n_events $sn != $n")
      // batch sums decimal-routed and rounded to 6 dp; streaming folds
      // raw doubles in event order — equal to float noise + rounding
      assert(math.abs(ssum - sum) < 1e-4, s"$k: sum_value $ssum != $sum")
    }
  }

  test("space-saving heavy hitters: exact under capacity, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val mem = MemoryStream[Event]
    val q = StreamPipelines.heavyHittersStream(mem.toDF())
      .writeStream.format("memory").queryName("hh_out")
      .outputMode(OutputMode.Update).start()
    // batch 1: 6 distinct users (< capacity 8) -> counts are EXACT
    // regardless of intra-batch arrival order
    val b1 = Seq.fill(4)(1L) ++ Seq.fill(3)(2L) ++ Seq.fill(2)(3L) ++
      Seq(4L, 5L, 6L)
    mem.addData(b1.zipWithIndex.map { case (u, i) =>
      Event(i.toLong, ts(i.toLong), u, "click", 1.0) }: _*)
    q.processAllAvailable()
    val snap1 = spark.table("hh_out").filter($"n_seen" === 12)
      .select($"rank", $"user_id", $"est_count")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap1 == Set((1, 1L, 4L), (2, 2L, 3L), (3, 3L, 2L)),
      s"exact sub-capacity top-3 expected, got $snap1")
    // batch 2: one user repeated -> deterministic regardless of order;
    // ties in the top-3 sort break on user id (2 before 7 at count 3)
    mem.addData((0 until 3).map(i =>
      Event(100L + i, ts(50L + i), 7L, "click", 1.0)): _*)
    q.processAllAvailable()
    val snap2 = spark.table("hh_out").filter($"n_seen" === 15)
      .select($"rank", $"user_id", $"est_count")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(snap2 == Set((1, 1L, 4L), (2, 2L, 3L), (3, 7L, 3L)),
      s"tie must order user 2 before 7, got $snap2")
  }

  test("space-saving eviction preserves the frequent-item guarantee") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    val mem = MemoryStream[Event]
    val q = StreamPipelines.heavyHittersStream(mem.toDF())
      .writeStream.format("memory").queryName("hh_evict_out")
      .outputMode(OutputMode.Update).start()
    // 10 distinct users with a dominant one: user 99 has 12 of 21
    // events, far above n/capacity = 21/8 -> MUST be reported rank 1
    // with est_count >= true count, whatever the eviction history
    val others = (1L to 9L).map(u => Seq.fill(1)(u)).flatten
    val data = (Seq.fill(12)(99L) ++ others).zipWithIndex
    mem.addData(data.map { case (u, i) =>
      Event(i.toLong, ts(i.toLong), u, "view", 1.0) }: _*)
    q.processAllAvailable()
    val rows = spark.table("hh_evict_out").filter($"n_seen" === 21)
      .select($"rank", $"user_id", $"est_count")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    q.stop()
    val top = rows.find(_._1 == 1).get
    assert(top._2 == 99L, s"dominant user must be rank 1, got $rows")
    assert(top._3 >= 12L, "SpaceSaving est_count is an overestimate")
    // state is capacity-bounded: at most 3 rows are ever emitted
    assert(rows.length <= 3)
  }

  test("streaming inter-arrival gaps equal batch lag gaps on the fixture (in-order)") {
    implicit val sqlCtx = spark.sqlContext
    implicit val s = spark
    // the st_interarrival twin: same gap multiset as the batch lag
    // window when delivery is in event-time order across batches (the
    // tumbling twin's contract); within a batch the op sorts per user
    val evRows = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    assert(evRows.nonEmpty)
    val mem = MemoryStream[Event]
    val q = StreamPipelines.interarrivalStream(mem.toDS())
      .writeStream.format("memory").queryName("gap_out")
      .outputMode(OutputMode.Append).start()
    // three arbitrary time-ordered chunks: per-user state must carry
    // the last-seen timestamp across micro-batch boundaries
    evRows.grouped(math.max(1, evRows.length / 3 + 1)).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table("gap_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    q.stop()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val batch = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id", org.apache.spark.sql.functions
        .unix_micros($"ts").as("ts_us"), $"event_id")
      .withColumn("gap_us", $"ts_us"
        - org.apache.spark.sql.functions.lag($"ts_us", 1).over(w))
      .filter($"gap_us".isNotNull)
      .select($"user_id", $"gap_us")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(streamed.length == batch.length,
      s"${streamed.length} streamed gaps vs ${batch.length} batch gaps")
    assert(streamed.toSeq == batch.toSeq, "gap multisets diverge")
  }

  test("streaming user-lifespan collapse equals batch spans on ANY delivery order") {
    implicit val sqlCtx = spark.sqlContext
    // the st_user_lifespan twin: min/max/count commute with delivery
    // order, so feed the fixture REVERSED and split across batches
    val evRows = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (-e.ts.getTime, e.event_id))
    val mem = MemoryStream[Event]
    val q = StreamPipelines.lifespanStream(mem.toDF())
      .writeStream.format("memory").queryName("lifespan_out")
      .outputMode(OutputMode.Complete).start()
    evRows.grouped(math.max(1, evRows.length / 4 + 1)).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    val streamed = spark.table("lifespan_out")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    q.stop()
    val batch = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id", org.apache.spark.sql.functions
        .unix_micros($"ts").as("ts_us"))
      .groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.min($"ts_us").as("first_us"),
        org.apache.spark.sql.functions.max($"ts_us").as("last_us"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamed == batch,
      s"user-grain collapse diverges: ${streamed.size} vs ${batch.size} users")
  }
}
