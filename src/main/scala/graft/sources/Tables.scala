package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Loaders for the driver-generated star schema at `/root/testdata/<sf>/`
  * (TESTDATA.md / FIXTURES.md §2). One parquet file per table.
  *
  * Scale note: at 100 TB these would be partitioned/bucketed catalog
  * tables; `spark.read.parquet(dir)` keeps the scan declarative so
  * Catalyst applies column pruning + filter pushdown regardless of the
  * physical layout (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {

  /** A session-cached DataFrame and the RDD ids its build persisted:
    * the artifact itself plus any per-round transients the build
    * created (bounded: builds run once per (session, key)). Everything
    * persisted OUTSIDE a cached build is a per-query transient whose
    * DataFrame dies with the query invocation; [[releaseTransients]]
    * may drop those blocks freely. Without that release, a long
    * repeated-query run (graft.Bench: 190 queries × warm + timed
    * passes) accumulates ~12k localCheckpoint block sets whose
    * block-manager/GC pressure inflates late-suite timings up to 16×
    * their isolated cost (measured round 7: llm_pipeline_budget 31.8 s
    * in-suite vs 2.0 s isolated).
    */
  private final case class Entry(df: DataFrame, ids: Set[Int])

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()
  private val cleanupHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Observer invoked after each artifact build completes, with the
    * cache key and build seconds. graft.Bench journals each build (so
    * an IN-FLIGHT build is attributable from outside the JVM) and
    * collects them into bench_last.json's `builds` table. Nested
    * builds complete BEFORE their outer key and their time is included
    * in the outer entry. Default no-op; exceptions are swallowed at the
    * call site. */
  @volatile var onArtifactBuild: (String, Double) => Unit = (_, _) => ()

  /** Per-SparkContext build lock: the persistent-RDD id diff in
    * [[sessionCached]] is context-global, so two builds diffing
    * concurrently would attribute each other's ids. Serializing
    * builds per context makes the diff exact under multi-threaded
    * drivers too (the lock is reentrant, so nested builds — an outer
    * artifact building its cached inputs — still work). */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, Object]()

  /** Unpersist every persistent RDD of `spark`'s context that no
    * session-cached build pinned. Safe between query invocations:
    * localCheckpoint truncates lineage, so blocks must not be dropped
    * while a DataFrame still expects re-execution — but per-query
    * transients are rebuilt fresh by each invocation, and the
    * long-lived artifact family is pinned. The transients are the
    * query modules' plain `localCheckpoint()`s, in executor block
    * storage like the [[artifact]]s. Non-blocking: block removal
    * proceeds async while the next query runs.
    */
  def releaseTransients(spark: SparkSession): Unit = {
    val kept = entries.values.asScala.flatMap(_.ids).toSet
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!kept(id)) rdd.unpersist(blocking = false)
    }
  }

  /** Release the blocks behind a `localCheckpoint()`-ed DataFrame.
    * `Dataset.unpersist` only talks to the CacheManager; checkpoint
    * blocks belong to the internal RDD, reachable through the
    * `LogicalRDD` leaf the checkpoint call returned. No-op on
    * non-checkpointed plans. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** True iff `df`'s plan IS a checkpoint: a `LogicalRDD` over a
    * checkpointed RDD, as `localCheckpoint()` / `checkpoint()` return. */
  private[graft] def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.isCheckpointed
      case _ => false
    }

  /** `n` rounds of an iterative build: round r maps the current table
    * to the next with `step(r, cur)`. The seed and every round are
    * localCheckpointed, so round r's plan never replays rounds 1..r-1,
    * and each round's checkpoint is freed once the next one is
    * materialized: block storage holds at most two rounds at a time,
    * and only the returned round's blocks outlive the call. */
  def rounds(seed: DataFrame, n: Int)(step: (Int, DataFrame) => DataFrame): DataFrame =
    (1 to n).foldLeft(seed.localCheckpoint()) { (cur, r) =>
      val next = step(r, cur).localCheckpoint()
      freeCheckpoint(cur)
      next
    }

  /** Evict every sessionCached artifact of `spark` whose key is
    * stamped under `dir` (all keys are `"$dir@snapshot#suffix"`):
    * remove the cache entries AND unpersist the RDD blocks their
    * builds pinned. For when a whole data directory's artifact family
    * is known-dead — graft.Bench calls this after the sf0.001 codegen
    * warm pass, whose checkpointed tables and index builds are never
    * read again but would otherwise stay pinned across the entire
    * bench-SF warm + timed passes (~half the block sets a 357-query
    * suite holds; measured round 11: board-wide timed medians carry
    * the occupancy cost). Safe only when no live DataFrame still
    * reads the dir's artifacts: localCheckpoint truncates lineage, so
    * a survivor would be unrecoverable — callers own that invariant
    * (trivially true between bench passes). */
  def releaseScope(spark: SparkSession, dir: String): Unit = {
    val prefix = s"$dir@"
    val live = spark.sparkContext.getPersistentRDDs
    val it = entries.entrySet.iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.getKey._1 eq spark) && e.getKey._2.startsWith(prefix)) {
        it.remove()
        e.getValue.ids.foreach(live.get(_).foreach(_.unpersist(blocking = false)))
      }
    }
  }

  /** Session-scoped memo for a named DataFrame. The first build per
    * (session, key) wins. Eviction is APPLICATION-END only: Spark has
    * no per-session close event, so a session closed while the shared
    * SparkContext lives on (multi-session server use) stays pinned —
    * along with its checkpointed blocks — until the application exits.
    * Acceptable for this engine's job-per-application deployments;
    * a long-lived multi-tenant server would need to key a TTL/weak map
    * here instead.
    */
  private def sessionCached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    if (cleanupHooked.add(spark))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          entries.keySet.removeIf(_._1 eq spark)
          cleanupHooked.remove(spark)
        }
      })
    // get, then build under the lock, rather than computeIfAbsent: a
    // build may itself call sessionCached for its inputs (e.g. the LSH
    // band table builds from the cached class + shingle tables), and a
    // nested computeIfAbsent on the same map throws "Recursive update".
    val k = (spark, key)
    val hit = entries.get(k)
    if (hit != null) hit.df
    else {
      // pin every RDD the build persists (localCheckpoint is eager, so
      // blocks exist by the time `build` returns): the id-set diff
      // captures the artifact itself plus its build transients, both
      // of which must survive releaseTransients. The diff is
      // context-global, so builds serialize on a per-context lock
      // (reentrant — nested builds of cached inputs still work): a
      // concurrent build for another dir can no longer interleave its
      // persists into this key's diff window.
      val sc = spark.sparkContext
      buildLocks.computeIfAbsent(sc, _ => new Object).synchronized {
        val again = entries.get(k) // a racer may have built while we waited
        if (again != null) again.df
        else {
          val before = sc.getPersistentRDDs.keySet
          val t0 = System.nanoTime()
          val built = build
          // Build-cost attribution (bench journal): a nested build's
          // time is INCLUDED in its outer key's time — the journal
          // entries are ordered innermost-first, so the outer entry's
          // self-cost is its total minus the nested entries logged
          // between its start and end. Observer failures never fail
          // a build.
          val buildSec = (System.nanoTime() - t0) / 1e9
          try onArtifactBuild(key, buildSec) catch { case _: Throwable => }
          // Nested builds (an outer artifact building its cached inputs)
          // attribute the inner key's ids to the OUTER key's diff as well;
          // that is why [[releaseScope]] is dir-granular — every key of a
          // dir releases together, so a doubly-attributed id can never be
          // unpersisted while its own key survives.
          entries.put(k, Entry(built, sc.getPersistentRDDs.keySet.diff(before).toSet))
          built
        }
      }
    }
  }

  /** Snapshot token for a data directory: (#files, max mtime, total
    * bytes) over a RECURSIVE file listing, bounded at
    * [[SnapshotMaxFiles]]. Folded into every sessionCached key derived
    * from the dir's data — `table` scans and the dd/pq index family —
    * so rewriting a table within a session (e.g. by this repo's own
    * streaming/ingest writers) invalidates the cached scans AND the
    * indexes built from them, instead of silently serving stale
    * results. Recursion matters for nested sources like the benchmark
    * stdout tree (per-date, per-pkg nested stdout files): adding or rewriting a
    * file two levels deep changes neither top-level entry count nor
    * top-level mtimes, so a flat listing would serve a silently stale
    * cached fact. `listFiles(recursive)` is one bounded enumeration:
    * microseconds on a local fs, one paged LIST on an object store —
    * cheap next to the parquet footer reads the cache avoids. Past the
    * bound the token degrades to "first N files + truncation marker":
    * still deterministic, but a mutation strictly beyond file N may
    * not re-key — acceptable for this engine's table dirs (single-digit
    * file counts per table at any SF; a 100 TB table dir's mutations
    * arrive as new part files, which move the count). Mtime is
    * millisecond-granular, so a same-millisecond same-length in-place
    * rewrite is (theoretically) invisible. Superseded (stale-token)
    * entries stay pinned until application end, same lifetime contract
    * as every other entry here. */
  val SnapshotMaxFiles = 8192

  def snapshot(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val scheme = Option(p.toUri.getScheme)
    // Local-path fast path: the Hadoop LocalFileSystem's recursive
    // listFiles materializes LocatedFileStatus rows whose permission
    // fields are loaded by SHELLING OUT per file (~8 ms each) — ~85 ms
    // per snapshot on a 10-file table dir, paid on EVERY sessionCached
    // lookup. A query that touches k cached artifacts pays k× that
    // (the round-15 attribution: dedup top-k consumers at ~6-8 lookups
    // ran 3-4× their r12 cost; every query pays at least one). NIO
    // stat calls read the same (count, max mtime, total bytes) in
    // ~0.1 ms with no process forks. Non-local schemes (object
    // stores, HDFS) keep the Hadoop listing — there a LIST round-trip
    // is the honest cost and NIO cannot see the store at all.
    if (scheme.forall(_ == "file"))
      try {
        val root = java.nio.file.Paths.get(p.toUri.getPath)
        val walk = java.nio.file.Files.walk(root)
        try {
          var n = 0L; var mt = 0L; var len = 0L; var trunc = false
          val it = walk.iterator()
          while (it.hasNext && !trunc) {
            val f = it.next()
            val attrs = java.nio.file.Files.readAttributes(
              f, classOf[java.nio.file.attribute.BasicFileAttributes])
            if (attrs.isRegularFile) {
              n += 1
              val m = attrs.lastModifiedTime().toMillis
              if (m > mt) mt = m
              len += attrs.size()
              if (n >= SnapshotMaxFiles && it.hasNext) trunc = true
            }
          }
          s"$n:$mt:$len${if (trunc) ":trunc" else ""}"
        } finally walk.close()
      } catch {
        case _: java.nio.file.NoSuchFileException => "absent"
        case _: java.io.FileNotFoundException => "absent"
      }
    else {
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      try {
        val it = fs.listFiles(p, true)
        var n = 0L; var mt = 0L; var len = 0L
        while (it.hasNext && n < SnapshotMaxFiles) {
          val s = it.next()
          n += 1
          if (s.getModificationTime > mt) mt = s.getModificationTime
          len += s.getLen
        }
        val trunc = if (it.hasNext) ":trunc" else ""
        s"$n:$mt:$len$trunc"
      } catch { case _: java.io.FileNotFoundException => "absent" }
    }
  }

  /** Cache key for a DataFrame derived from `dir`'s data, stamped with
    * the dir's [[snapshot]] token. */
  private def stamped(spark: SparkSession, dir: String, suffix: String): String =
    s"$dir@${snapshot(spark, dir)}#$suffix"

  /** The derived artifact `name` of `dir`'s data (the bench fact, the
    * dedup class, shingle and band tables, graph edges, trained
    * codebooks): built once per (session, dir snapshot), its build time
    * logged, and every block the build persists pinned against
    * [[releaseTransients]]. This is the one place that decides how a
    * derived table is kept.
    *
    * The result is `localCheckpoint`ed: executor block storage with
    * TRUNCATED lineage, free on local[*]. A build that already ends in
    * a checkpoint (an iterative loop checkpoints per round) keeps it:
    * that checkpoint IS the artifact. Every runner builds a `local[N]`
    * session, where a lost block means a lost driver and with it the
    * artifact map, so a durable copy would protect against nothing.
    * Base TABLE scans never route through here (the source parquet is
    * already durable). */
  def artifact(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    sessionCached(spark, stamped(spark, dir, name)) {
      val df = build
      if (isCheckpoint(df)) df else df.localCheckpoint()
    }

  /** UNCOMPRESSED bytes per partition for a warm-mode checkpointed
    * table (from parquet footer row-group metadata — no Spark job).
    * Why uncompressed bytes and not rows or file size: the funnel
    * class this exists for (r13: fairness_audit 738 s / stickiness
    * 357 s single-task warm at 16×) is narrow stages DOWNSTREAM of a
    * scan pinned to ~1 partition, and what predicts their cost is the
    * DATA VOLUME flowing through them — a 16×-replicated documents
    * table is 29 MB uncompressed (wants wide) but only 1 MB on disk
    * (dictionary-compressed copies) and 80k rows, while sf0.1 events
    * is 100k rows but 2.6 MB uncompressed (trivial per task). The
    * first size-aware draft used rows/4096 and made every sf0.1
    * events/orders consumer pay ~25 near-empty tasks at ~25 ms each —
    * st_hourly_profile 2× worse, measured same-JVM. 2 MB/partition
    * keeps every sf0.1 table within 1 partition of its natural scan
    * (r12 shape, zero added scheduling) while 16×/64× documents and
    * events checkpoint 13–32-way. */
  val WarmBytesPerPartition = 2L << 20

  /** Warm-mode partition target for a parquet table: total uncompressed
    * row-group bytes from footer metadata, one partition per
    * [[WarmBytesPerPartition]], clamped to [1, defaultParallelism]. */
  def warmPartitions(spark: SparkSession, path: String): Int = {
    val bytes =
      try parquetUncompressedBytes(spark, path)
      catch { case _: Exception => 0L }
    val want = (bytes + WarmBytesPerPartition - 1) / WarmBytesPerPartition
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong, want)).toInt
  }

  /** `read` applied to the footer of each data file of a parquet file
    * or dir of part files, lazily, in listing order — metadata only, no
    * Spark job. */
  private def parquetFooters[T](spark: SparkSession, path: String)(
      read: org.apache.parquet.hadoop.ParquetFileReader => T): Iterator[T] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter { s =>
          val n = s.getPath.getName
          s.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
      else Array(fs.getFileStatus(p))
    files.iterator.map { st =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try read(r) finally r.close()
    }
  }

  /** Σ row-group `totalByteSize` (uncompressed) over a parquet file or
    * dir of part files. */
  def parquetUncompressedBytes(spark: SparkSession, path: String): Long =
    parquetFooters(spark, path)(_.getFooter.getBlocks.asScala.map(_.getTotalByteSize).sum).sum

  /** Row count of a parquet file (or dir of part files) from its
    * footers. Parquet footers carry exact record counts, so this equals
    * `spark.read.parquet(path).count()` for any unfiltered scan. Used
    * by fail-fast guards (e.g. the all-pairs baseline in
    * [[graft.llm.Dedup.ddEmbeddingNear]]) where launching a count job
    * just to decide whether to refuse a bigger job defeats the point. */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    parquetFooters(spark, path)(_.getRecordCount).sum

  /** True iff the first data file of `path` annotates column `col` as
    * TIMESTAMP(NANOS). Used to verify the [[events]] long-vintage
    * dispatch: a long `ts` is divided by 1000 ONLY when the footer
    * proves nanos; a future fixture storing plain INT64 micros would
    * otherwise be silently divided into garbage. */
  private def parquetTsIsNanos(
      s: SparkSession, path: String, col: String): Boolean =
    parquetFooters(s, path) { r =>
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val schema = r.getFooter.getFileMetaData.getSchema
      schema.containsField(col) &&
      (schema.getType(Seq(col): _*).getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
    }.nextOption().contains(true)

  /** One parquet-backed DataFrame per (session, dir, table), built once
    * and reused by every query in the session. Reuse keeps the resolved
    * file index and inferred schema (file listing + footer reads
    * otherwise repeat on EVERY `spark.read.parquet` call — measurable
    * fixed overhead across a 73-query run) while staying a real
    * parquet scan, so per-query column pruning and filter pushdown
    * still reach the source.
    *
    * `graft.tableCache` has two states. Unset (Verify), tables are raw
    * scans. `-Dgraft.tableCache=checkpoint` additionally materializes
    * the table via localCheckpoint — warm-data mode for repeated-query
    * benchmarking (graft.Bench and the perfbench harness set it).
    * Deliberately NOT the default:
    * a checkpointed table is all columns in block storage, which hides
    * scan pruning from plan audits and is the wrong trade for a
    * one-pass query over a 100 TB table.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    sessionCached(spark, stamped(spark, dir, name)) {
      // every query path starts here, so it's the one place that makes
      // the engine's native functions resolvable by name in a session
      graft.functions.GraftExtensions.register(spark)
      val path = s"$dir/$name.parquet"
      val df = spark.read.parquet(path)
      // Warm mode repartitions BEFORE checkpointing when — and only
      // when — the raw scan is under-parallel for the table's size:
      // localCheckpoint freezes the scan's partitioning, and a
      // replicated fixture written as one parquet row-group pins the
      // whole table to ~1 partition — every downstream consumer then
      // runs its narrow stages single-task (the r13 16×/64× funnel
      // class: jstack'd single workers under fairness_audit 738 s /
      // stickiness 357 s warm at 16× while the host sat at load 1.5).
      // The first fix (r13 snapshot commit) repartitioned EVERY table
      // to defaultParallelism: that made 3-row dim queries pay ~32-task
      // scheduling per scan stage and regressed the official suite
      // 3.3× (BENCH_r13, r13 verdict finding 1). Size-aware target +
      // the `> scan partitions` guard keeps small tables shuffle-free
      // at their natural partitioning while replicated big tables
      // still checkpoint wide. The correctness gate (Verify) keeps raw
      // scans, so pushdown plans stay audited.
      //
      // INVARIANT (load-bearing, per the r13 advice): warm mode may
      // present any partitioning/row order to a query, so every
      // registry query must be partition-order-insensitive — sums are
      // DECIMAL-routed or order-free, outputs fully ordered or
      // set-compared. WarmRawParitySpec spot-checks warm-vs-raw result
      // hashes so a future order-sensitive query can't silently report
      // warm timings for different results.
      if (sys.props.get("graft.tableCache").contains("checkpoint")) {
        val target = warmPartitions(spark, path)
        val scanParts = df.rdd.getNumPartitions
        (if (target > scanParts) df.repartition(target) else df)
          .localCheckpoint()
      } else df
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) — which
    * the vectorized reader rejects, so it's read as long via the
    * legacy conf and truncated to micros — and plain TIMESTAMP(MICROS)
    * (the driver regenerates the fixture between rounds). Dispatch on
    * the resolved type so either vintage loads; sub-microsecond
    * precision is not used by any query semantics here. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→LTZ cast below (and every downstream date_format /
    // window bucket) is only correct under UTC. Every in-repo entry
    // point pins it, but an external caller's session may not — pin
    // it here too so events semantics never depend on the host TZ.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // long ts only ever means parquet TIMESTAMP(NANOS) read via
        // the legacy conf; prove it from the footer before truncating.
        // A zero-row table is exempt — the truncation is vacuous and
        // schema-only fixtures legitimately write raw INT64.
        require(parquetTsIsNanos(s, s"$d/events.parquet", "ts")
            || parquetRowCount(s, s"$d/events.parquet") == 0,
          s"events.ts at $d is INT64 but not parquet TIMESTAMP(NANOS); "
            + "refusing the nanos->micros truncation")
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // micros already; NTZ → LTZ is identity under the UTC session TZ
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
