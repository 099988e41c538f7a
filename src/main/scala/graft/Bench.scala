package graft
object Bench {
  def main(args: Array[String]): Unit = {
    // warm-data mode (default): base tables localCheckpoint once per
    // (session, dir) so timed iterations measure query execution, not
    // repeated parquet decode (see Tables.table; Verify keeps raw scans
    // so the correctness gate exercises pushdown plans).
    // SPARK_GRAFT_BENCH_MODE=cold keeps raw parquet scans and skips the
    // bench-SF warm pass, so the timed pass pays parquet decode AND the
    // session-cached index builds — the metric that keeps index-build
    // cost regressions visible (BASELINE.md records both totals).
    val cold = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("cold")
    if (!cold && !sys.props.contains("graft.tableCache"))
      sys.props("graft.tableCache") = "checkpoint"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    // Untimed warmup: a small-SF pass compiles every query's codegen,
    // then one pass at the bench SF itself JITs the hot loops at real
    // data shapes — the timed pass below measures steady-state
    // throughput, not classloading or interpreter-tier execution.
    // The SPARK_GRAFT_ONLY name filter (shared with Verify) applies to
    // the warm passes too, so an isolated run never pays a full-suite
    // warm pass at the bench SF.
    val selected = SparkEntry.selectedQueries
    // Between queries, drop per-query transient checkpoint blocks
    // (session-cached artifacts stay pinned — see Tables.releaseTransients).
    // Without this, ~12k block sets accumulate across 190 queries ×
    // (warm + timed) passes and block-manager/GC pressure inflates
    // late-suite medians up to 16× their isolated cost (round-7
    // verdict) — the suite must measure plans, not harness state.
    def release(): Unit = graft.sources.Tables.releaseTransients(spark)
    // Per-query progress journal (append-only, name + pass + seconds):
    // the r12 lesson — a full-scale draw that wedges mid-pass is
    // unattributable from the outside (stdout is one line at the end,
    // per-query detail exists only post-hoc), so a 2-hour 64× draw had
    // to be killed blind. The journal names the in-flight query at any
    // moment and doubles as a per-pass cost record.
    val progressPath = java.nio.file.Paths.get("target", "bench_progress.log")
    try {
      java.nio.file.Files.createDirectories(progressPath.getParent)
      java.nio.file.Files.deleteIfExists(progressPath)
    } catch { case _: Throwable => }
    // Locale.ROOT: the f interpolator is default-locale-sensitive — on
    // a comma-decimal locale the journal would write "1,23" and break
    // every downstream parse. One line: `tag name sec[ Root: msg]`.
    def journal(tag: String, name: String, sec: Double, note: String = ""): Unit =
      try java.nio.file.Files.writeString(progressPath,
        String.format(java.util.Locale.ROOT, "%s %s %.2f%s%n", tag, name,
          Double.box(sec), note),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => }
    // Artifact-build attribution (round-12 verdict item 4): cold-mode
    // draws bill a whole session-cached family's build to whichever
    // query touches it first (llm_dd_jaccard_est "578 s" at 64x cold
    // was mostly the dd class/shingle/band bootstrap). Journaling each
    // build by key makes cold regressions diffable per artifact; the
    // same entries fill bench_last.json's `builds` table.
    val buildTimes = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    graft.sources.Tables.onArtifactBuild = { (key, sec) =>
      buildTimes.add(key -> sec)
      journal("build", key.replace(' ', '_'), sec)
    }
    // A FAIL line that records only wall-time is unattributable after
    // the fact (the r13 64x attempt-1 journal has seven ~400s dd FAILs
    // with no way to tell an intentional fail-fast fence from an OOM):
    // append the root-cause class + first message line to FAIL records.
    def errSummary(e: Throwable): String = {
      var root = e
      while (root.getCause != null && (root.getCause ne root)) root = root.getCause
      val msg = Option(root.getMessage).getOrElse("")
        .takeWhile(_ != '\n').take(160).replaceAll("\\s+", " ")
      s" ${root.getClass.getSimpleName}: $msg"
    }
    // One timed call: an in-flight marker (-1.00, names a wedge), then
    // the wall seconds under `tag`, or under `tag-FAIL` with the root
    // cause if `f` throws, so a fast failure is never mistaken for a
    // fast pass. Returns the seconds of a pass, None for a failure.
    def timed(tag: String, name: String)(f: => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      journal(tag, name, -1.0)
      val err = try { f; None } catch { case e: Throwable => Some(e) }
      val sec = (System.nanoTime() - t0) / 1e9
      err.fold(journal(tag, name, sec))(e => journal(s"$tag-FAIL", name, sec, errSummary(e)))
      if (err.isEmpty) Some(sec) else None
    }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      selected.foreach { case (name, fn) =>
        timed("warm-sf0.001", name)(fn(spark, warmDir).count())
        release()
      }
      // The sf0.001 pass exists only to compile codegen; its
      // checkpointed tables and session-cached index builds are never
      // read again, yet they'd stay pinned across the entire bench-SF
      // warm + timed passes — roughly half the block sets a full-suite
      // session holds. Evict the whole warm-dir artifact family before
      // any timed work (round-10 verdict: board-wide timed mins rose
      // 10-40% under 357 queries' coexisting cached artifacts).
      graft.sources.Tables.releaseScope(spark, warmDir)
    }
    if (!cold)
      selected.foreach { case (name, fn) =>
        timed("warm-bench-sf", name)(fn(spark, sfDir).count())
        release()
      }
    // Timed pass: N draws per query (median reported). The sandbox
    // host's throughput fluctuates 3-5x on long shuffle-heavy jobs, so
    // a single draw is indistinguishable from noise; the median of 3
    // is the number a plan regression actually moves. Cold mode stays
    // single-draw by default — its point is the first-run index-build
    // cost, which later same-session draws no longer pay.
    val iters = sys.env.get("SPARK_GRAFT_BENCH_ITERS").map(_.toInt)
      .getOrElse(if (cold) 1 else 3)
    // A failed draw's seconds time a throw, not the query: only passing
    // draws enter the median, the min and the total. `failed` counts the
    // rest; a query with no passing draw reports null seconds.
    final case class Draws(runs: Seq[Double], failed: Int) {
      def median: Option[Double] = if (runs.isEmpty) None else {
        val s = runs.sorted
        Some(if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
      }
    }
    val results = selected.map { case (name, fn) =>
      val runs = (1 to iters).map(i => timed(s"timed-$i", name)(fn(spark, sfDir).count()))
      release()
      name -> Draws(runs.flatten, runs.count(_.isEmpty))
    }
    def sec(x: Option[Double]): String =
      x.fold("null")(v => String.format(java.util.Locale.ROOT, "%.4f", Double.box(v)))
    val qs = results.map { case (k, d) =>
      val rs = d.runs.map(r => sec(Some(r))).mkString("[", ",", "]")
      s""""$k":{"median":${sec(d.median)},"min":${sec(d.runs.minOption)},"runs":$rs,"failed":${d.failed}}"""
    }.mkString("{", ",", "}")
    val total = results.values.flatMap(_.median).sum
    val failed = results.values.map(_.failed).sum
    val totalR = math.round(total * 1000) / 1000.0
    // JVM session-state telemetry: the q12 lesson (r8/r11/r12) — a
    // cheap query flagging in SOME full-suite sessions with tight
    // spreads, irreproducible in any subset, points at whole-session
    // JVM accumulation (JIT code cache filled by ~750 codegen classes
    // → late compilations stay interpreted; old-gen growth → GC tax).
    // Recording both per draw lets a flagged draw self-attribute
    // instead of costing another round of isolated re-draws.
    import scala.jdk.CollectionConverters._
    // -XX:-SegmentedCodeCache JVMs expose ONE pool named "CodeCache"
    // (no "CodeHeap" prefix), and a pool with undefined max reports
    // getMax = -1 — both would silently zero/corrupt the telemetry
    // this block exists to provide, so match both names and clamp
    // negative maxima out of the sum.
    val cc = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(p => p.getName.startsWith("CodeHeap")
        || p.getName == "CodeCache")
    val ccUsedMb = cc.map(_.getUsage.getUsed.max(0L)).sum / 1048576
    val ccMaxMb = cc.map(_.getUsage.getMax.max(0L)).sum / 1048576
    val gcMs = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Artifact-build table: key shortened to dir-basename#suffix (the
    // snapshot stamp is session noise); repeated keys (per-dir scans)
    // keep their max observed build time.
    val builds = buildTimes.asScala.toSeq
      .map { case (k, s) =>
        val short = k.replaceAll("@[^#]*#", "#")
          .reverse.takeWhile(_ != '/').reverse
        short -> s
      }
      .groupMapReduce(_._1)(_._2)(math.max)
      .toSeq.sortBy(-_._2)
      .map { case (k, s) =>
        val kq = k.replace("\\", "\\\\").replace("\"", "\\\"")
        String.format(java.util.Locale.ROOT, "\"%s\":%.3f", kq,
          Double.box(s)) }
      .mkString("{", ",", "}")
    // The full record (jvm block, artifact builds) goes to disk only;
    // stdout lines stay short (the harness tails stdout with a bounded
    // buffer, so the final line must stay well under that bound).
    val fileJson =
      s"""{"metric":"total","value":$total,"unit":"sec","iters":$iters,"failed":$failed,"queries":$qs,"sf":"$sfDir","jvm":{"code_cache_used_mb":$ccUsedMb,"code_cache_max_mb":$ccMaxMb,"gc_ms":$gcMs},"builds":$builds}"""
    try {
      val p = java.nio.file.Paths.get("target", "bench_last.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, fileJson)
    } catch { case _: Throwable => }
    spark.stop()
    // Driver-facing telemetry (additions only; the timed loop above is
    // untouched): one compact {"metric":"query",...} line per query,
    // then the total line exactly once, as the final line, so it sits
    // inside any bounded tail window of stdout.
    results.foreach { case (name, d) =>
      println(
        s"""{"metric":"query","name":"$name","median":${sec(d.median)},"min":${sec(d.runs.minOption)},"failed":${d.failed}}""")
    }
    println(
      s"""{"metric":"total","value":$totalR,"unit":"sec","n_queries":${results.size},"iters":$iters,"failed":$failed,"sf":"$sfDir"}""")
  }
}
