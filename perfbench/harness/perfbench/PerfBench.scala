package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.operators.BenchSinks
import graft.sources.{BenchIngest, Tables}

/** The JVM side of the benchmark: one workload, one client, a closed
  * loop. `run.py` generates the inputs, starts this with a plan file
  * (java properties), and checks every output it leaves behind.
  *
  * The timed window holds only the op itself. Input rotation, the
  * correctness draws and the traced layer calls all run outside it.
  */
object PerfBench {

  final case class Op(id: String, name: String, sec: Double, ok: Boolean,
                      rows: Long, err: String)

  def main(args: Array[String]): Unit = {
    val props = new Properties()
    val reader = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(reader) finally reader.close()
    val plan = new Plan(props)
    val spark = session(plan.cpus, plan("work"))
    val report = new Report
    val tracer = new Tracer(spark)
    plan("workload") match {
      case "registry" => new RegistryRun(spark, plan, tracer, report).run()
      case _          => new PublishRun(spark, plan, tracer, report).run()
    }
    Files.writeString(Paths.get(plan("out")), report.json(tracer.spans.toSeq))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Heap in use after a full collection: what the run retains. The
    * least of five readings, because Spark's cleaner threads release
    * state asynchronously between collections. */
  def liveHeapMb(): Double =
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def errText(e: Throwable): String = {
    var root = e
    while (root.getCause != null && (root.getCause ne root)) root = root.getCause
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("")}"
      .takeWhile(_ != '\n').take(200)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Runs `step` back to back until `seconds` of wall time have passed
    * and the op count is a multiple of `cycle`, or until `step` reports
    * that its inputs ran out. */
  def closedLoop(seconds: Double, cycle: Int = 1)(step: Int => Option[Op]): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var going = true
    while (going && ((System.nanoTime() - t0) / 1e9 < seconds || ops.size % cycle != 0))
      step(ops.size) match {
        case Some(op) => ops += op
        case None     => going = false
      }
    ops.toSeq
  }
}

final class Plan(props: Properties) {
  def apply(k: String): String =
    Option(props.getProperty(k)).getOrElse(sys.error(s"plan lacks '$k'"))
  def int(k: String): Int = apply(k).toInt
  def cpus: Int = int("cpus")
  def seconds: Double = apply("seconds").toDouble
  def traced: Boolean = apply("trace") == "1"
  /** Wall-clock epoch (ms) at which set-up began, taken by run.py. */
  def setupEpochMs: Long = apply("setup_epoch_ms").toLong
}

/** Spans around calls into the program, each with its own Spark job
  * group so [[GroupCounters]] can bill jobs to it. Off by default, so
  * the untraced path runs the same code with nothing recorded. */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, op: String, name: String,
                        startNs: Long, endNs: Long) {
    def sec: Double = (endNs - startNs) / 1e9
    def group: String = s"span-$id"
  }
  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List.empty[Int]

  def apply[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      sc.setJobGroup(s"span-$id", name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "")
          case None    => sc.clearJobGroup()
        }
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

/** Spark listener counters keyed by job group. */
final class GroupCounters extends SparkListener {
  final class Acc {
    var jobs, stages = 0
    var runMs, cpuNs, shuffleBytes, schedWaitMs = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private val groups = mutable.HashMap[String, Acc]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val firstLaunch = mutable.HashMap[Int, Long]()

  def get(group: String): Acc = synchronized(groups.getOrElse(group, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        groups.getOrElseUpdate(g, new Acc).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    firstLaunch.getOrElseUpdate(e.stageId, e.taskInfo.launchTime)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = groups(g)
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      val a = groups(g)
      a.stages += 1
      for (sub <- info.submissionTime; first <- firstLaunch.get(info.stageId))
        a.schedWaitMs += math.max(0L, first - sub)
    }
  }
}

/** Layer figures for one span: the listener's counters over its wall time. */
final case class LayerFigures(selfS: Double, jobs: Int, stages: Int, execCpuS: Double,
                              busyRatio: Double, taskSkew: Double, shuffleMb: Double,
                              schedWaitS: Double, runS: Double)

object LayerFigures {
  def of(a: GroupCounters#Acc, wallS: Double, selfS: Double, slots: Int): LayerFigures = {
    val med = PerfBench.median(a.taskMs.map(_.toDouble).toSeq)
    LayerFigures(selfS, a.jobs, a.stages, a.cpuNs / 1e9,
      if (wallS > 0) a.runMs / 1000.0 / (wallS * slots) else 0.0,
      if (a.taskMs.isEmpty) 0.0 else a.taskMs.max / math.max(med, 1.0),
      a.shuffleBytes / 1048576.0, a.schedWaitMs / 1000.0, a.runMs / 1000.0)
  }
}

/** Everything the run reports, serialized to the JSON file run.py reads. */
final class Report {
  var setupS = 0.0
  var liveHeapMb = 0.0
  val warm = mutable.ArrayBuffer[PerfBench.Op]()
  val ops = mutable.ArrayBuffer[PerfBench.Op]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val selected = mutable.ArrayBuffer[String]()

  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def opJson(o: PerfBench.Op): String =
    s"""{"id":${q(o.id)},"name":${q(o.name)},"s":${num(o.sec)},"ok":${o.ok},"rows":${o.rows},"err":${q(o.err)}}"""

  def json(spans: Seq[Tracer#Span]): String = {
    val ls = layers.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    val ss = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${q(s.op)},"name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[", ",", "]")
    s"""{"setup_s":${num(setupS)},"live_heap_mb":${num(liveHeapMb)},""" +
      s""""warm":${warm.map(opJson).mkString("[", ",", "]")},""" +
      s""""ops":${ops.map(opJson).mkString("[", ",", "]")},""" +
      s""""selected":${selected.map(q).mkString("[", ",", "]")},""" +
      s""""layers":$ls,"spans":$ss}"""
  }
}

/** publish_history: one op is the nightly publish of a stdout tree —
  * ingest once, then the series files and the catalog into a fresh
  * deploy dir. Before each op after the first, the next
  * day's snapshot moves in from the staging pool and the oldest day is
  * dropped, so every op sees a new tree of the same size. */
final class PublishRun(var spark: SparkSession, plan: Plan, tracer: Tracer, report: Report) {
  import PerfBench._

  private val input = Paths.get(plan("input"))
  private val staging = Paths.get(plan("staging"))
  private val deploy = Paths.get(plan("deploy"))
  private val days = plan("days").split(',').toSeq
  private val window = plan.int("window")
  private var published = 0 // ops run so far, warm-up included

  /** Moves the window one day on; false once the staging pool is spent. */
  private def rotate(): Boolean =
    if (published == 0) true
    else if (published + window > days.size) false
    else {
      val in = days(published + window - 1)
      Files.move(staging.resolve(in), input.resolve(in))
      deleteTree(input.resolve(days(published - 1)))
      true
    }

  private def publish(opId: String, out: String): Unit = {
    val fact = tracer("sources.ingest", opId)(BenchIngest.ingest(spark, input.toString))
    tracer("operators.series_sink", opId)(BenchSinks.writeSeriesJsonExact(fact, out))
    tracer("operators.catalog_sink", opId)(
      BenchSinks.writeCatalogJson(fact, s"$out/test_names.json"))
  }

  /** One op on the next window; its deploy dir is named by the op's
    * index in the rotation, which run.py maps back to the window. */
  private def step(): Option[Op] =
    if (!rotate()) None
    else {
      val k = published
      published += 1
      val id = k.toString
      val (err, sec) = time {
        try { tracer("op", id)(publish(id, deploy.resolve(id).toString)); "" }
        catch { case e: Throwable => errText(e) }
      }
      Some(Op(id, "publish", sec, err.isEmpty, 0L, err))
    }

  def run(): Unit = {
    (1 to plan.int("warmup")).foreach { _ =>
      step().foreach { o => report.warm += o; deleteTree(deploy.resolve(o.id)) }
    }
    report.setupS = (System.currentTimeMillis() - plan.setupEpochMs) / 1000.0
    if (!plan.traced) {
      report.ops ++= closedLoop(plan.seconds)(_ => step())
      report.liveHeapMb = liveHeapMb()
    } else traced()
  }

  /** Half the window untraced, half with spans and listener counters,
    * then the isolated layer calls, then one op at local[1]. */
  private def traced(): Unit = {
    val plain = closedLoop(plan.seconds / 2)(_ => step())
    val counters = new GroupCounters
    spark.sparkContext.addSparkListener(counters)
    tracer.on = true
    val spanned = closedLoop(plan.seconds / 2)(_ => step())
    report.ops ++= plain ++ spanned
    val reps = 3
    (0 until reps).foreach(isolated)
    tracer.on = false
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val L = report.layers
    L("trace.overhead_ratio") =
      median(spanned.map(_.sec)) / math.max(median(plain.map(_.sec)), 1e-9)
    Seq("sources.ingest" -> "op.ingest_s", "operators.series_sink" -> "op.series_sink_s",
      "operators.catalog_sink" -> "op.catalog_sink_s").foreach { case (span, key) =>
      L(key) = median(tracer.named(span).filter(_.op.forall(_.isDigit)).map(_.sec))
    }
    val layerNames = Seq("sources.list", "sources.read", "sources.ingest",
      "operators.series_sink", "operators.catalog_sink")
    val figs = (0 until reps).map { r =>
      val bySpan = layerNames.map { n =>
        n -> tracer.named(n).find(_.op == s"iso$r").get
      }.toMap
      val selfOf = layerNames.map { n =>
        val own = bySpan(n).sec
        n -> (if (n == "sources.ingest")
          own - bySpan("sources.list").sec - bySpan("sources.read").sec
        else own)
      }.toMap
      layerNames.map { n =>
        val s = bySpan(n)
        n -> LayerFigures.of(counters.get(s.group), s.sec, selfOf(n), plan.cpus)
      }.toMap
    }
    layerNames.foreach { n =>
      def m(f: LayerFigures => Double): Double = median(figs.map(r => f(r(n))))
      L(s"$n.self_s") = m(_.selfS)
      L(s"$n.jobs") = m(_.jobs)
      L(s"$n.stages") = m(_.stages)
      L(s"$n.exec_cpu_s") = m(_.execCpuS)
      L(s"$n.busy_ratio") = m(_.busyRatio)
      L(s"$n.task_skew") = m(_.taskSkew)
      L(s"$n.shuffle_mb") = m(_.shuffleMb)
      L(s"$n.sched_wait_s") = m(_.schedWaitS)
    }
    report.liveHeapMb = liveHeapMb()
    L("trace.local1_op_s") = local1()
  }

  /** The five layer calls one at a time; the sinks read a materialized
    * fact table so lazy evaluation does not bill ingest to them. */
  private def isolated(r: Int): Unit = {
    val op = s"iso$r"
    val root = input.toString
    val out = deploy.resolve(op)
    val raw = tracer("sources.list", op)(BenchIngest.rawLines(spark, root))
    tracer("sources.read", op)(raw.count())
    val fact = tracer("sources.ingest", op)(BenchIngest.ingest(spark, root).localCheckpoint())
    tracer("operators.series_sink", op)(BenchSinks.writeSeriesJsonExact(fact, out.toString))
    tracer("operators.catalog_sink", op)(
      BenchSinks.writeCatalogJson(fact, s"$out/test_names.json"))
    if (r == 0) {
      val L = report.layers
      val lines = raw.filter(col("line").startsWith("Benchmark")).count().toDouble
      val rows = fact.count().toDouble
      val written = Files.walk(out).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      L("sources.files_listed") = raw.inputFiles.length
      L("sources.bench_lines") = lines
      L("sources.fact_rows") = rows
      L("sources.useful_ratio") = if (lines > 0) rows / lines else 0.0
      L("operators.files_written") = written.size
      L("operators.bytes_written") = written.map(Files.size).sum.toDouble
    }
    Tables.releaseTransients(spark)
    deleteTree(out)
  }

  /** One op on a fresh local[1] session: the single-thread baseline. */
  private def local1(): Double = {
    spark.stop()
    spark = PerfBench.session(1, plan("work"))
    val o = step()
    o.foreach(x => deleteTree(deploy.resolve(x.id)))
    o.filter(_.ok).map(_.sec).getOrElse(0.0)
  }
}

/** registry: one fixed query from each registry family, drawn in
  * cycles. One draw builds the query and consumes every row
  * through the `noop` sink, counted by an observation; run.py takes one
  * cycle over all twelve queries as one op. */
final class RegistryRun(spark: SparkSession, plan: Plan, tracer: Tracer, report: Report) {
  import PerfBench._

  type Query = (SparkSession, String) => DataFrame
  /** The registry maps, in `SparkEntry.queries` order, by layer name. */
  val families: Seq[(String, Map[String, Query])] = Seq(
    "operators.relational" -> graft.operators.RelationalQueries.registry,
    "operators.bench" -> graft.operators.BenchQueries.registry,
    "operators.functions" -> graft.operators.FunctionQueries.registry,
    "llm.text" -> graft.llm.TextAnalysis.registry,
    "llm.dedup" -> graft.llm.Dedup.registry,
    "llm.sampling" -> graft.llm.Sampling.registry,
    "llm.similarity" -> graft.llm.Similarity.registry,
    "llm.multimodal" -> graft.llm.Multimodal.registry,
    "llm.pipeline" -> graft.llm.Pipeline.registry,
    "llm.graph" -> graft.llm.Graph.registry,
    "llm.models" -> graft.llm.Models.registry,
    "streaming.window" -> graft.streaming.WindowQueries.registry)

  private val bench = plan("bench")

  /** `BenchFixture.shared` writes the fixture of the `operators.bench`
    * queries to a fixed absolute path, which need not lie inside the
    * checkout the benchmark runs in. So the fixture is written by
    * `BenchFixture.write` into the run dir instead, and the lazy value
    * is set to that root before any query reads it. */
  private def relocateFixture(root: String): Unit = {
    val cls = graft.sources.BenchFixture.getClass
    val value = cls.getDeclaredField("shared")
    val done = cls.getDeclaredField("bitmap$0")
    Seq(value, done).foreach(_.setAccessible(true))
    require(!done.getBoolean(null), "BenchFixture.shared was read before it was relocated")
    value.set(null, graft.sources.BenchFixture.write(root))
    done.setBoolean(null, true)
    require(graft.sources.BenchFixture.shared == root, "BenchFixture.shared was not relocated")
  }

  def run(): Unit = {
    relocateFixture(s"${plan("work")}/bench_fixture")
    // The same queries on every seed: the middle of each family's sorted
    // names. The seed drives the tables and the draw order.
    val picks: Seq[(String, String, Query)] = families.map { case (fam, reg) =>
      val names = reg.keys.toSeq.sorted
      val n = names(names.size / 2)
      (fam, n, reg(n))
    }
    report.selected ++= picks.map(_._2)
    val oracles = graft.SparkEntry.oracleSql
    Files.createDirectories(Paths.get(plan("results")))
    Files.writeString(Paths.get(plan("results"), "oracle_sql.json"),
      picks.flatMap { case (_, n, _) => oracles.get(n).map(sql => s"${report.q(n)}:${report.q(sql)}") }
        .mkString("{", ",", "}"))
    val builds = mutable.ArrayBuffer[Double]()
    if (plan.traced) Tables.onArtifactBuild = (_, sec) => builds.synchronized(builds += sec)
    sys.props("graft.tableCache") = "checkpoint"
    // Set-up: the first pass compiles every plan, builds the session
    // artifacts and writes each result for the oracle check in run.py;
    // the next passes warm the timed path.
    picks.foreach { case (_, n, fn) =>
      report.warm += attempt("check", n) {
        fn(spark, bench).coalesce(1).write.mode("overwrite").parquet(s"${plan("results")}/$n")
        -1L
      }
      Tables.releaseTransients(spark)
    }
    (1 until plan.int("warmup")).foreach { w =>
      picks.foreach { case (_, n, fn) =>
        report.warm += attempt(s"warm$w", n)(draw(fn(spark, bench)))
        Tables.releaseTransients(spark)
      }
    }
    report.setupS = (System.currentTimeMillis() - plan.setupEpochMs) / 1000.0
    val order = new Random(plan("seed").toLong).shuffle(picks)
    def step(i: Int): Option[Op] = {
      val (_, n, fn) = order(i % order.size)
      val op = attempt(s"draw$i", n)(tracer(n, s"draw$i")(draw(fn(spark, bench))))
      Tables.releaseTransients(spark)
      Some(op)
    }
    // Whole cycles only, so every picked query weighs the same.
    if (!plan.traced) {
      report.ops ++= closedLoop(plan.seconds, order.size)(step)
      report.liveHeapMb = liveHeapMb()
      return
    }
    val plain = closedLoop(plan.seconds / 2, order.size)(step)
    val counters = new GroupCounters
    spark.sparkContext.addSparkListener(counters)
    tracer.on = true
    val spanned = closedLoop(plan.seconds / 2, order.size)(i => step(plain.size + i))
    tracer.on = false
    report.ops ++= plain ++ spanned
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    report.liveHeapMb = liveHeapMb()
    val L = report.layers
    def perCycle(ops: Seq[Op]): Double = ops.map(_.sec).sum / math.max(1, ops.size / order.size)
    L("trace.overhead_ratio") = perCycle(spanned) / math.max(perCycle(plain), 1e-9)
    val failedIds = (plain ++ spanned).filterNot(_.ok).map(_.id).toSet
    // Each family is its one query: the median over its traced draws. The
    // failed draw count goes to the layer table, not to the metrics.
    picks.foreach { case (fam, n, _) =>
      val figs = tracer.named(n).filterNot(s => failedIds(s.op))
        .map(s => LayerFigures.of(counters.get(s.group), s.sec, s.sec, plan.cpus))
      def med(f: LayerFigures => Double): Double = median(figs.map(f))
      val wall = figs.map(_.selfS).sum
      L(s"$fam.self_s") = med(_.selfS)
      L(s"$fam.stages") = med(_.stages)
      L(s"$fam.sched_wait_s") = med(_.schedWaitS)
      L(s"$fam.shuffle_mb") = med(_.shuffleMb)
      L(s"$fam.busy_ratio") = if (wall > 0) figs.map(_.runS).sum / (wall * plan.cpus) else 0.0
      L(s"$fam.failed") = (plain ++ spanned).count(o => !o.ok && o.name == n)
    }
    L("sources.tables.build_s") = builds.sum
    L("sources.tables.builds") = builds.size
  }

  /** Consumes every row through the `noop` sink; returns the row count. */
  private def draw(df: DataFrame): Long = {
    val obs = Observation("rows")
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    Await.result(obs.future, 60.seconds).getAs[Long]("n")
  }

  private def attempt(id: String, name: String)(body: => Long): Op = {
    val (res, sec) = time {
      try Right(body) catch { case e: Throwable => Left(errText(e)) }
    }
    res match {
      case Right(rows) => Op(id, name, sec, ok = true, rows, "")
      case Left(err)   => Op(id, name, sec, ok = false, -1L, err)
    }
  }
}
