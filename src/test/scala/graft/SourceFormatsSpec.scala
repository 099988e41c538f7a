package graft

import org.apache.spark.sql.functions._

/** File-format scan breadth (SURVEY §2.7 row 1): the engine's tables
  * round-trip through csv and json sources with explicit schemas —
  * parquet and text are exercised everywhere else (Tables, BenchIngest,
  * BenchSinks).
  */
class SourceFormatsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sample = graft.sources.Tables.events(spark, sf0001)
    .select($"event_id", $"user_id", $"event_type", $"value")
    .orderBy($"event_id").limit(200)

  test("csv source round-trips with explicit schema and header") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    sample.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .option("header", "true").csv(dir)
    assert(back.orderBy($"event_id").collect().toSeq ==
      sample.collect().toSeq)
  }

  test("orc source round-trips losslessly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    sample.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.orderBy($"event_id").collect().toSeq ==
      sample.collect().toSeq)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    sample.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val one = spark.read.parquet(dir).filter($"event_type" === "click")
    // partition pruning: the physical scan must select only the
    // matching partition directory
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(one.count() == sample.filter($"event_type" === "click").count())
    assert(scan.contains("PartitionFilters") &&
      scan.contains("event_type"), s"no partition filter in:\n$scan")
  }

  test("json source round-trips with explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    sample.write.mode("overwrite").json(dir)
    val back = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(dir)
    assert(back.orderBy($"event_id").collect().toSeq ==
      sample.collect().toSeq)
  }

  private def checkpointRdds(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Files under the context's checkpoint dir (0 when none is set). */
  private def checkpointFiles(): Int = {
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    spark.sparkContext.getCheckpointDir
      .fold(0)(d => walk(new java.io.File(new java.net.URI(d).getPath)).size)
  }

  test("artifact memoizes and supports nested builds") {
    import graft.sources.Tables
    // nested: an artifact build may itself resolve artifacts (the LSH
    // band table builds from the class/shingle tables) — this used to
    // trip ConcurrentHashMap's recursive-update check
    val dir = tempDir("graft_artifact")
    var outerBuilds, innerBuilds = 0
    val outer = Tables.artifact(spark, dir, "outer") {
      outerBuilds += 1
      val inner = Tables.artifact(spark, dir, "inner") {
        innerBuilds += 1; spark.range(3).toDF()
      }
      inner.withColumn("x", org.apache.spark.sql.functions.lit(1))
    }
    assert(outer.count() == 3)
    assert(outer.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "the artifact must be materialized")
    val again = Tables.artifact(spark, dir, "outer") {
      outerBuilds += 1; spark.range(99).toDF()
    }
    assert(again eq outer, "second lookup must return the memoized frame")
    assert(outerBuilds == 1 && innerBuilds == 1)
    assert(Tables.artifact(spark, dir, "inner") {
      innerBuilds += 1; spark.range(99).toDF()
    }.count() == 3)
    assert(innerBuilds == 1)
  }

  test("artifact over a build that ends in a local checkpoint runs no extra job") {
    import graft.sources.Tables
    // the iterative loops (k-means centroids, PQ codebooks, dedup
    // clusters) checkpoint every round; in the default mode the last
    // round's checkpoint is the artifact, with no second copy
    val dir = tempDir("graft_artifact_loop")
    def loop() = spark.range(40).toDF("x").withColumn("y", col("x") % 7).localCheckpoint()
    val bare = jobsOf(loop())
    var built: org.apache.spark.sql.DataFrame = null
    val viaArtifact = jobsOf(Tables.artifact(spark, dir, "loop") { built = loop(); built })
    assert(viaArtifact == bare, s"artifact ran $viaArtifact jobs, the bare build $bare")
    assert(Tables.artifact(spark, dir, "loop")(loop()) eq built,
      "the build's own checkpoint must be the artifact")
    assert(built.count() == 40)
  }

  test("releaseTransients leaves an artifact's blocks alone") {
    import graft.sources.Tables
    val dir = tempDir("graft_artifact_pin")
    val art = Tables.artifact(spark, dir, "pinned")(spark.range(50).toDF("x"))
    val transient = spark.range(7).toDF("y").localCheckpoint()
    val (artIds, transientIds) =
      (checkpointRdds(art).map(_.id), checkpointRdds(transient).map(_.id))
    assert(artIds.nonEmpty && transientIds.nonEmpty)
    Tables.releaseTransients(spark)
    val live = spark.sparkContext.getPersistentRDDs
    assert(artIds.forall(live.contains), "releaseTransients dropped an artifact")
    assert(!transientIds.exists(live.contains), "the transient was not released")
    assert(art.count() == 50)
  }

  test("releaseScope frees one dir's artifacts and keeps another's") {
    import graft.sources.Tables
    val (dirA, dirB) = (tempDir("graft_scope_a"), tempDir("graft_scope_b"))
    val a = Tables.artifact(spark, dirA, "t")(spark.range(30).toDF("x"))
    val b = Tables.artifact(spark, dirB, "t")(spark.range(40).toDF("x"))
    val (aIds, bIds) = (checkpointRdds(a).map(_.id), checkpointRdds(b).map(_.id))
    assert(aIds.nonEmpty && bIds.nonEmpty)
    Tables.releaseScope(spark, dirA)
    Tables.releaseTransients(spark)
    val live = spark.sparkContext.getPersistentRDDs
    assert(!aIds.exists(live.contains), "dirA's artifact blocks survived its scope")
    assert(bIds.forall(live.contains), "releasing dirA dropped dirB's artifact")
    assert(b.count() == 40)
    var rebuilt = false
    Tables.artifact(spark, dirA, "t") { rebuilt = true; spark.range(30).toDF("x") }
    assert(rebuilt, "a released key must build again")
  }

  /** One breadth-first round over a small graph, in the shape of the
    * engine's BFS loops: the nodes one hop past the last level. */
  private def bfsEdges = Seq((0L, 1L), (1L, 2L), (1L, 3L), (3L, 4L), (4L, 0L),
    (2L, 5L), (5L, 6L), (7L, 8L)).toDF("src", "dst")

  private def bfsRound(h: Int, visited: org.apache.spark.sql.DataFrame) =
    visited.unionAll(bfsEdges
      .join(visited.filter($"hop" === h - 1).select($"node".as("src")), "src")
      .select($"dst".as("node")).distinct()
      .join(visited.select($"node"), Seq("node"), "left_anti")
      .select($"node", lit(h).as("hop")))

  test("rounds gives the rows of the same loop written by hand") {
    import graft.sources.Tables
    val seed = Seq(0L).toDF("node").select($"node", lit(0).as("hop"))
    var byHand = seed
    for (h <- 1 to 4) byHand = bfsRound(h, byHand)
    val got = Tables.rounds(seed, 4)(bfsRound)
    val rows = (d: org.apache.spark.sql.DataFrame) =>
      d.orderBy($"hop", $"node").collect().toSeq
    assert(rows(got) == rows(byHand))
    assert(rows(got).map(_.getInt(1)) == Seq(0, 1, 2, 2, 3, 3, 4))
    assert(Tables.rounds(seed, 0)(bfsRound).count() == 1)
  }

  test("after rounds returns only the result's checkpoint is persisted") {
    import graft.sources.Tables
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val seed = Seq(0L).toDF("node").select($"node", lit(0).as("hop"))
    val out = Tables.rounds(seed, 4)(bfsRound)
    val fresh = sc.getPersistentRDDs.keySet -- before
    assert(fresh == checkpointRdds(out).map(_.id).toSet,
      s"persisted after rounds: $fresh, result's checkpoint: " +
        checkpointRdds(out).map(_.id))
    assert(out.count() == 7)
  }

  test("reliable cache mode writes artifacts to disk and survives block loss") {
    import graft.sources.Tables
    // -Dgraft.tableCache=reliable:
    // derived artifacts checkpoint to the reliable checkpoint FS
    // instead of executor block storage, so on a real cluster an
    // executor loss doesn't strand a warm pipeline mid-job. Local
    // proof: the checkpoint files exist on disk, and after dropping
    // every cached block the frame still answers from those files.
    sys.props("graft.tableCache") = "reliable"
    try {
      val dir = tempDir("graft_artifact_reliable")
      val df = Tables.artifact(spark, dir, "plain")(
        spark.range(10).toDF("x").withColumn("y", col("x") * 2))
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable mode must set a checkpoint dir")
      assert(checkpointFiles() > 0, "no files under the checkpoint dir")
      // simulate executor loss: unpersist every block behind the plan
      def loseBlocks(d: org.apache.spark.sql.DataFrame): Unit =
        checkpointRdds(d).foreach(_.unpersist(blocking = true))
      loseBlocks(df)
      assert(df.count() == 10, "reliable artifact unreadable after block loss")
      // a build that already ends in a local checkpoint (an iterative
      // loop) gets the durable copy too, not its executor blocks
      var inner: org.apache.spark.sql.DataFrame = null
      val loop = Tables.artifact(spark, dir, "loop") {
        inner = spark.range(5).toDF("x").localCheckpoint(); inner
      }
      assert(!(loop eq inner), "reliable mode must re-checkpoint a checkpointed build")
      // ... and frees the build's own checkpoint instead of pinning it
      val innerId = checkpointRdds(inner).head.id
      assert(!spark.sparkContext.getPersistentRDDs.keySet.contains(innerId),
        s"the loop's local checkpoint (RDD $innerId) outlived its durable copy")
      loseBlocks(inner)
      loseBlocks(loop)
      assert(loop.count() == 5, "reliable loop artifact unreadable after block loss")
    } finally sys.props.remove("graft.tableCache")
  }

  test("reliable cache mode writes no file for a query's own intermediates") {
    // Only Tables.artifact writes durably: a query's localCheckpoint()
    // intermediates stay in executor blocks, so a repeat call, whose
    // artifacts are already built, adds nothing to the checkpoint dir.
    sys.props("graft.tableCache") = "reliable"
    try {
      val gains = SparkEntry.queries("llm_models_gains")
      gains(spark, sf0001).count()
      val before = checkpointFiles()
      gains(spark, sf0001).count()
      assert(checkpointFiles() == before,
        s"second call wrote ${checkpointFiles() - before} checkpoint files")
    } finally sys.props.remove("graft.tableCache")
  }

  test("snapshot token invalidates cached tables when the dir is rewritten") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    spark.range(3).toDF("doc_id").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 3)
    // rewrite within the same session: the dir listing changes, so the
    // stamped key misses and the table is re-resolved (pre-fix this
    // silently served the stale 3-row frame)
    spark.range(5).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 5)
  }
}
