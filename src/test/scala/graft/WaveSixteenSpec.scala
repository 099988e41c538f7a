package graft

import org.apache.spark.sql.functions._

/** Semantic property tests for the round-8 wave-13..17 operators: each
  * asserts an algebraic invariant the DuckDB hash-compare can't state
  * (equivalence to a naive reference form, conservation laws, bound
  * properties) — the regression net under future plan rewrites.
  */
class WaveSixteenSpec extends SparkSpec {
  import spark.implicits._

  test("mips ranking equals brute-force inner-product ranking (the reduction is order-preserving)") {
    graft.functions.GraftExtensions.register(spark)
    val got = llm.Similarity.ssMips(spark, sf0001)
      .select($"q_id", $"rank", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // naive reference: raw inner product of label-scaled vectors,
    // no augmentation anywhere
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"label",
        expr("cast(embedding as array<double>)").as("v"))
    val c = e.select($"vec_id".as("n_id"),
      expr("transform(v, x -> x * (cast(label as double) + 1.0))").as("cv"))
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"v".as("qv"))
    val want = q.crossJoin(c).filter($"n_id" =!= $"q_id")
      .select($"q_id", $"n_id", expr("vec_dot(qv, cv)").as("ip"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"q_id")
          .orderBy(round($"ip", 6).desc, $"n_id".asc)))
      .filter($"rk" <= 3)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(got == want, s"augmented-cosine order diverged from raw IP order")
  }

  test("inverted index equals the single-window reference form") {
    val got = llm.TextAnalysis.taInvertedIndex(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val tf = spark.read.parquet(s"$sf0001/documents.parquet")
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"term")
      .orderBy($"tf".desc, $"doc_id".asc)
    val want = tf.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5).select($"term", $"rank", $"doc_id", $"tf")
      .orderBy($"term", $"rank").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.sameElements(want))
  }

  test("cdc merge conserves rows: unchanged + update + delete == base, insert == feed inserts") {
    val s = llm.Pipeline.cdcMerge(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    val n = base.count()
    val nDel = base.filter($"doc_id" % 11 === 3).count()
    val nUpd = base.filter($"doc_id" % 11 =!= 3 && $"doc_id" % 7 === 0).count()
    val nIns = base.filter($"doc_id" % 11 =!= 3 && $"doc_id" % 7 =!= 0
      && $"doc_id" % 13 === 1).count()
    assert(s("delete") == nDel && s("update") == nUpd && s("insert") == nIns)
    assert(s("unchanged") + s("update") + s("delete") == n,
      s"row conservation violated: $s vs base $n")
  }

  test("compaction groups cover every shard once and respect the next-fit straddle bound") {
    val groups = llm.Pipeline.compaction(spark, sf0001).collect()
    val shards = llm.Pipeline.shardSizes(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // disjoint contiguous coverage per bucket
    val byBucket = groups.groupBy(_.getLong(0))
    for ((_, gs) <- byBucket) {
      val spans = gs.sortBy(_.getLong(1))
        .map(g => (g.getLong(3), g.getLong(4))) // (first_shard, last_shard)
      spans.sliding(2).foreach {
        case Array((_, lastA), (firstB, _)) => assert(firstB == lastA + 1,
          "merge groups must tile the shard sequence contiguously")
        case _ =>
      }
    }
    val totalShards = groups.map(_.getLong(2)).sum
    assert(totalShards == shards.size, "every shard in exactly one group")
    // next-fit bound: a group exceeds the target only by its LAST
    // (straddling) shard
    for (g <- groups) {
      val toks = g.getLong(6)
      val lastShardToks = shards((g.getLong(0), g.getLong(4)))
      assert(toks - lastShardToks < 8000L,
        s"group ${g} exceeded target before its straddling shard")
    }
  }

  test("zorder file rectangles are disjoint in z-space and cover all orders") {
    val files = llm.Pipeline.zorder(spark, sf0001).collect()
    val nOrders = spark.read.parquet(s"$sf0001/orders.parquet").count()
    assert(files.map(_.getLong(1)).sum == nOrders, "every order in a file")
    // z-prefix buckets are disjoint by construction; rectangles must be
    // non-degenerate and bounded by the quantization domain
    for (f <- files) {
      assert(f.getLong(2) >= 0 && f.getLong(3) <= 4095)
      assert(f.getLong(4) >= 0 && f.getLong(5) <= 4095)
      assert(f.getLong(6) >= f.getLong(1),
        "cover_area can't be smaller than the row count of distinct points")
    }
  }

  test("graph cc finds exactly the 5 regional components, members consistent") {
    val comps = llm.Graph.cc(spark, sf0001).collect()
    assert(comps.length == 5, s"expected 5 regional components, got ${comps.length}")
    for (c <- comps)
      assert(c.getLong(1) == c.getLong(2) + c.getLong(3),
        "members must split into customers + suppliers")
    // labels are min node ids — distinct by construction
    assert(comps.map(_.getLong(0)).distinct.length == 5)
  }

  test("bootstrap replicate means bracket the true mean and weights are plausible") {
    val reps = llm.Sampling.sampleBootstrap(spark, sf0001).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    val base = spark.read.parquet(s"$sf0001/documents.parquet")
    val n = base.count().toDouble
    val trueMean = base.agg(avg($"n_chars")).head.getDouble(0)
    // Poisson(1) weights: each replicate's effective count within 4 sd
    // (sd = sqrt(n)) of n
    for ((nEff, _) <- reps)
      assert(math.abs(nEff - n) < 4 * math.sqrt(n) + 1,
        s"replicate effective count $nEff implausible for n=$n")
    val means = reps.map(_._2)
    assert(means.min <= trueMean && trueMean <= means.max,
      s"true mean $trueMean outside replicate range [${means.min}, ${means.max}]")
  }

  test("rerank output is drawn from the ann shortlist and reorders within it") {
    val rows = llm.Similarity.ssRerank(spark, sf0001).collect()
    for (r <- rows) {
      assert(r.getInt(1) >= 1 && r.getInt(1) <= 3)
      assert(r.getInt(5) >= 1 && r.getInt(5) <= 8,
        "every reranked row must come from the top-8 ann shortlist")
    }
    // per query: rerank_rank orders by ce_score descending
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.sameElements(byRank.sortBy(-(_: Double))),
        "ce_score must be non-increasing in rerank_rank")
    }
  }

  test("lateness audit buckets partition all events and 10m drops match bucket sums") {
    val rows = streaming.WindowQueries.stLatenessAudit(spark, sf0001).collect()
    val nEvents = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(rows.map(_.getLong(1)).sum == nEvents, "buckets must partition events")
    // n_beyond_10m consistency: only buckets whose range can exceed
    // 600 s (bucket >= 4: 4^5=1024 > 600 covers bucket 4 partially)
    for (r <- rows if r.getLong(0) <= 3)
      assert(r.getLong(3) == 0,
        s"bucket ${r.getLong(0)} (max 256 s) cannot exceed 600 s")
  }
}
