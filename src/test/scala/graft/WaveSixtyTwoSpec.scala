package graft

import org.apache.spark.sql.functions._

/** Wave-62 invariants: per-lang perplexity terciles, group k-fold,
  * BFS effective diameter, winnowing fingerprints, cohort retention.
  * Each test pins the property that would break silently if the
  * distributed decomposition diverged from the spec the oracle states.
  */
class WaveSixtyTwoSpec extends SparkSpec {
  import spark.implicits._

  test("ppl_buckets: terciles are NTILE-balanced and score-ordered per lang") {
    val rows = graft.llm.TextAnalysis.taPplBuckets(spark, sf0001).collect()
    val byLang = rows.groupBy(_.getString(0))
    byLang.foreach { case (lang, rs) =>
      val n = rs.map(_.getLong(3))
      // NTILE(3): tile sizes differ by at most 1
      assert(n.max - n.min <= 1, s"$lang tercile sizes $n not balanced")
      // head holds the best scores: min_p(head) >= max_p(middle) >= ...
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach { case Array(hi, lo) =>
        assert(hi.getDouble(5) >= lo.getDouble(6),
          s"$lang tercile ${hi.getInt(1)} min_p < tercile ${lo.getInt(1)} max_p")
      case _ => ()
      }
    }
    graft.sources.Tables.releaseTransients(spark)
  }

  test("ppl_buckets plan: windows partition by lang (and bucket), never global") {
    val plan = graft.llm.TextAnalysis.taPplBuckets(spark, sf0001)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(plan.nonEmpty)
    plan.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "ppl_buckets grew a GLOBAL window — the lang NTILE funnel is back")
      assert(w.partitionSpec.exists(_.references.exists(_.name == "lang")),
        s"window must partition by lang: ${w.partitionSpec}")
    }
    graft.sources.Tables.releaseTransients(spark)
  }

  test("group_kfold: folds partition the corpus; shares sum to 1") {
    val rows = graft.llm.Sampling.sampleGroupKfold(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).forall(f => f >= 0 && f < 5))
    val nDocs = rows.map(_.getLong(2)).sum
    val corpus = graft.sources.Tables.documents(spark, sf0001).count()
    assert(nDocs == corpus, s"folds hold $nDocs docs, corpus has $corpus")
    val shares = rows.map(_.getDouble(3)).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"doc shares sum to $shares")
    rows.foreach(r => assert(r.getLong(4) <= r.getLong(2),
      "leaky docs exceed fold size"))
    graft.sources.Tables.releaseTransients(spark)
  }

  test("eff_diameter: cumulative shares are monotone and end at 1.0; " +
      "exactly one hop is flagged") {
    val rows = graft.llm.Graph.effDiameter(spark, sf0001)
      .orderBy($"hop").collect()
    assert(rows.head.getInt(0) == 0 && rows.head.getLong(1) <= 8,
      "hop 0 must hold at most the 8 seeds")
    val shares = rows.map(_.getDouble(3))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(math.abs(shares.last - 1.0) < 1e-9,
      s"final cumulative share ${shares.last} != 1.0")
    assert(rows.count(_.getBoolean(4)) == 1,
      "exactly one hop must carry the effective-diameter flag")
    graft.sources.Tables.releaseTransients(spark)
  }

  test("winnow: density below the every-window form; plan has no window exec") {
    val row = graft.llm.Dedup.ddWinnow(spark, sf0001).head()
    val nDocs = row.getLong(0)
    val nFp = row.getLong(1)
    assert(nDocs > 0 && nFp >= nDocs,
      "every doc with >= 3 tokens carries >= 1 fingerprint")
    // winnowing selects ~1/W of positions: densities near the gram
    // count would mean the window minimum never deduplicates
    val grams = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(expr("shingle3(text)"))).count()
    assert(nFp < grams,
      s"winnowed fingerprints $nFp not below distinct-gram mass $grams")
    val plan = graft.llm.Dedup.ddWinnow(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      "winnow must stay a projection (no window exec):\n" + plan.take(600))
    // r14: the fingerprint projection is the fused winnow4 expression —
    // no codegen-barred higher-order lambdas anywhere (the composed
    // transform/slice form ran interpreted and single-task, r13 16×
    // draw), and no repartition band-aid needed for parallelism. The
    // query's own plan reads the checkpointed fingerprints (Scan
    // ExistingRDD), so guard the plan of the BUILD projection itself.
    graft.functions.GraftExtensions.register(spark)
    val buildPlan = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", explode(expr("winnow4(text)")).as("h"))
      .distinct()
      .queryExecution.executedPlan.toString
    assert(!buildPlan.contains("lambdafunction"),
      "winnow build must not contain interpreted HOF lambdas:\n"
        + buildPlan.take(800))
    assert(buildPlan.contains("winnow4"),
      "fingerprint projection must be the fused winnow4 expression:\n"
        + buildPlan.take(800))
    assert(!buildPlan.contains("REPARTITION_BY_COL"),
      "no repartition band-aid ahead of the projection:\n"
        + buildPlan.take(800))
    graft.sources.Tables.releaseTransients(spark)
  }

  test("winnow4 expression equals the composed HOF spec on the fixture corpus") {
    graft.functions.GraftExtensions.register(spark)
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
    // the composed transform/slice reference (the oracle's algebra,
    // runs interpreted — fine for a spec)
    val spec = docs
      .select($"doc_id", split($"text", " ").as("tk"))
      .select($"doc_id", expr(
        """transform(sequence(1, greatest(size(tk) - 2, 0)),
          |  i -> h60(concat_ws(' ', element_at(tk, i),
          |    element_at(tk, i + 1), element_at(tk, i + 2))))"""
          .stripMargin).as("hs"))
      .filter(size($"hs") >= 1)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, greatest(size(hs) - 3, 1)),
          |  s -> array_min(slice(hs, s, least(4, size(hs) - s + 1))))"""
          .stripMargin)).as("h"))
    val fused = docs.select($"doc_id", explode(expr("winnow4(text)")).as("h"))
    // exact multiset equality INCLUDING window order duplicates
    assert(fused.exceptAll(spec).isEmpty && spec.exceptAll(fused).isEmpty,
      "winnow4 must emit exactly the composed form's fingerprints")
  }

  test("winnow4 boundary: sub-3-token and empty docs fingerprint to empty") {
    // INTENTIONAL divergence from the composed Spark spec above: on a
    // <3-token doc the composed form errors (sequence(1, 0) yields
    // [1, 0] and element_at(tk, 0) throws), while winnow4 — and the
    // DuckDB oracle's list_transform composition — return an empty
    // fingerprint set. The fused behavior is the correct one; this
    // test pins it at the boundary the fixture corpus never reaches.
    graft.functions.GraftExtensions.register(spark)
    val edge = Seq(
      (1L, ""), (2L, "one"), (3L, "one two"),
      (4L, "   "), (5L, "one two three"))
      .toDF("doc_id", "text")
    val fps = edge
      .select($"doc_id", expr("winnow4(text)").as("hs"))
      .orderBy($"doc_id").collect()
    for (r <- fps.take(3))
      assert(r.getSeq[Long](1).isEmpty,
        s"doc ${r.getLong(0)}: <3 tokens must yield no fingerprints")
    // "   " is FOUR empty tokens under the split(' ', keep-empties)
    // tokenizer contract (matches split(text, ' ') / string_split):
    // 2 positional grams → one boundary window → one fingerprint
    assert(fps(3).getSeq[Long](1).length == 1,
      "whitespace-only doc tokenizes to empties, not to nothing")
    assert(fps.last.getSeq[Long](1).length == 1,
      "a 3-token doc has exactly one gram and must fingerprint it")
  }

  test("winnow guarantee: two docs sharing a >= 6-token run share a fingerprint") {
    // synthetic corpus exercised through the same projection pipeline:
    // doc 2 embeds doc 1's 6-token run inside unrelated text
    val run = "alpha bravo charlie delta echo foxtrot"
    val docs = Seq(
      (1L, s"zulu yankee $run xray whiskey"),
      (2L, s"one two three $run four five six"),
      (3L, "totally different words without the shared span at all"))
      .toDF("doc_id", "text")
    graft.functions.GraftExtensions.register(spark)
    val fp = docs
      .select($"doc_id", explode(expr("winnow4(text)")).as("h"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val s1 = fp.filter(_._1 == 1L).map(_._2).toSet
    val s2 = fp.filter(_._1 == 2L).map(_._2).toSet
    val s3 = fp.filter(_._1 == 3L).map(_._2).toSet
    assert((s1 & s2).nonEmpty, "shared 6-token run must share a fingerprint")
    assert((s1 & s3).isEmpty && (s2 & s3).isEmpty,
      "disjoint texts must not collide")
  }

  test("retention_matrix: offset-0 retention is 1.0 and cells never exceed cohorts") {
    val rows = graft.streaming.WindowQueries
      .stRetentionMatrix(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.filter(_.getInt(1) == 0)
      .foreach(r => assert(r.getDouble(4) == 1.0))
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(3),
      "active users exceed cohort size"))
    graft.sources.Tables.releaseTransients(spark)
  }
}
