package graft

import org.apache.spark.sql.functions._

/** Wave-63 invariants: embedding anisotropy (closed-form pairwise
  * cosine), per-language fairness audit of the quality probe,
  * synchronous label propagation, and the sentence-length profile.
  * Each test pins the property that would break silently if the
  * distributed decomposition diverged from the spec the oracle states.
  */
class WaveSixtyThreeSpec extends SparkSpec {
  import spark.implicits._

  test("anisotropy: closed form equals the naive all-pairs mean cosine") {
    val rows = graft.llm.Similarity.ssAnisotropy(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // per-label bounds: ||mean û|| in [0, 1]; avg pairwise cosine of
    // unit vectors is >= -1/(n-1) (Gram PSD) and <= 1
    rows.foreach { r =>
      val n = r.getLong(1)
      val dirNorm = r.getDouble(3)
      val avgCos = r.getDouble(4)
      assert(dirNorm >= 0.0 && dirNorm <= 1.0 + 1e-9, s"dir norm $dirNorm")
      assert(avgCos <= 1.0 + 1e-9, s"avg cosine $avgCos > 1")
      if (n > 1)
        assert(avgCos >= -1.0 / (n - 1).toDouble - 1e-9,
          s"avg cosine $avgCos below the -1/(n-1) PSD bound")
    }
    // brute-force one label: the closed form must equal the O(n²) mean
    val label = rows.head.getInt(0)
    val us = graft.sources.Tables.embeddings(spark, sf0001)
      .filter($"label" === label)
      .select($"embedding".cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .map { v =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / nrm)
      }
    val n = us.length
    var s = 0.0
    for (i <- us.indices; j <- us.indices if i != j)
      s += us(i).zip(us(j)).map { case (a, b) => a * b }.sum
    val naive = s / (n.toDouble * (n - 1))
    val reported = rows.find(_.getInt(0) == label).get.getDouble(4)
    assert(math.abs(naive - reported) < 1e-4,
      s"closed form $reported vs naive $naive for label $label")
    graft.sources.Tables.releaseTransients(spark)
  }

  test("anisotropy plan: nothing pairs — no cartesian, no self-join") {
    val plan = graft.llm.Similarity.ssAnisotropy(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "anisotropy must never form pairs:\n" + plan.take(600))
    graft.sources.Tables.releaseTransients(spark)
  }

  test("fairness_audit: census covers the corpus; parity gaps mass-balance") {
    val rows = graft.llm.Models.fairnessAudit(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nTotal = rows.map(_.getLong(1)).sum
    val corpus = graft.sources.Tables.documents(spark, sf0001).count()
    assert(nTotal == corpus, s"audit covers $nTotal of $corpus docs")
    rows.foreach { r =>
      val (n, nPos, nSel) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nPos <= n && nSel <= n)
      val (sel, tpr, fpr) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(sel >= 0 && sel <= 1 && tpr >= 0 && tpr <= 1
        && fpr >= 0 && fpr <= 1)
      // sel_rate is the exact integer ratio it claims to be
      assert(math.abs(sel - nSel.toDouble / n) < 1e-6)
    }
    // demographic-parity gaps are deviations from the weighted mean, so
    // the n-weighted gap sum telescopes to zero (up to rounding at 6)
    val massGap = rows.map(r => r.getLong(1) * r.getDouble(7)).sum
    assert(math.abs(massGap) < rows.length * 0.5e-6 * nTotal + 1e-6,
      s"n-weighted parity gaps sum to $massGap, expected ~0")
    graft.sources.Tables.releaseTransients(spark)
  }

  test("lpa: synchronous majority dynamics on a hand-computed graph") {
    // two triangles {1,2,3} and {11,12,13} joined by one bridge 3-11,
    // self-loops included (the production edge-table shape). Sync LPA
    // with min tie-break converges here in 3 rounds: each triangle
    // keeps its min member's label; the bridge cannot outvote the
    // triangle majority.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (11L, 12L), (11L, 13L), (12L, 13L), (3L, 11L))
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
    val edges = (und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      ++ nodes.map(n => (n, n))).toDF("src", "dst")
    val labels = graft.llm.Graph
      .lpaLabelsOn(edges, graft.llm.Graph.LpaIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(labels(_) == 1L),
      s"triangle one must carry label 1: $labels")
    assert(Seq(11L, 12L, 13L).forall(labels(_) == 11L),
      s"triangle two must carry label 11: $labels")
  }

  test("lpa census: communities partition the regional node set") {
    val census = graft.llm.Graph.lpa(spark, sf0001).collect()
    assert(census.nonEmpty)
    val members = census.map(_.getLong(1)).sum
    val cust = census.map(_.getLong(2)).sum
    val supp = census.map(_.getLong(3)).sum
    assert(members == cust + supp)
    // every regional node is assigned to exactly one community: the
    // census masses must reproduce the graph's node count
    census.foreach(r => assert(r.getLong(1) > 0))
    graft.sources.Tables.releaseTransients(spark)
  }

  test("sentence_stats: Spark segmentation matches an independent recount") {
    val rows = graft.llm.TextAnalysis.taSentenceStats(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val corpus = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getLong(1)).sum == corpus)
    rows.foreach { r =>
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
      assert(r.getDouble(4) <= r.getLong(5).toDouble + 1e-9,
        "mean sentence length exceeds the max")
    }
    // recount one language in plain Scala with the same segmentation
    val lang = rows.head.getString(0)
    val naive = graft.sources.Tables.documents(spark, sf0001)
      .filter($"lang" === lang).select($"text").collect()
      .map(_.getString(0))
      .map(t => t.split("[.!?]+", -1).map(_.trim).count(_.nonEmpty).toLong)
      .sum
    assert(naive == rows.find(_.getString(0) == lang).get.getLong(2),
      s"$lang sentence recount mismatch")
    graft.sources.Tables.releaseTransients(spark)
  }
}
