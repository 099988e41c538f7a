package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Graph, Models, Pipeline, Sampling, Similarity}

/** Value-level invariants for the round-8 operator wave (the DuckDB
  * oracle covers exact values at the driver gate; these cover the
  * algebraic claims the oracle can't express: rank-mass conservation,
  * blocking completeness vs a naive reference, constructed-violation
  * counting, and drift-metric identities on symmetric input).
  */
class WaveEightSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------ graph

  test("pagerank mass is conserved: ranks sum to 1 and are all positive") {
    val ranks = Graph.pagerankRanks(spark, sf0001).collect()
    assert(ranks.nonEmpty)
    val total = ranks.map(_.getAs[Double]("rank")).sum
    assert(math.abs(total - 1.0) < 1e-9, s"sum=$total")
    assert(ranks.forall(_.getAs[Double]("rank") > 0))
  }

  test("cc label propagation reaches its fixed point within the fixed iteration count") {
    // the registered query runs a FIXED CcIters steps; a fixture with a
    // larger diameter would silently ship non-converged labels that
    // still hash-match across engines (both run the same count), so
    // assert labels(k) == labels(k+1) explicitly — on the spec SF and
    // on the SF the driver's verify gate runs
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val k = Graph.CcIters
      val at = Graph.ccLabels(spark, dir, k)
      val next = Graph.ccLabels(spark, dir, k + 1)
      assert(at.exceptAll(next).isEmpty && next.exceptAll(at).isEmpty,
        s"cc labels not converged after $k iterations at $dir")
    }
  }

  test("degree audit accounts for every node and every edge-endpoint") {
    val edges = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf0001)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("c"), $"l_suppkey".as("s"))
      .distinct()
    val nPairs = edges.count()
    val nNodes = edges.select($"c").distinct().count() +
      edges.select($"s").distinct().count()
    val audit = Graph.degree(spark, sf0001).collect()
    assert(audit.map(_.getAs[Long]("n_nodes")).sum == nNodes)
    // symmetric construction: every undirected pair contributes two
    // directed edge-endpoints, split across the two sides' buckets
    assert(audit.map(_.getAs[Long]("sum_degree")).sum == 2 * nPairs)
  }

  // ------------------------------------------------------------------ ridge

  test("ridge fit is well-posed: R² in [0,1] and n equals corpus size") {
    val row = Models.ridge(spark, sf0001).head()
    val r2 = row.getAs[Double]("r2")
    // w=0 scores penalized objective syy, so the ridge optimum's SSE
    // can never exceed syy — R² ≥ 0 is a theorem, not luck
    assert(r2 >= 0.0 && r2 <= 1.0, s"r2=$r2")
    assert(row.getAs[Long]("n") ==
      graft.sources.Tables.documents(spark, sf0001).count())
  }

  // --------------------------------------------------------------- editdist

  test("blocked edit-distance matches the naive blocked reference exactly") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"n_chars", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    // naive reference with identical semantics: overlapping blocks
    // (blk, blk+1), 64-char prefixes, threshold 20 — block caps don't
    // engage at this SF so the reference skips them
    val indexed = docs.flatMap { case (id, lang, nc, text) =>
      val blk = nc / 8
      val pfx = text.take(64)
      Seq((lang, blk, id, pfx), (lang, blk + 1, id, pfx))
    }
    val expected = indexed.groupBy(t => (t._1, t._2)).values.flatMap { g =>
      val grp = g.toSeq
      for {
        a <- grp; b <- grp if a._3 < b._3
        dist = lev(a._4, b._4) if dist <= 20
      } yield (a._3, b._3, dist)
    }.toSet
    val got = Dedup.ddEditDist(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("dist"))).toSet
    assert(got == expected, s"got=${got.size} expected=${expected.size}")
  }

  // ---------------------------------------------------------------- es_topk

  test("ES top-k keys are non-positive, k-sized, distinct, sorted") {
    val rows = Sampling.sampleEsTopK(spark, sf0001).collect()
    assert(rows.length == 25)
    assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == 25)
    val keys = rows.map(_.getAs[Double]("es_key"))
    // ln(u) ≤ 0 for u ∈ (0,1]; dividing by a positive weight keeps sign
    assert(keys.forall(_ <= 0.0))
    assert(keys.sameElements(keys.sortBy(-_)), "descending key order")
  }

  // ----------------------------------------------------------- snapshot diff

  test("snapshot diff statuses reconcile with the derivation rules") {
    val byStatus = Pipeline.snapshotDiff(spark, sf0001).collect()
      .groupBy(_.getAs[String]("status"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
    val nChars = docs.toMap
    val inA = docs.map(_._1).filter(_ % 13 != 0).toSet
    val inB = docs.map(_._1).filter(_ % 11 != 7).toSet
    assert(byStatus.getOrElse("added", 0L) == (inB -- inA).size)
    assert(byStatus.getOrElse("removed", 0L) == (inA -- inB).size)
    // changed = docs in both whose A-revision was truncated to a
    // shorter string (GREATEST(n_chars-7, 1) keeps a 1-char doc whole,
    // so truncation is a digest no-op exactly when it changes nothing)
    val changed = (inA & inB).count { id =>
      id % 17 == 5 && math.max(nChars(id) - 7, 1L) != nChars(id)
    }
    assert(byStatus.getOrElse("changed", 0L) == changed)
    assert(byStatus.values.sum == (inA ++ inB).size)
  }

  // ------------------------------------------------------------- validation

  test("validation suite counts constructed violations exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-validate").toString
    Seq(
      (1L, "good text here", "en", 14L, "s1"),
      (2L, "", "en", 0L, "s1"),               // empty text
      (3L, "abc", "xx", 3L, "s1"),            // unknown lang
      (4L, "abcd", "fr", 99L, "s1"),          // n_chars mismatch (+range ok)
      (5L, "dup", "de", 3L, "s1"),
      (5L, "dup", "de", 3L, "s1"))            // duplicate doc_id (2 rows)
      .toDF("doc_id", "text", "lang", "n_chars", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rules = Pipeline.validate(spark, dir).collect()
      .map(r => r.getAs[String]("rule") -> r.getAs[Long]("n_violations"))
      .toMap
    assert(rules("nonempty_text") == 1)
    // only doc 4 (n_chars=99 vs length 4): the empty-text row's 0==0
    // and the duplicate rows' 3==3 are consistent
    assert(rules("n_chars_consistent") == 1)
    assert(rules("lang_known") == 1)
    assert(rules("chars_in_range") == 1) // n_chars=0 on the empty row
    assert(rules("doc_id_unique") == 2)  // both rows of id 5 counted
  }

  // ---------------------------------------------------------- centroid shift

  test("centroid shift is exactly 1/1 when the two halves are identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shift").toString
    // every vector has an identical parity twin → half-centroids equal
    val rows: Seq[(Long, Seq[Float], Int)] = (0 until 8).flatMap { i =>
      val v: Seq[Float] = Seq.tabulate(4)(d => (i + 1) * 0.1f + d * 0.01f)
      Seq((2L * i, v, i % 2), (2L * i + 1, v, i % 2))
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.ssCentroidShift(spark, dir).collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Double]("centroid_cosine") == 1.0)
      assert(r.getAs[Double]("norm_ratio") == 1.0)
      assert(r.getAs[Long]("n_a") == 4 && r.getAs[Long]("n_b") == 4)
    }
  }
}
