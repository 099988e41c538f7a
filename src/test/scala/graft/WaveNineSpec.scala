package graft

import org.apache.spark.sql.functions._
import graft.llm.{Graph, Pipeline, Sampling, Similarity, TextAnalysis}
import graft.operators.RelationalQueries

/** Value-level invariants for the round-9 operator wave — the
  * algebraic claims the DuckDB oracle can't express (fixed-point
  * convergence, conservation laws, cross-operator consistency).
  */
class WaveNineSpec extends SparkSpec {
  import spark.implicits._

  test("kcore peel reaches its fixed point within the fixed iteration count") {
    // same contract as the cc convergence spec: a fixture whose peel
    // cascade outruns KcoreIters would ship a non-core result that
    // still hash-matches across engines
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val k = Graph.KcoreIters
      val at = Graph.kcoreAlive(spark, dir, k).last
      val next = Graph.kcoreAlive(spark, dir, k + 1).last
      assert(at.exceptAll(next).isEmpty && next.exceptAll(at).isEmpty,
        s"kcore not converged after $k peels at $dir")
    }
  }

  test("kcore survivor counts shrink monotonically") {
    val rows = Graph.kcore(spark, sf0001).collect()
    val counts = rows.sortBy(_.getAs[Long]("iter")).map(_.getAs[Long]("n_nodes"))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"non-monotone peel: ${counts.mkString(",")}")
  }

  test("q68 picks the true minimum unit cost per part among regional suppliers") {
    val got = RelationalQueries.q68MinCostSupplier(spark, sf0001).collect()
    assert(got.nonEmpty)
    // re-derive the per-part min over the same cost table and check no
    // selected row exceeds it
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val eu = graft.sources.Tables.supplier(spark, sf0001)
      .join(graft.sources.Tables.nation(spark, sf0001),
        $"s_nationkey" === $"n_nationkey")
      .join(graft.sources.Tables.region(spark, sf0001)
        .filter($"r_name" === "EUROPE"), $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey")
    val minCost = li.join(eu, $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg((sum($"l_extendedprice".cast("decimal(18,6)")).cast("double")
        / sum($"l_quantity".cast("decimal(18,6)")).cast("double")).as("uc"))
      .groupBy($"l_partkey").agg(min($"uc").as("min_uc"))
      .collect().map(r => r.getAs[Long]("l_partkey") -> r.getAs[Double]("min_uc"))
      .toMap
    got.foreach { r =>
      val pk = r.getAs[Long]("p_partkey")
      val uc = r.getAs[Double]("unit_cost")
      assert(math.abs(uc - minCost(pk)) < 1e-6 + 1e-9 * math.abs(uc),
        s"part $pk selected cost $uc but min is ${minCost(pk)}")
    }
  }

  test("q69 blockers were the unique latest shipper of a multi-supplier order") {
    // full independent re-derivation at row level (the query never
    // materializes per-order rows, this reference does): for each
    // order with >=2 suppliers, find the suppliers shipping on the max
    // date; keep orders where that supplier is unique; count per
    // supplier; take the SAME top-20 ordering. Exact equality.
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), String.valueOf(r.get(2))))
    val bySupp = li.groupBy(_._1).valuesIterator.flatMap { rows =>
      val lastPerSupp = rows.groupBy(_._2).map { case (s, rs) =>
        s -> rs.map(_._3).max }
      if (lastPerSupp.size < 2) None
      else {
        val oMax = lastPerSupp.values.max
        val atMax = lastPerSupp.filter(_._2 == oMax).keys.toSeq
        if (atMax.size == 1) Some(atMax.head) else None
      }
    }.toSeq.groupBy(identity).map { case (s, xs) => s -> xs.size.toLong }
    val names = graft.sources.Tables.supplier(spark, sf0001)
      .select($"s_suppkey", $"s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = bySupp.toSeq
      .map { case (s, n) => (names(s), n) }
      .sortBy { case (name, n) => (-n, name) }.take(20)
    val got = RelationalQueries.q69BlockingSuppliers(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected,
      s"q69 mismatch:\n got=$got\n exp=$expected")
  }

  test("q70 dormant customers have no order on/after the recency cutoff") {
    val dormantNations = RelationalQueries.q70DormantCapital(spark, sf0001)
      .agg(sum($"n_custs")).collect()(0).getLong(0)
    val recomputed = {
      val cust = graft.sources.Tables.customer(spark, sf0001)
      val avgBal = cust.filter($"c_acctbal" > 0.0)
        .agg(org.apache.spark.sql.functions.avg($"c_acctbal"))
        .collect()(0).getDouble(0)
      val active = graft.sources.Tables.orders(spark, sf0001)
        .filter($"o_orderdate" >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
        .select($"o_custkey").distinct()
      cust.filter($"c_acctbal" > avgBal)
        .join(active, $"c_custkey" === $"o_custkey", "left_anti").count()
    }
    assert(dormantNations == recomputed,
      s"dormant count $dormantNations != recomputed $recomputed")
  }

  test("ess weighted shares sum to 1 and ESS is bounded by the corpus size") {
    val rows = Sampling.sampleEss(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("weighted_share")).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"shares sum to $shares")
    val nTotal = rows.map(_.getAs[Long]("n_docs")).sum
    val ess = rows.head.getAs[Double]("ess")
    assert(ess > 0 && ess <= nTotal + 1e-6, s"ess $ess outside (0, $nTotal]")
  }

  test("retention conserves rows and never expires revenue-bearing types") {
    val rows = Pipeline.retention(spark, sf0001).collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_keep") + r.getAs[Long]("n_expire")
        == r.getAs[Long]("n_rows"))
    }
    rows.filter(r => Set("purchase", "signup")(r.getAs[String]("event_type")))
      .foreach(r => assert(r.getAs[Long]("n_expire") == 0L,
        s"${r.getAs[String]("event_type")} expired rows"))
  }

  test("char class counts partition the document length") {
    val bad = TextAnalysis.taCharClasses(spark, sf0001)
      .filter($"n_alpha" + $"n_digit" + $"n_space" + $"n_other" =!= $"n_total"
        || $"n_upper" > $"n_alpha" || $"n_other" < 0)
      .count()
    assert(bad == 0L, s"$bad docs with inconsistent char-class counts")
  }

  test("margin audit agrees with the brute top-k at ranks 1 and 5") {
    // ssTopk covers queries vec_id < 5; the margin audit widens to 10,
    // so the cross-check runs on the overlap and the margin invariant
    // on every row
    val topk = Similarity.ssTopk(spark, sf0001)
      .filter($"rank" === 1 || $"rank" === 5)
      .select($"q_id", $"rank", $"cosine").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) -> r.getAs[Double]("cosine"))
      .toMap
    val margins = Similarity.ssMargin(spark, sf0001).collect()
    assert(margins.nonEmpty)
    margins.foreach { r =>
      val q = r.getAs[Long]("q_id")
      if (q < 5) {
        assert(r.getAs[Double]("top1") == topk((q, 1)), s"q$q top1 mismatch")
        assert(r.getAs[Double]("kth") == topk((q, 5)), s"q$q kth mismatch")
      }
      assert(r.getAs[Double]("margin") >= 0.0, s"q$q negative margin")
    }
  }
}
