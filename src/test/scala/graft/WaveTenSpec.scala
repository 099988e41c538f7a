package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Graph, Models, Pipeline, Sampling, Similarity}
import graft.operators.RelationalQueries

/** Value-level invariants for the round-10 operator wave — the
  * algebraic claims the DuckDB oracle can't express (conservation
  * across independently-computed totals, monotone recall curves,
  * allocation feasibility, exact order statistics vs a naive
  * reference).
  */
class WaveTenSpec extends SparkSpec {
  import spark.implicits._

  test("q71 exact median/p95 match a naive per-priority sort") {
    val rows = RelationalQueries.q71ShipLatency(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val lags = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.orders(spark, sf0001),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority",
        datediff($"l_shipdate", $"o_orderdate").as("lag"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sorted }
    rows.foreach { r =>
      val xs = lags(r.getString(0))
      val n = xs.length
      // histogram-cumulative definition: smallest value with
      // cum*2 >= n (resp. cum*20 >= 19n)
      def orderStat(mult: Long, target: Long): Int = {
        var cum = 0L
        xs.distinct.sorted.find { v =>
          cum += xs.count(_ == v); cum * mult >= target
        }.get
      }
      assert(r.getAs[Long]("n_lines") == n.toLong)
      assert(r.getAs[Int]("median_lag") == orderStat(2, n),
        s"median mismatch for ${r.getString(0)}")
      assert(r.getAs[Int]("p95_lag") == orderStat(20, 19L * n),
        s"p95 mismatch for ${r.getString(0)}")
    }
  }

  test("q72 shares are a partition and the gains curve ends at 1") {
    val rows = RelationalQueries.q72DecileLift(spark, sf0001)
      .collect().sortBy(_.getAs[Int]("decile"))
    assert(rows.length == 10)
    val se = rows.map(_.getAs[Double]("early_share")).sum
    val sl = rows.map(_.getAs[Double]("late_share")).sum
    assert(math.abs(se - 1.0) < 1e-4, s"early shares sum to $se")
    assert(math.abs(sl - 1.0) < 1e-4, s"late shares sum to $sl")
    assert(math.abs(rows.last.getAs[Double]("cum_late_share") - 1.0) < 1e-4)
    // cumulative curve is non-decreasing
    val cums = rows.map(_.getAs[Double]("cum_late_share"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a - 1e-9 })
    // deciles over the early-active customers partition them
    val nEarly = graft.sources.Tables.orders(spark, sf0001)
      .filter($"o_orderdate" <
        lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select($"o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_custs")).sum == nEarly)
  }

  test("q73 balances reconcile with the independently-computed totals") {
    val rows = RelationalQueries.q73TradeBalance(spark, sf0001).collect()
    val totalExports = rows.map(_.getAs[Double]("export_rev")).sum
    val totalImports = rows.map(_.getAs[Double]("import_val")).sum
    // conservation: every lineitem has a supplier nation and every
    // order a customer nation, so per-nation sums must rebuild the
    // corpus totals computed WITHOUT any join
    val rev = graft.sources.Tables.lineitem(spark, sf0001)
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(18,6)")).cast("double")).collect()(0).getDouble(0)
    val spend = graft.sources.Tables.orders(spark, sf0001)
      .agg(sum($"o_totalprice".cast("decimal(18,2)")).cast("double"))
      .collect()(0).getDouble(0)
    assert(math.abs(totalExports - rev) < 1.0,
      s"exports $totalExports != lineitem revenue $rev")
    assert(math.abs(totalImports - spend) < 1.0,
      s"imports $totalImports != order spend $spend")
    rows.foreach { r =>
      val ratio = r.getAs[Double]("export_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(math.abs(r.getAs[Double]("balance")
        - (r.getAs[Double]("export_rev") - r.getAs[Double]("import_val")))
        < 0.02)
    }
  }

  test("assortativity is a valid correlation and the graph is non-trivial") {
    val r = Graph.assortativity(spark, sf0001).collect()(0)
    val a = r.getAs[Double]("assortativity")
    assert(a >= -1.0 && a <= 1.0, s"r=$a out of range")
    assert(r.getAs[Long]("n_edges") > 0)
    assert(r.getAs[Double]("avg_excess_deg") >= 0.0)
  }

  test("quota fill is feasible: caps respected, budget never exceeded") {
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val rows = Pipeline.quotaFill(spark, dir).collect()
      assert(rows.nonEmpty)
      val totalAvail = rows.map(_.getAs[Long]("avail_tokens")).sum.toDouble
      val budget = 0.9 * totalAvail
      rows.foreach { r =>
        assert(r.getAs[Double]("epochs") <= 1.2 + 1e-6,
          s"${r.getString(0)} exceeds the epoch cap")
        assert(r.getAs[Double]("final_alloc") >= 0.0)
      }
      val filled = rows.map(_.getAs[Double]("final_alloc")).sum
      assert(filled <= budget + 0.5, s"overfilled: $filled > $budget")
      // the redistribution round only ever ADDS to uncapped sources
      rows.filter(_.getAs[Int]("was_capped") == 0).foreach { r =>
        assert(r.getAs[Double]("final_alloc")
          >= r.getAs[Double]("alloc0") - 0.01)
      }
      // target shares are a distribution
      val ts = rows.map(_.getAs[Double]("t_share")).sum
      assert(math.abs(ts - 1.0) < 1e-4)
    }
  }

  test("calibration bins cover the corpus and gaps are consistent") {
    val rows = Models.calibration(spark, sf0001).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n")).sum == nDocs)
    rows.foreach { r =>
      val mp = r.getAs[Double]("mean_pred")
      val pr = r.getAs[Double]("pos_rate")
      assert(mp >= 0.0 && mp <= 1.0)
      assert(pr >= 0.0 && pr <= 1.0)
      assert(math.abs(r.getAs[Double]("gap") - math.abs(mp - pr)) < 2e-6)
      val bin = r.getAs[Int]("bin")
      // the bin's mean prediction must sit inside the bin
      assert(mp >= bin / 10.0 - 1e-6 && mp <= (bin + 1) / 10.0 + 1e-6)
    }
  }

  test("pps draws exactly k anchor hits and must select every giant doc") {
    for (dir <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val rows = llm.Sampling.samplePps(spark, dir).collect()
      assert(rows.map(_.getAs[Long]("n_hits")).sum == 25L,
        s"anchor hits != k at $dir")
      assert(rows.map(_.getAs[Long]("doc_id")).distinct.length == rows.length)
      // any doc whose interval is wider than the step MUST absorb an
      // anchor (midpoint anchors are step apart)
      val tw = graft.sources.Tables.documents(spark, dir)
        .agg(sum($"n_chars".cast("long"))).collect()(0).getLong(0)
      val step = tw.toDouble / 25
      val selected = rows.map(_.getAs[Long]("doc_id")).toSet
      graft.sources.Tables.documents(spark, dir)
        .filter($"n_chars".cast("double") > step)
        .select($"doc_id").collect().map(_.getLong(0))
        .foreach(id => assert(selected.contains(id),
          s"giant doc $id missed at $dir"))
    }
  }

  test("q74 base year indexes to exactly 1 and uses the base basket") {
    val rows = RelationalQueries.q74PriceIndex(spark, sf0001).collect()
    val base = rows.find(_.getAs[Int]("yr") == 1995).get
    assert(base.getAs[Double]("price_index") == 1.0,
      s"base-year index ${base.getAs[Double]("price_index")} != 1.0")
    val basketSize = base.getAs[Long]("n_parts")
    // no year can match more parts than the base basket holds
    rows.foreach(r => assert(r.getAs[Long]("n_parts") <= basketSize))
    rows.foreach(r => assert(r.getAs[Double]("price_index") > 0.0))
  }

  test("vocab growth is monotone and ends at the corpus totals") {
    val rows = llm.TextAnalysis.taVocabGrowth(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("bucket"))
    val toks = rows.map(_.getAs[Long]("tokens_cum"))
    val vocab = rows.map(_.getAs[Long]("vocab_cum"))
    assert(toks.zip(toks.tail).forall { case (a, b) => b >= a })
    assert(vocab.zip(vocab.tail).forall { case (a, b) => b >= a })
    val totals = graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(trim($"text"), "\\s+")).as("t"))
      .agg(count(lit(1)).as("n"), countDistinct($"t").as("v"))
      .collect()(0)
    assert(toks.last == totals.getAs[Long]("n"))
    assert(vocab.last == totals.getAs[Long]("v"))
  }

  test("frame dedup fractions are consistent with the frame inventory") {
    val r = llm.Multimodal.mmFrameDedup(spark, sf0001).collect()(0)
    val f = r.getAs[Double]("mean_within_dup_frac")
    assert(f >= 0.0 && f <= 1.0)
    assert(r.getAs[Long]("n_shared_digests")
      <= r.getAs[Long]("n_distinct_digests"))
    assert(r.getAs[Long]("n_distinct_digests") <= r.getAs[Long]("n_frames"))
    val share = r.getAs[Double]("cross_video_share")
    assert(share >= 0.0 && share <= 1.0)
  }

  test("dup length bias partitions the corpus") {
    val rows = llm.Dedup.ddDupLengthBias(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).forall(Set("near_dup", "unique")))
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
  }

  test("source keywords rank by strictly valid lift within each source") {
    val rows = llm.TextAnalysis.taSourceKeywords(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length), s"ranks not contiguous for $src")
      val lifts = sorted.map(_.getAs[Double]("lift"))
      assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b },
        s"lift not non-increasing for $src")
      assert(lifts.forall(_ > 0.0))
      assert(sorted.forall(_.getAs[Long]("tf") >= 5L))
    }
  }

  test("cluster purity counts only multi-member clusters") {
    val rows = llm.Dedup.ddClusterPurity(spark, "/root/testdata/sf0.01")
      .collect()
    // every counted cluster has >= 2 docs, so docs >= 2 * clusters
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2 * r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("n_sources") >= 1)
    }
    if (rows.nonEmpty)
      assert(math.abs(rows.map(_.getAs[Double]("frac_clusters")).sum - 1.0)
        < 1e-4)
  }

  test("hourly profile covers every event exactly once") {
    val rows = graft.streaming.WindowQueries
      .stHourlyProfile(spark, sf0001).collect()
    val n = graft.sources.Tables.events(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_events")).sum == n)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-3)
    rows.foreach { r =>
      val d = r.getAs[Int]("dow"); val h = r.getAs[Int]("hour")
      assert(d >= 0 && d <= 6 && h >= 0 && h <= 23)
    }
  }

  test("minhash precision bins reconcile with the raw pair tables") {
    val rows = llm.Dedup.ddMinhashPrecision(spark, "/root/testdata/sf0.01")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val me = r.getAs[Double]("mean_est")
      val bin = r.getAs[Int]("est_bin")
      // each bin's mean estimate sits inside the bin (bin 3 is capped
      // at the top, so its upper edge is 1.0)
      val hi = if (bin == 3) 1.0 else (bin + 1) / 4.0
      assert(me >= bin / 4.0 - 1e-6 && me <= hi + 1e-6,
        s"bin $bin mean_est $me out of range")
      assert(r.getAs[Double]("mean_abs_err") >= 0.0)
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  test("q76 churn: year-t actives are the distinct shippers of year t") {
    val rows = RelationalQueries.q76SupplierChurn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val byYear = graft.sources.Tables.lineitem(spark, sf0001)
      .select(year($"l_shipdate").as("yr"), $"l_suppkey").distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).map { case (y, xs) => y -> xs.map(_._2).toSet }
    rows.foreach { r =>
      val yr = r.getAs[Int]("yr")
      assert(r.getAs[Long]("n_active") == byYear(yr).size.toLong)
      val churned = byYear(yr) -- byYear.getOrElse(yr + 1, Set.empty)
      assert(r.getAs[Long]("n_churned") == churned.size.toLong,
        s"churn mismatch in $yr")
    }
    // the final year is excluded
    assert(!rows.exists(_.getAs[Int]("yr") == byYear.keys.max))
  }

  test("nprobe sweep: recall and candidate cost are monotone in nprobe") {
    val rows = Similarity.ssIvfNprobeSweep(spark, sf0001)
      .collect().sortBy(_.getAs[Int]("nprobe"))
    assert(rows.map(_.getAs[Int]("nprobe")).toSeq == Seq(1, 9, 25))
    val recalls = rows.map(_.getAs[Double]("mean_recall_at_3"))
    val cands = rows.map(_.getAs[Double]("avg_candidates"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"recall not monotone: ${recalls.mkString(",")}")
    assert(cands.zip(cands.tail).forall { case (a, b) => b >= a - 1e-9 },
      s"candidates not monotone: ${cands.mkString(",")}")
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("q77 wilson bound: matches naive recount, lb < rate, ordered by lb") {
    val rows = RelationalQueries.q77WilsonReturns(spark, sf0001).collect()
    assert(rows.length > 1)
    val naive = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.part(spark, sf0001),
        $"l_partkey" === $"p_partkey")
      .select($"p_brand", $"l_returnflag").collect()
      .groupBy(_.getString(0)).map { case (b, xs) =>
        b -> (xs.length.toLong, xs.count(_.getString(1) == "R").toLong)
      }
    rows.foreach { r =>
      val (n, ret) = naive(r.getString(0))
      assert(r.getAs[Long]("n_items") == n)
      assert(r.getAs[Long]("n_returns") == ret)
      // the shrinkage property: the bound sits strictly below the raw
      // rate (z > 0, n finite) and inside [0, 1]
      val lb = r.getAs[Double]("wilson_lb")
      assert(lb < r.getAs[Double]("return_rate"))
      assert(lb >= 0.0 && lb <= 1.0)
    }
    val lbs = rows.map(_.getAs[Double]("wilson_lb"))
    assert(lbs.zip(lbs.tail).forall { case (a, b) => a >= b },
      "not ordered by wilson_lb desc")
  }

  test("auc histogram form equals the naive all-pairs Mann-Whitney") {
    val scored = Models.aucScored(spark, sf0001)
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val pos = scored.filter(_._2 == 1.0).map(_._1)
    val neg = scored.filter(_._2 == 0.0).map(_._1)
    assert(pos.nonEmpty && neg.nonEmpty)
    // naive U: every (pos, neg) pair contributes 1 if pos scores
    // higher, 0.5 on a tie
    val u = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val naiveAuc = u / (pos.length.toDouble * neg.length.toDouble)
    val row = Models.auc(spark, sf0001).head()
    assert(row.getAs[Long]("n_pos") == pos.length.toLong)
    assert(row.getAs[Long]("n_neg") == neg.length.toLong)
    assert(math.abs(row.getAs[Double]("auc") - naiveAuc) < 1e-6,
      s"histogram auc ${row.getAs[Double]("auc")} vs naive $naiveAuc")
    assert(math.abs(row.getAs[Double]("gini")
      - (2.0 * naiveAuc - 1.0)) < 2e-6)
  }

  test("link prediction matches a naive backbone recomputation") {
    // sf0.01: at sf0.001 the 45-pair backbone keeps EVERY co-purchase
    // pair as an edge, so no non-adjacent candidate exists and the
    // result is legitimately empty (covered by DegenerateInputSpec's
    // totality conventions); the semantic check needs the 2000-edge
    // cut to bite
    val sf = "/root/testdata/sf0.01"
    val rows = Graph.linkPred(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent backbone: distinct (order, supplier), occupancy cap
    // 64, support pairs, top-2000 by (support desc, s1, s2)
    val so = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = so.groupBy(_._1).filter(_._2.length <= 64)
    val support = byOrder.values.flatMap { xs =>
      val ks = xs.map(_._2).sorted
      for (i <- ks.indices; j <- (i + 1) until ks.length)
        yield (ks(i), ks(j))
    }.groupBy(identity).map { case (e, g) => (e, g.size) }
    val cut = math.min(2000, (support.size + 1) / 2)
    val edges = support.toSeq
      .sortBy { case ((a, b), s) => (-s, a, b) }.take(cut).map(_._1).toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    val expected = (for {
      u <- adj.keys; v <- adj.keys
      if u < v && !edges((u, v))
      cn = (adj(u) & adj(v)).size if cn > 0
    } yield (u, v, cn, adj(u).size, adj(v).size)).toSeq
      .sortBy { case (u, v, cn, _, _) => (-cn, u, v) }.take(20)
    val got = rows.map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
      r.getAs[Long]("cn").toInt, r.getAs[Long]("du").toInt,
      r.getAs[Long]("dv").toInt))
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexp $expected")
    rows.foreach { r =>
      val (cn, du, dv) = (r.getAs[Long]("cn"), r.getAs[Long]("du"),
        r.getAs[Long]("dv"))
      assert(cn <= math.min(du, dv))
      assert(math.abs(r.getAs[Double]("jaccard")
        - cn.toDouble / (du + dv - cn)) < 1e-6)
    }
  }

  test("q78 seasonal index matches a naive per-cell recomputation") {
    val rows = RelationalQueries.q78SeasonalIndex(spark, sf0001)
      .collect().map(r => r.getAs[Int]("mo") ->
        (r.getAs[Long]("n_years"), r.getAs[Double]("seasonal_index"))).toMap
    val cells = graft.sources.Tables.lineitem(spark, sf0001)
      .select(year($"l_shipdate").as("yr"), month($"l_shipdate").as("mo"),
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val ymean = cells.groupBy(_._1._1).map { case (y, cs) =>
      y -> cs.values.sum / cs.size
    }
    val byMo = cells.toSeq.map { case ((y, mo), rev) => mo -> rev / ymean(y) }
      .groupBy(_._1)
    byMo.foreach { case (mo, ratios) =>
      val (ny, idx) = rows(mo)
      assert(ny == ratios.size.toLong)
      assert(math.abs(idx - ratios.map(_._2).sum / ratios.size) < 1e-6,
        s"index mismatch for month $mo")
    }
    // within each year the ratios average to exactly 1 by construction,
    // so the n_years-weighted index mean is 1
    val w = rows.values.map { case (ny, idx) => ny * idx }.sum /
      rows.values.map(_._1).sum
    assert(math.abs(w - 1.0) < 1e-4, s"weighted index mean $w")
  }

  test("kmeans ARI matches the naive pair-counting form") {
    val pairs = Similarity.ariAssignments(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = pairs.length
    def comb2(x: Long) = x * (x - 1) / 2
    val nij = pairs.groupBy(identity).map { case (_, g) => g.length.toLong }
    val ai = pairs.groupBy(_._1).map { case (_, g) => g.length.toLong }
    val bj = pairs.groupBy(_._2).map { case (_, g) => g.length.toLong }
    val (sumComb, aSum, bSum) =
      (nij.map(comb2).sum, ai.map(comb2).sum, bj.map(comb2).sum)
    val exp = aSum.toDouble * bSum.toDouble / comb2(n.toLong).toDouble
    val ari = (sumComb.toDouble - exp) /
      ((aSum.toDouble + bSum.toDouble) / 2.0 - exp)
    val row = Similarity.ssKmeansAri(spark, sf0001).head()
    assert(row.getAs[Long]("n") == n.toLong)
    assert(row.getAs[Long]("sum_comb") == sumComb)
    assert(row.getAs[Long]("a_sum") == aSum)
    assert(row.getAs[Long]("b_sum") == bSum)
    assert(math.abs(row.getAs[Double]("ari") - ari) < 1e-6)
    assert(row.getAs[Double]("ari") <= 1.0 + 1e-9)
    val stay = pairs.count { case (a, b) => a == b }
    assert(row.getAs[Long]("n_same") == stay.toLong)
  }

  test("size percentiles: exact order statistics of the derived sizes") {
    import graft.llm.TextAnalysis.h60
    val rows = graft.llm.Multimodal.mmSizePercentiles(spark, sf0001)
      .collect()
    val magics = array(lit("GIF8"), lit("%PDF"), lit("RIFF"), lit("OggS"))
    val sizes = graft.sources.Tables.documents(spark, sf0001)
      .select(element_at(magics, (h60($"text") % 4 + 1).cast("int"))
        .as("magic"), $"text")
      .select($"magic",
        octet_length(encode(concat($"magic", $"text"), "utf-8"))
          .cast("long").as("nb"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy { case (m, _) => m match {
        case "GIF8" => "gif"; case "%PDF" => "pdf"
        case "RIFF" => "wav"; case _ => "ogg" } }
      .map { case (t, xs) => t -> xs.map(_._2).sorted }
    assert(rows.map(_.getString(0)).toSet == sizes.keySet)
    rows.foreach { r =>
      val xs = sizes(r.getString(0))
      val n = xs.length
      def pct(p: Int): Long = {
        var cum = 0L
        xs.distinct.find { v =>
          cum += xs.count(_ == v); cum * 100 >= p.toLong * n
        }.get
      }
      assert(r.getAs[Long]("n_payloads") == n.toLong)
      assert(r.getAs[Long]("p50_bytes") == pct(50))
      assert(r.getAs[Long]("p90_bytes") == pct(90))
      assert(r.getAs[Long]("p99_bytes") == pct(99))
      assert(r.getAs[Long]("max_bytes") == xs.max)
      assert(r.getAs[Long]("p50_bytes") <= r.getAs[Long]("p90_bytes"))
      assert(r.getAs[Long]("p90_bytes") <= r.getAs[Long]("p99_bytes"))
      assert(r.getAs[Long]("p99_bytes") <= r.getAs[Long]("max_bytes"))
    }
  }

  test("cusum drift track telescopes and flags |cusum| > 2 sigma") {
    val rows = streaming.WindowQueries.stCusumDrift(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("w_start_us"))
    assert(rows.nonEmpty)
    val days = graft.sources.Tables.events(spark, sf0001)
      .select((unix_micros($"ts") / lit(86400000000L)).cast("long")
        .as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, xs) => (d, xs.length, xs.map(_._2).sum / xs.length) }
    assert(rows.length == days.length)
    val gm = days.map(_._3).sum / days.length
    val sd = math.sqrt(
      days.map(x => (x._3 - gm) * (x._3 - gm)).sum / days.length)
    var cum = 0.0
    rows.zip(days).foreach { case (r, (d, cnt, m)) =>
      assert(r.getAs[Long]("w_start_us") == d * 86400000000L)
      assert(r.getAs[Long]("n_events") == cnt.toLong)
      assert(math.abs(r.getAs[Double]("daily_mean") - m) < 1e-6)
      cum += m - gm
      assert(math.abs(r.getAs[Double]("cusum") - cum) < 1e-4,
        s"cusum diverges at day $d")
      assert(r.getAs[Long]("is_drift") ==
        (if (math.abs(r.getAs[Double]("cusum")) > 2.0 * sd) 1L else 0L))
    }
    // the track telescopes: the final cusum is the total deviation = 0
    assert(math.abs(rows.last.getAs[Double]("cusum")) < 1e-4,
      "CUSUM over the full window must telescope to ~0")
  }

  test("novelty curve: first occurrences partition the shingle set") {
    val rows = Dedup.ddNoveltyCurve(spark, sf0001)
      .collect().sortBy(_.getAs[Int]("decile"))
    assert(rows.nonEmpty)
    graft.functions.GraftExtensions.register(spark)
    val ex = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", explode(expr("shingle3(text)")).as("s"))
    // every distinct shingle first-occurs in exactly one document, so
    // the novel counts across deciles partition the distinct-shingle
    // set; the per-doc shingle totals partition the exploded table
    val nDistinct = ex.select($"s").distinct().count()
    val nExploded = ex.count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum == nDistinct)
    assert(rows.map(_.getAs[Long]("n_shingles")).sum == nExploded)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_shingles"))
      val rate = r.getAs[Double]("novelty_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // saturation: the tail decile must be less novel than the head
    assert(rows.last.getAs[Double]("novelty_rate")
      < rows.head.getAs[Double]("novelty_rate"))
  }

  test("clip sweep: tighter clips raise ESS; the c=4 point equals llm_sample_ess") {
    val rows = Sampling.sampleClipSweep(spark, sf0001)
      .collect().sortBy(_.getAs[Double]("clip"))
    assert(rows.map(_.getAs[Double]("clip")).toSeq == Seq(1.5, 4.0, 1000.0))
    val ess = rows.map(_.getAs[Double]("ess"))
    assert(ess.zip(ess.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"ESS must not increase with a looser clip: ${ess.mkString(",")}")
    val clipped = rows.map(_.getAs[Long]("n_clipped"))
    assert(clipped.zip(clipped.tail).forall { case (a, b) => b <= a },
      "a looser bound cannot clip more sources")
    val essOp = Sampling.sampleEss(spark, sf0001)
      .head().getAs[Double]("ess")
    assert(rows(1).getAs[Double]("ess") == essOp,
      "the c=4 sweep point must reproduce llm_sample_ess exactly")
  }

  test("simpson indices match a naive recount on both facets") {
    val rows = graft.llm.TextAnalysis.taSimpson(spark, sf0001)
      .collect().map(r => r.getString(0) -> r).toMap
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"source", $"lang").collect()
    for ((facet, vals) <- Seq(
        "source" -> docs.map(_.getString(0)),
        "lang" -> docs.map(_.getString(1)))) {
      val counts = vals.groupBy(identity).map(_._2.length.toLong)
      val n = vals.length.toLong
      val simpson = 1.0 -
        counts.map(c => c * (c - 1)).sum.toDouble / (n * (n - 1)).toDouble
      val eff = (n * n).toDouble / counts.map(c => c * c).sum.toDouble
      val r = rows(facet)
      assert(r.getAs[Long]("n_categories") == counts.size.toLong)
      assert(r.getAs[Long]("n_docs") == n)
      assert(math.abs(r.getAs[Double]("simpson") - simpson) < 1e-6)
      assert(math.abs(r.getAs[Double]("effective_categories") - eff) < 1e-6)
      assert(r.getAs[Double]("effective_categories")
        <= r.getAs[Long]("n_categories").toDouble + 1e-9)
    }
  }

  test("reciprocity matches a naive nation-grid recomputation") {
    val row = Graph.reciprocity(spark, sf0001).head()
    val grid = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.orders(spark, sf0001),
        $"l_orderkey" === $"o_orderkey")
      .join(graft.sources.Tables.supplier(spark, sf0001),
        $"l_suppkey" === $"s_suppkey")
      .join(graft.sources.Tables.customer(spark, sf0001),
        $"o_custkey" === $"c_custkey")
      .select($"s_nationkey", $"c_nationkey",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .collect()
      .groupBy(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .map { case (k, xs) => k -> xs.map(_.getDouble(2)).sum }
    val off = grid.filter { case ((a, b), _) => a != b }
    val tw = off.values.sum
    val tmin = off.map { case ((a, b), w) =>
      math.min(w, off.getOrElse((b, a), 0.0))
    }.sum
    val dom = grid.collect { case ((a, b), w) if a == b => w }.sum
    assert(row.getAs[Long]("n_edges") == off.size.toLong)
    assert(math.abs(row.getAs[Double]("reciprocity") - tmin / tw) < 1e-6)
    assert(math.abs(row.getAs[Double]("domestic_share")
      - dom / grid.values.sum) < 1e-6)
    assert(row.getAs[Double]("reciprocity") >= 0.0
      && row.getAs[Double]("reciprocity") <= 1.0)
  }

  test("policy mix shift conserves survivors and matches keep-best") {
    val rows = Dedup.ddPolicyMixShift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val kfTot = rows.map(_.getAs[Long]("keep_first")).sum
    val kbTot = rows.map(_.getAs[Long]("keep_best")).sum
    // exactly one survivor per cluster under either policy
    assert(kfTot == kbTot, s"policies keep different totals $kfTot/$kbTot")
    assert(rows.map(_.getAs[Long]("shift")).sum == 0L)
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_first") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("keep_best") <= r.getAs[Long]("n_docs"))
    }
    // the keep-best per-source counts must agree with ddKeepBest's
    // actual winner list
    val winners = Dedup.ddKeepBest(spark, sf0001)
      .select($"keep_doc_id".as("doc_id")).join(
        graft.sources.Tables.documents(spark, sf0001)
          .select($"doc_id", $"source"), "doc_id")
      .groupBy($"source").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_best")
        == winners.getOrElse(r.getString(0), 0L),
        s"keep_best mismatch for ${r.getString(0)}")
    }
  }

  test("source mix: contingency margins and chi-square cells reconcile") {
    val rows = graft.llm.Multimodal.mmSourceMix(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n == graft.sources.Tables.documents(spark, sf0001).count())
    val nTypes = rows.map(_.getString(1)).distinct.length
    rows.groupBy(_.getString(0)).foreach { case (_, cells) =>
      val rt = cells.map(_.getAs[Long]("n")).sum
      val expSum = cells.map(_.getAs[Double]("expected")).sum
      // expected counts preserve the row margin when the source has a
      // cell for every observed type; with absent cells the partial
      // sum is strictly below the margin
      if (cells.length == nTypes)
        assert(math.abs(expSum - rt.toDouble) < 1e-2 * rt,
          s"expected margin $expSum vs $rt")
      else assert(expSum < rt.toDouble + 1e-6)
    }
    rows.foreach { r =>
      assert(r.getAs[Double]("expected") > 0.0)
      assert(r.getAs[Double]("contrib") >= 0.0)
    }
  }

  test("q79 quarter growth matches a naive lag recomputation") {
    val rows = RelationalQueries.q79QuarterGrowth(spark, sf0001)
      .collect().sortBy(r => (r.getAs[Int]("yr"), r.getAs[Int]("qtr")))
    assert(rows.nonEmpty)
    val cells = graft.sources.Tables.lineitem(spark, sf0001)
      .select(year($"l_shipdate").as("yr"),
        (((month($"l_shipdate") + 2) / 3).cast("int")).as("qtr"),
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, xs) => (k, xs.map(_._2).sum) }
    assert(rows.length == cells.length)
    rows.zipWithIndex.foreach { case (r, i) =>
      val (k, rev) = cells(i)
      assert((r.getAs[Int]("yr"), r.getAs[Int]("qtr")) == k)
      assert(math.abs(r.getAs[Long]("revenue") - rev) <= 1.0,
        s"revenue mismatch at $k")
      if (i == 0) assert(r.isNullAt(r.fieldIndex("qoq_growth")))
      else {
        val exp = (rev - cells(i - 1)._2) / cells(i - 1)._2
        assert(math.abs(r.getAs[Double]("qoq_growth") - exp) < 1e-5)
      }
      if (i < 4) assert(r.isNullAt(r.fieldIndex("yoy_growth")))
      else {
        val exp = (rev - cells(i - 4)._2) / cells(i - 4)._2
        assert(math.abs(r.getAs[Double]("yoy_growth") - exp) < 1e-5)
      }
    }
  }

  test("dim audit: var shares partition and moments match a naive pass") {
    val rows = Similarity.ssDimAudit(spark, sf0001)
      .collect().sortBy(_.getAs[Int]("dim"))
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
      .selectExpr("cast(embedding as array<double>) as v")
      .collect().map(_.getSeq[Double](0))
    assert(rows.length == vecs.head.length)
    assert(math.abs(rows.map(_.getAs[Double]("var_share")).sum - 1.0)
      < 1e-4, "var shares must partition total variance")
    rows.foreach { r =>
      val d = r.getAs[Int]("dim")
      val xs = vecs.map(_(d))
      val mean = xs.sum / xs.length
      val v = xs.map(x => (x - mean) * (x - mean)).sum / xs.length
      assert(r.getAs[Long]("n") == xs.length.toLong)
      assert(math.abs(r.getAs[Double]("mean") - mean) < 1e-6)
      assert(math.abs(r.getAs[Double]("variance") - v) < 1e-6)
      assert(r.getAs[Double]("variance") >= 0.0)
      assert(r.getAs[Double]("min_x") <= r.getAs[Double]("max_x"))
    }
  }

  test("df spectrum shares partition and reconcile with the novelty totals") {
    val rows = Dedup.ddDfSpectrum(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("df_bucket"))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getAs[Double]("shingle_share")).sum - 1.0)
      < 1e-4)
    assert(math.abs(rows.map(_.getAs[Double]("occurrence_share")).sum - 1.0)
      < 1e-4)
    // df=1 shingles occur exactly once: counts equal in that bucket
    val d1 = rows.head
    assert(d1.getAs[Long]("df_bucket") == 1L)
    assert(d1.getAs[Long]("n_shingles") == d1.getAs[Long]("n_occurrences"))
    // the spectrum's totals are the SAME distinct-shingle and exploded
    // counts the novelty curve partitions
    val nov = Dedup.ddNoveltyCurve(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_shingles")).sum
      == nov.map(_.getAs[Long]("n_novel")).sum)
    assert(rows.map(_.getAs[Long]("n_occurrences")).sum
      == nov.map(_.getAs[Long]("n_shingles")).sum)
  }

  test("shard affinity buckets partition the multi-member clusters") {
    val rows = Pipeline.shardAffinity(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getAs[Double]("cluster_share")).sum - 1.0)
      < 1e-4)
    assert(math.abs(rows.map(_.getAs[Double]("doc_share")).sum - 1.0)
      < 1e-4)
    val nCl = Dedup.ddCluster(spark, sf0001)
      .filter($"cluster_size" > 1)
      .select($"cluster_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_clusters")).sum == nCl)
    rows.foreach { r =>
      // spread cannot exceed cluster membership
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_clusters"))
    }
  }

  test("pq distortion shares partition; distortion bounds subvector norms") {
    val rows = Similarity.ssPqDistortion(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("subspace"))
    assert(rows.length == 8)
    assert(math.abs(rows.map(_.getAs[Double]("distortion_share")).sum - 1.0)
      < 1e-4)
    val n = rows.head.getAs[Long]("n_vectors")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == n)
      assert(r.getAs[Double]("mean_d2") >= 0.0)
      assert(r.getAs[Double]("max_d2") >= r.getAs[Double]("mean_d2") - 1e-9)
    }
    // seeds (vec_id < 4) encode themselves: their distortion is 0, so
    // mean_d2 over a corpus containing them is strictly below max_d2
    assert(rows.exists(r =>
      r.getAs[Double]("max_d2") > r.getAs[Double]("mean_d2")))
  }

  test("q80 fulfillment spread matches a naive per-order recount") {
    val rows = RelationalQueries.q80FulfillmentSpread(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val perOrder = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_orderkey",
        (year($"l_shipdate") * 12 + month($"l_shipdate")).as("m"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).map { case (k, xs) =>
        k -> math.min(xs.map(_._2).distinct.length, 3) }
    val orderYr = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", year($"o_orderdate")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = perOrder.toSeq
      .map { case (ok, b) => (orderYr(ok), b) }
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    rows.foreach { r =>
      val k = (r.getAs[Int]("yr"), r.getAs[Long]("spread_bucket").toInt)
      assert(r.getAs[Long]("n_orders") == expected((k._1, k._2)),
        s"count mismatch at $k")
    }
    assert(rows.map(_.getAs[Long]("n_orders")).sum
      == expected.values.sum)
    // per-year shares partition
    rows.groupBy(_.getAs[Int]("yr")).foreach { case (_, g) =>
      assert(math.abs(g.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    }
  }

  test("value percentiles: exact order statistics per event type") {
    val rows = streaming.WindowQueries.stValuePercentiles(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val vals = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type", $"value").collect()
      .groupBy(_.getString(0))
      .map { case (t, xs) => t -> xs.map(_.getDouble(1)).sorted }
    assert(rows.map(_.getString(0)).toSet == vals.keySet)
    rows.foreach { r =>
      val xs = vals(r.getString(0))
      val n = xs.length
      def pct(p: Int): Double = {
        var cum = 0L
        xs.distinct.find { v =>
          cum += xs.count(_ == v); cum * 100 >= p.toLong * n
        }.get
      }
      assert(r.getAs[Long]("n_events") == n.toLong)
      assert(r.getAs[Double]("p50_value") == pct(50))
      assert(r.getAs[Double]("p90_value") == pct(90))
      assert(r.getAs[Double]("p99_value") == pct(99))
      assert(r.getAs[Double]("max_value") == xs.max)
    }
  }

  test("q81 discount mix reconciles against naive year sums") {
    val rows = RelationalQueries.q81DiscountMix(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val naive = graft.sources.Tables.lineitem(spark, sf0001)
      .select(year($"l_shipdate"), $"l_discount", $"l_quantity",
        $"l_extendedprice").collect()
      .groupBy(_.getInt(0))
    rows.foreach { r =>
      val xs = naive(r.getAs[Int]("yr"))
      assert(r.getAs[Long]("n_lines") == xs.length.toLong)
      assert(r.getAs[Long]("n_discounted")
        == xs.count(_.getDouble(1) > 0.0).toLong)
      val foregone = xs.map(x => x.getDouble(3) * x.getDouble(1)).sum
      assert(math.abs(r.getAs[Long]("foregone_revenue") - foregone) <= 1.0)
      val gross = xs.map(_.getDouble(3)).sum
      assert(math.abs(r.getAs[Double]("foregone_share") - foregone / gross)
        < 1e-5)
      assert(r.getAs[Double]("mean_depth_qty_weighted") >= 0.0
        && r.getAs[Double]("mean_depth_qty_weighted") <= 0.1 + 1e-9)
    }
  }

  test("dedup weights: unit mass per content family, shrink in [0,1)") {
    val rows = Sampling.sampleDedupWeights(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // Σ effective docs = clusters + unclustered singletons: every
    // content family contributes exactly unit mass
    val cl = Dedup.ddCluster(spark, sf0001)
      .select($"doc_id", $"cluster_id").collect()
    val nFamilies = cl.map(_.getAs[Long]("cluster_id")).distinct.length +
      (nDocs - cl.length)
    val eff = rows.map(_.getAs[Double]("effective_docs")).sum
    assert(math.abs(eff - nFamilies.toDouble) < 1e-3,
      s"effective mass $eff vs $nFamilies families")
    rows.foreach { r =>
      assert(r.getAs[Double]("dedup_shrink") >= -1e-9)
      assert(r.getAs[Double]("dedup_shrink") < 1.0)
      assert(r.getAs[Double]("effective_docs")
        <= r.getAs[Long]("n_docs").toDouble + 1e-9)
    }
  }

  test("dow anomaly flags exactly the naive z>1.5 hours") {
    val rows = streaming.WindowQueries.stDowAnomaly(spark, sf0001).collect()
    val hours = graft.sources.Tables.events(spark, sf0001)
      .select((unix_micros($"ts") / lit(3600000000L)).cast("long")
        .as("hr")).collect().map(_.getLong(0))
      .groupBy(identity).map { case (h, xs) => h -> xs.size }
    val cells = hours.toSeq
      .groupBy { case (h, _) => (((h / 24) + 3) % 7, h % 24) }
    val expected = cells.flatMap { case (_, members) =>
      val cs = members.map(_._2.toDouble)
      val n = cs.size.toDouble
      val mean = cs.sum / n
      val sd = math.sqrt(cs.map(c => (c - mean) * (c - mean)).sum / n)
      if (sd > 0.0)
        members.filter { case (_, c) => (c - mean) / sd > 1.5 }.map(_._1)
      else Seq.empty
    }.toSet
    assert(rows.map(_.getAs[Long]("w_start_us") / 3600000000L).toSet
      == expected, s"flag sets differ (got ${rows.length}, " +
      s"expected ${expected.size})")
    rows.foreach(r => assert(r.getAs[Double]("zscore") > 1.5))
  }

  /** Shared naive (p, y) collection for the wave-38 model-metric tests —
    * the scored corpus pulled to the driver once at fixture scale. */
  private lazy val scoredFixture: Array[(Double, Double)] =
    graft.llm.Models.aucScored(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))

  private def q12(x: Double): BigDecimal =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("pr summary matches a naive tie-block trapezoid recomputation") {
    val row = graft.llm.Models.prSummary(spark, sf0001).collect().head
    val np = scoredFixture.count(_._2 == 1.0).toDouble
    val blocks = scoredFixture.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (p, xs) =>
        (p, xs.count(_._2 == 1.0).toLong, xs.count(_._2 == 0.0).toLong) }
    var (cumPos, cumAll) = (0L, 0L)
    var precPrev = 1.0
    var ap = BigDecimal(0)
    var bestF1 = 0.0
    var bestThr = Double.MaxValue
    blocks.foreach { case (p, pos, neg) =>
      cumPos += pos; cumAll += pos + neg
      val prec = cumPos.toDouble / cumAll.toDouble
      val f1 = 2.0 * cumPos.toDouble / (np + cumAll.toDouble)
      ap += q12((pos.toDouble / np) * (prec + precPrev) / 2.0)
      if (f1 > bestF1) { bestF1 = f1; bestThr = p }
      else if (f1 == bestF1 && p < bestThr) bestThr = p
      precPrev = prec
    }
    assert(row.getAs[Long]("n_scores") == blocks.length)
    assert(row.getAs[Double]("pr_auc") == r6(ap.toDouble),
      s"AP ${row.getAs[Double]("pr_auc")} != naive ${r6(ap.toDouble)}")
    assert(row.getAs[Double]("best_f1") == r6(bestF1))
    assert(row.getAs[Double]("best_f1_threshold") == r6(bestThr))
  }

  test("brier matches naive sums and the decomposition identity closes") {
    val row = graft.llm.Models.brier(spark, sf0001).collect().head
    val n = scoredFixture.length.toDouble
    val bs = scoredFixture.map { case (p, y) => q12((p - y) * (p - y)) }
      .sum.toDouble / n
    assert(row.getAs[Double]("brier") == r6(bs))
    val obar = scoredFixture.count(_._2 == 1.0).toDouble / n
    val bins = scoredFixture.groupBy { case (p, _) =>
      math.min(math.floor(p * 10).toInt, 9) }
    val rel = bins.values.map { xs =>
      val nk = xs.length.toDouble
      val pbar = xs.map(x => q12(x._1)).sum.toDouble / nk
      val ok = xs.count(_._2 == 1.0).toDouble / nk
      q12(nk * (pbar - ok) * (pbar - ok))
    }.sum.toDouble / n
    val res = bins.values.map { xs =>
      val nk = xs.length.toDouble
      val ok = xs.count(_._2 == 1.0).toDouble / nk
      q12(nk * (ok - obar) * (ok - obar))
    }.sum.toDouble / n
    assert(row.getAs[Double]("reliability") == r6(rel))
    assert(row.getAs[Double]("resolution") == r6(res))
    assert(row.getAs[Double]("uncertainty") == r6(obar * (1.0 - obar)))
    // the published gap closes the Murphy identity up to the four
    // independent 1e-6 roundings
    val lhs = row.getAs[Double]("brier")
    val rhs = row.getAs[Double]("reliability") -
      row.getAs[Double]("resolution") + row.getAs[Double]("uncertainty") +
      row.getAs[Double]("decomp_gap")
    assert(math.abs(lhs - rhs) < 5e-6, s"identity gap ${lhs - rhs}")
    assert(row.getAs[Double]("reliability") >= 0.0)
    assert(row.getAs[Double]("resolution") >= 0.0)
    assert(row.getAs[Double]("uncertainty") <= 0.25 + 1e-12)
  }

  test("ks matches the naive max-CDF-gap and its Youden threshold") {
    val row = graft.llm.Models.ks(spark, sf0001).collect().head
    val np = scoredFixture.count(_._2 == 1.0).toDouble
    val nn = scoredFixture.count(_._2 == 0.0).toDouble
    val blocks = scoredFixture.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (p, xs) =>
        (p, xs.count(_._2 == 1.0).toLong, xs.count(_._2 == 0.0).toLong) }
    var (cumPos, cumNeg) = (0L, 0L)
    val diffs = blocks.map { case (p, pos, neg) =>
      cumPos += pos; cumNeg += neg
      (p, math.abs(cumPos.toDouble / np - cumNeg.toDouble / nn))
    }
    val ksNaive = diffs.map(_._2).max
    val thrNaive = diffs.filter(_._2 == ksNaive).map(_._1).min
    assert(row.getAs[Double]("ks") == r6(ksNaive))
    assert(row.getAs[Double]("ks_threshold") == r6(thrNaive))
    assert(row.getAs[Long]("n_scores") == blocks.length)
    assert(ksNaive > 0.0 && ksNaive <= 1.0)
  }

  test("hits weights match a naive integer power iteration") {
    val pairs = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf0001)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // h0 = 1; three exact integer half-step pairs (a_k then h_k)
    var h = pairs.map(_._1).distinct.map(_ -> BigInt(1)).toMap
    var a = Map.empty[Long, BigInt]
    for (_ <- 1 to 3) {
      a = pairs.groupBy(_._2).map { case (s, es) =>
        s -> es.map(e => h(e._1)).sum }
      h = pairs.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => a(e._2)).sum }
    }
    val (a3, h3) = graft.llm.Graph.hitsWeights(spark, sf0001)
    val aGot = a3.collect()
      .map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
    val hGot = h3.collect()
      .map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger)).toMap
    assert(aGot == a, "authority weights diverge from naive iteration")
    assert(hGot == h, "hub weights diverge from naive iteration")
    // registered projection: 15 per side, L1 scores in (0, 1]
    val rows = graft.llm.Graph.hits(spark, sf0001).collect()
    assert(rows.count(_.getString(0) == "authority")
      == math.min(15, aGot.size))
    assert(rows.count(_.getString(0) == "hub") == math.min(15, hGot.size))
    rows.foreach(r => assert(r.getAs[Double]("score") > 0.0 &&
      r.getAs[Double]("score") <= 1.0))
  }

  test("ndcg matches a naive per-method recomputation and is bounded") {
    val exact = graft.llm.Similarity.ssTopk(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"),
        6L - r.getAs[Int]("rank")))
    val rel = exact.map { case (q, n, g) => (q, n) -> g }.toMap
    val methods = Map(
      "lsh_probe" -> graft.llm.Similarity.ssLshProbe(spark, sf0001),
      "ivf_probe" -> graft.llm.Similarity.ssIvfProbe(spark, sf0001),
      "pq_adc_trained" -> graft.llm.Similarity.ssPqSearchTrained(spark, sf0001),
      "sq8_asym" -> graft.llm.Similarity.ssSq8Search(spark, sf0001))
    val idcg = 5.0 / math.log(2.0) + 4.0 / math.log(3.0) +
      3.0 / math.log(4.0)
    val got = graft.llm.Similarity.ssNdcg(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getAs[Long]("q_id")) ->
        (r.getAs[Long]("n_rel"), r.getAs[Double]("dcg"),
          r.getAs[Double]("ndcg"))).toMap
    assert(got.size == 4 * exact.map(_._1).distinct.length)
    methods.foreach { case (name, df) =>
      val ret = df.collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank")))
        .filter(_._1 < 5)
      ret.groupBy(_._1).foreach { case (q, xs) =>
        val dcg = xs.map { case (_, n, pos) =>
          q12(rel.getOrElse((q, n), 0L).toDouble * 1.0
            / math.log((pos + 1).toDouble)) }.sum.toDouble
        val (gotRel, gotDcg, gotNdcg) = got((name, q))
        assert(gotRel == xs.count(x => rel.contains((q, x._2))))
        assert(gotDcg == r6(dcg), s"$name q$q dcg $gotDcg != ${r6(dcg)}")
        assert(gotNdcg == r6(dcg / idcg))
        assert(gotNdcg >= 0.0 && gotNdcg <= 1.0 + 1e-9)
      }
    }
  }

  test("burst episodes partition the naive flagged-hour set into runs") {
    val hours = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type",
        floor(unix_micros($"ts") / lit(3600000000L)).as("hr"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val flagged = hours.groupBy(_._1._1).flatMap { case (t, cells) =>
      val cs = cells.values.map(_.toDouble)
      val n = cs.size.toDouble
      val mean = cs.sum / n
      val sd = math.sqrt(cs.map(c => (c - mean) * (c - mean)).sum / n)
      if (sd > 0.0)
        cells.filter { case (_, c) => (c - mean) / sd > 2.0 }
          .map { case ((_, hr), c) => (t, hr, c) }
      else Seq.empty
    }.toSeq
    val rows = graft.streaming.WindowQueries
      .stBurstEpisodes(spark, sf0001).collect()
    // episodes cover exactly the flagged hours, as maximal runs
    assert(rows.map(_.getAs[Long]("len_hours")).sum == flagged.size)
    val byType = flagged.groupBy(_._1)
    rows.groupBy(_.getString(0)).foreach { case (t, eps) =>
      val f = byType(t).map(_._2).toSet
      val counts = byType(t).map(x => x._2 -> x._3).toMap
      eps.foreach { e =>
        val start = e.getAs[Long]("start_us") / 3600000000L
        val len = e.getAs[Long]("len_hours")
        // every hour in the episode is flagged; the hours on both
        // sides are not (maximality)
        (start until start + len).foreach(hr => assert(f.contains(hr)))
        assert(!f.contains(start - 1) && !f.contains(start + len))
        assert(e.getAs[Long]("peak_events")
          == (start until start + len).map(counts).max)
        assert(e.getAs[Long]("sum_events")
          == (start until start + len).map(counts).sum)
      }
    }
  }

  test("source similarity matches a naive top-50-vocab cosine") {
    val terms = graft.sources.Tables.documents(spark, sf0001)
      .select($"source", $"text").collect()
      .flatMap(r => r.getString(1).split(" ").map(t => (r.getString(0), t)))
    val vocab = terms.groupBy(_._2).view.mapValues(_.length).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(50).map(_._1).toSet
    val st = terms.filter(t => vocab.contains(t._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bySrc = st.groupBy(_._1._1)
      .map { case (s, m) => s -> m.map { case (((_, t)), c) => t -> c } }
    val norms = bySrc.view.mapValues(m =>
      math.sqrt(m.values.map(c => c * c).sum.toDouble)).toMap
    val rows = graft.llm.TextAnalysis.taSourceSimilarity(spark, sf0001)
      .collect()
    val srcs = bySrc.keys.toSeq.sorted
    assert(rows.length == srcs.size * (srcs.size - 1) / 2)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val shared = bySrc(a).keySet.intersect(bySrc(b).keySet)
      val dot = shared.toSeq.map(t => bySrc(a)(t) * bySrc(b)(t)).sum
      assert(r.getAs[Long]("n_shared") == shared.size)
      assert(r.getAs[Double]("cosine")
        == r6(dot.toDouble / (norms(a) * norms(b))))
      assert(r.getAs[Double]("cosine") >= 0.0 &&
        r.getAs[Double]("cosine") <= 1.0 + 1e-9)
    }
  }

  test("scene segments histogram matches a naive md5-hash recount") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val naive = docs.map { case (id, nc) =>
      val nf = math.min(nc / 10 + 1, 50L)
      val fhs = (0L until nf).filter(_ % 5 == 0)
        .map(i => h60(s"$id:$i"))
      val cuts = fhs.sliding(2).count {
        case Seq(a, b) => java.lang.Long.bitCount(a ^ b) > 34
        case _ => false
      }
      (cuts + 1L, fhs.length.toLong)
    }
    val expected = naive.groupBy(_._1).map { case (k, xs) =>
      k -> (xs.length.toLong,
        xs.map(x => q12(x._2.toDouble)).sum.toDouble / xs.length) }
    val rows = graft.llm.Multimodal.mmSceneSegments(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("n_videos")).sum == docs.length)
    rows.foreach { r =>
      val (nv, avg) = expected(r.getAs[Long]("n_scenes"))
      assert(r.getAs[Long]("n_videos") == nv)
      assert(r.getAs[Double]("avg_sampled_frames") == r6(avg))
    }
    assert(rows.length == expected.size)
  }

  test("hourly concurrency matches a naive session-interval unroll") {
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id", unix_micros($"ts").as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val gap = 1800000000L
    val sessions = evs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val ts = xs.map(_._2).sorted
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var (s, e) = (ts.head, ts.head)
      ts.tail.foreach { t =>
        if (t - e > gap) { buf += ((s, e + gap)); s = t; e = t }
        else e = t
      }
      buf += ((s, e + gap))
      buf.map { case (a, b) => (u, a, b) }
    }
    val perHour = sessions.flatMap { case (u, s, e) =>
      (s / 3600000000L to (e - 1) / 3600000000L).map(hr => (hr, u)) }
    val expected = perHour.groupBy(_._1).map { case (hr, xs) =>
      hr -> (xs.length.toLong, xs.map(_._2).distinct.length.toLong) }
    val rows = graft.streaming.WindowQueries.stConcurrency(spark, sf0001)
      .collect()
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (ns, nu) = expected(r.getAs[Long]("hr_start_us") / 3600000000L)
      assert(r.getAs[Long]("n_sessions") == ns)
      assert(r.getAs[Long]("n_users") == nu)
    }
  }

  test("rich club ladder matches a naive degree-cutoff recount") {
    val pairs = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf0001)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val rows = graft.llm.Graph.richClub(spark, sf0001).collect()
    assert(rows.nonEmpty)
    var prevN = Long.MaxValue
    rows.foreach { r =>
      val k = r.getAs[Long]("k")
      val nK = deg.count(_._2 > k).toLong
      val eK = edges.count { case (a, b) => deg(a) > k && deg(b) > k }.toLong
      assert(r.getAs[Long]("n_k") == nK, s"k=$k n_k")
      assert(r.getAs[Long]("e_k") == eK, s"k=$k e_k")
      assert(r.getAs[Double]("phi")
        == r6(eK.toDouble / (nK.toDouble * (nK - 1).toDouble)))
      assert(nK <= prevN, "N_k must be non-increasing in k"); prevN = nK
    }
    // every ladder rung with at least 2 qualifying nodes is present
    assert(rows.length ==
      (0 until 12).map(1L << _).count(k => deg.count(_._2 > k) >= 2))
  }

  test("confusion matrix at the best-F1 gate closes its identities") {
    val row = graft.llm.Models.confusion(spark, sf0001).collect().head
    val (tp, fp) = (row.getAs[Long]("tp"), row.getAs[Long]("fp"))
    val (tn, fn) = (row.getAs[Long]("tn"), row.getAs[Long]("fn"))
    val np = row.getAs[Long]("n_pos")
    assert(tp + fn == np)
    assert(tp + fp + tn + fn == row.getAs[Long]("n"))
    // the gate really is the best-F1 operating point from prSummary
    val pr = graft.llm.Models.prSummary(spark, sf0001).collect().head
    assert(row.getAs[Double]("threshold")
      == pr.getAs[Double]("best_f1_threshold"))
    val f1FromCounts = 2.0 * tp.toDouble / (np.toDouble + (tp + fp).toDouble)
    assert(r6(f1FromCounts) == pr.getAs[Double]("best_f1"),
      s"gate F1 ${r6(f1FromCounts)} != declared ${pr.getAs[Double]("best_f1")}")
    // naive recount at the EXACT (unrounded) best-F1 gate, re-derived
    // from the scored corpus the same way the PR test does
    val np2 = scoredFixture.count(_._2 == 1.0).toDouble
    val blocks = scoredFixture.groupBy(_._1).toSeq.sortBy(-_._1)
      .map { case (p, xs) => (p, xs.length.toLong) }
    var cumAll = 0L
    var cumPos = 0L
    var bestF1 = 0.0
    var bestThr = Double.MaxValue
    scoredFixture.groupBy(_._1).toSeq.sortBy(-_._1).foreach { case (p, xs) =>
      cumPos += xs.count(_._2 == 1.0); cumAll += xs.length
      val f1 = 2.0 * cumPos.toDouble / (np2 + cumAll.toDouble)
      if (f1 > bestF1) { bestF1 = f1; bestThr = p }
      else if (f1 == bestF1 && p < bestThr) bestThr = p
    }
    assert(tp == scoredFixture.count { case (p, y) =>
      y == 1.0 && p >= bestThr })
    assert(fp == scoredFixture.count { case (p, y) =>
      y == 0.0 && p >= bestThr })
    assert(row.getAs[Double]("mcc") >= -1.0 &&
      row.getAs[Double]("mcc") <= 1.0)
    assert(blocks.map(_._2).sum == scoredFixture.length)
  }

  test("deff decomposition closes the ANOVA identity") {
    val row = graft.llm.Sampling.sampleDeff(spark, sf0001).collect().head
    val (vt, vw, vb) = (row.getAs[Double]("var_total"),
      row.getAs[Double]("var_within"), row.getAs[Double]("var_between"))
    assert(math.abs(vt - (vw + vb)) < 5e-6,
      s"ANOVA identity broken: $vt != $vw + $vb")
    assert(vw >= 0.0 && vb >= 0.0)
    assert(math.abs(row.getAs[Double]("deff")
      + row.getAs[Double]("pct_explained") - 1.0) < 5e-6)
    // naive recomputation from the collected (source, quality) rows
    val sq = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source")
      .join(graft.llm.TextAnalysis.taQuality(spark, sf0001)
        .select($"doc_id", $"quality"), "doc_id")
      .select($"source", $"quality").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val n = sq.length.toDouble
    val ybar = sq.map(x => q12(x._2)).sum.toDouble / n
    val vtN = sq.map(x => q12(x._2 * x._2)).sum.toDouble / n - ybar * ybar
    assert(vt == r6(vtN), s"var_total $vt != naive ${r6(vtN)}")
    assert(row.getAs[Long]("n") == sq.length)
    assert(row.getAs[Long]("n_sources") == sq.map(_._1).distinct.length)
  }

  test("allocation variances obey Neyman optimality and match naive") {
    val rows = graft.llm.Sampling.sampleAllocVariance(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_budget"), r.getAs[Double]("var_mean"),
          r.getAs[Double]("rel_efficiency"))).toMap
    assert(rows.keySet == Set("equal", "neyman", "proportional", "srs"))
    val (n0, vNey, _) = rows("neyman")
    val (_, vProp, _) = rows("proportional")
    val (_, vSrs, effSrs) = rows("srs")
    // Neyman is the variance-optimal allocation (Cauchy–Schwarz)
    assert(vNey <= vProp + 1e-12)
    // stratification never hurts vs SRS under proportional allocation
    assert(vProp <= vSrs + 1e-12)
    assert(effSrs == 1.0)
    // naive recomputation of the proportional variance
    val sq = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"source")
      .join(graft.llm.TextAnalysis.taQuality(spark, sf0001)
        .select($"doc_id", $"quality"), "doc_id")
      .select($"source", $"quality").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val n = sq.length.toLong
    assert(n0 == n / 10L)
    val byS = sq.groupBy(_._1)
    val propNaive = byS.values.map { xs =>
      val ns = xs.length.toDouble
      val sy = xs.map(x => q12(x._2)).sum.toDouble
      val syy = xs.map(x => q12(x._2 * x._2)).sum.toDouble
      q12(ns / n.toDouble * (syy / ns - (sy / ns) * (sy / ns)))
    }.sum.toDouble / (n / 10L).toDouble
    assert(vProp == BigDecimal(propNaive)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("ivm cost cumulatives close against corpus totals") {
    val cost = graft.llm.Pipeline.ivmCost(spark, sf0001).collect()
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select(floor(unix_micros($"ts") / lit(86400000000L)).as("d"),
        $"user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cost.map(_.getAs[Long]("n_delta")).sum == evs.length)
    assert(cost.last.getAs[Long]("n_full_cum") == evs.length)
    assert(cost.last.getAs[Long]("n_state_users")
      == evs.map(_._2).distinct.length)
    // per-day recount + running identities
    val byDay = evs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val firstSeen = evs.groupBy(_._2).view.mapValues(_.map(_._1).min)
      .toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    var (cum, users) = (0L, 0L)
    cost.foreach { r =>
      val d = r.getAs[Long]("day_start_us") / 86400000000L
      assert(r.getAs[Long]("n_delta") == byDay(d))
      cum += byDay(d); users += firstSeen.getOrElse(d, 0L)
      assert(r.getAs[Long]("n_full_cum") == cum)
      assert(r.getAs[Long]("n_state_users") == users)
      val share = r.getAs[Double]("inc_share")
      assert(share > 0.0 && share <= 1.0)
    }
  }

  test("session type lift matches a naive per-user session basket") {
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id", unix_micros($"ts").as("us"), $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val gap = 1800000000L
    val sessions = evs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val sorted = xs.sortBy(_._2)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.Set[String]]
      var lastTs = Long.MinValue
      sorted.foreach { case (_, t, ty) =>
        if (buf.isEmpty || t - lastTs > gap)
          buf += scala.collection.mutable.Set(ty)
        else buf.last += ty
        lastTs = t
      }
      buf.map(_.toSet)
    }
    val nSess = sessions.length.toDouble
    val perType = sessions.flatMap(_.toSeq).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val perPair = sessions.flatMap(s =>
      s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = graft.streaming.WindowQueries
      .stSessionTypeLift(spark, sf0001).collect()
    assert(rows.length == perPair.size)
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("n_both") == perPair(key))
      assert(r.getAs[Long]("n_a") == perType(key._1))
      assert(r.getAs[Long]("n_b") == perType(key._2))
      assert(r.getAs[Double]("lift") == r6(nSess * perPair(key).toDouble
        / (perType(key._1).toDouble * perType(key._2).toDouble)))
    }
  }

  test("learning curve nests and its 100% point equals the logreg fit") {
    val rows = graft.llm.Models.learningCurve(spark, sf0001).collect()
      .map(r => r.getAs[Long]("pct_train") -> r).toMap
    assert(rows.keySet == Set(25L, 50L, 75L, 100L))
    // training slices nest, so n_train is strictly ordered
    val ns = Seq(25L, 50L, 75L, 100L).map(rows(_).getAs[Long]("n_train"))
    assert(ns == ns.sorted && ns.distinct == ns)
    // the 100% slice IS the full corpus: weights and accuracy must
    // reproduce llm_ta_logreg exactly
    val lr = graft.llm.Models.logreg(spark, sf0001).collect().head
    val full = rows(100L)
    assert(full.getAs[Long]("n_train") == lr.getAs[Long]("n"))
    assert(full.getAs[Double]("w_chars") == lr.getAs[Double]("w_chars"))
    assert(full.getAs[Double]("w_words") == lr.getAs[Double]("w_words"))
    assert(full.getAs[Double]("intercept") == lr.getAs[Double]("intercept"))
    assert(full.getAs[Double]("accuracy") == lr.getAs[Double]("accuracy"))
    rows.values.foreach { r =>
      val a = r.getAs[Double]("accuracy")
      assert(a >= 0.0 && a <= 1.0)
    }
  }

  test("modularity contributions close against a naive edge recount") {
    val pairs = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf0001)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nat = (graft.sources.Tables.customer(spark, sf0001)
        .select(($"c_custkey" * 2).as("n"), $"c_nationkey").collect() ++
      graft.sources.Tables.supplier(spark, sf0001)
        .select(($"s_suppkey" * 2 + 1).as("n"), $"s_nationkey").collect())
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val edges = pairs.flatMap { case (c, s) => Seq((c, s), (s, c)) }
    val m = edges.length.toDouble
    val rows = graft.llm.Graph.modularity(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("degree_sum")).sum == edges.length)
    var q = 0.0
    rows.foreach { r =>
      val n = r.getAs[Number]("nation").longValue
      val internal = edges.count { case (a, b) =>
        nat(a) == n && nat(b) == n }
      val degSum = edges.count { case (a, _) => nat(a) == n }
      assert(r.getAs[Long]("internal_edges") == internal)
      assert(r.getAs[Long]("degree_sum") == degSum)
      assert(r.getAs[Double]("contribution")
        == r6(internal.toDouble / m
          - (degSum.toDouble / m) * (degSum.toDouble / m)))
      q += r.getAs[Double]("contribution")
    }
    assert(q > -1.0 && q < 1.0, s"modularity Q=$q out of range")
  }

  test("return-repurchase rates match a naive consecutive-order pass") {
    val flags = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy($"l_orderkey")
      .agg(max(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ords = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_custkey", $"o_orderkey",
        datediff($"o_orderdate", lit("1970-01-01")).as("ep"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(o => flags.contains(o._2))
    val pairs = ords.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val sorted = xs.sortBy(o => (o._3, o._2))
      sorted.zip(sorted.tail).map { case (a, b) =>
        (flags(a._2), (b._3 - a._3).toLong) }
    }
    val rows = graft.operators.RelationalQueries
      .q82ReturnRepurchase(spark, sf0001).collect()
    assert(rows.length == pairs.map(_._1).distinct.length)
    rows.foreach { r =>
      val f = r.getAs[Long]("returned")
      val g = pairs.filter(_._1 == f).map(_._2)
      assert(r.getAs[Long]("n_pairs") == g.length)
      assert(r.getAs[Long]("n_within_30d") == g.count(_ <= 30L))
      val sortedG = g.sorted
      // histogram-cumulative median: smallest gap with 2·cum ≥ n
      val med = sortedG((g.length - 1) / 2)
      assert(r.getAs[Long]("median_gap_days") == med,
        s"flag $f median ${r.getAs[Long]("median_gap_days")} != $med")
      assert(r.getAs[Double]("rate_30d")
        == r6(g.count(_ <= 30L).toDouble / g.length.toDouble))
    }
  }

  test("detector agreement counts match the two collected pair sets") {
    val mh = graft.llm.Dedup.ddMinhashLsh(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val sp = graft.llm.Dedup.ddSimhashPairs(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val row = graft.llm.Dedup.ddDetectorAgreement(spark, sf0001)
      .collect().head
    val both = mh.intersect(sp).size.toLong
    assert(row.getAs[Long]("n_minhash") == mh.size)
    assert(row.getAs[Long]("n_simhash") == sp.size)
    assert(row.getAs[Long]("n_both") == both)
    val union = mh.size + sp.size - both
    if (union > 0)
      assert(row.getAs[Double]("jaccard")
        == r6(both.toDouble / union.toDouble))
    assert(row.getAs[Long]("n_both")
      <= math.min(row.getAs[Long]("n_minhash"), row.getAs[Long]("n_simhash")))
  }

  test("dispersion index matches a naive zero-corrected minute recount") {
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type",
        floor(unix_micros($"ts") / lit(60000000L)).as("m"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val lo = evs.map(_._2).min
    val hi = evs.map(_._2).max
    val horizon = (hi - lo + 1).toDouble
    val rows = graft.streaming.WindowQueries.stDispersion(spark, sf0001)
      .collect()
    assert(rows.length == evs.map(_._1).distinct.length)
    rows.foreach { r =>
      val t = r.getString(0)
      val cs = evs.filter(_._1 == t).groupBy(_._2)
        .map(_._2.length.toLong).toSeq
      assert(r.getAs[Long]("n_events") == cs.sum)
      assert(r.getAs[Long]("n_active_minutes") == cs.length)
      assert(r.getAs[Long]("n_minutes") == (hi - lo + 1))
      val mean = cs.sum.toDouble / horizon
      val varZ = (cs.map(c => c.toDouble * c.toDouble).sum / horizon
        - mean * mean)
      assert(r.getAs[Double]("dispersion") == r6(varZ / mean))
      val verdict = if (varZ / mean > 1.5) "overdispersed"
        else if (varZ / mean < 0.67) "underdispersed" else "poisson-like"
      assert(r.getString(5) == verdict)
    }
  }

  test("source lexical health matches a naive per-source vocabulary") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val rows = graft.llm.TextAnalysis.taSourceLexicalHealth(spark, sf0001)
      .collect()
    assert(rows.length == docs.map(_._1).distinct.length)
    rows.foreach { r =>
      val s = r.getString(0)
      val toks = docs.filter(_._1 == s).flatMap(_._2.split(" "))
      val counts = toks.groupBy(identity).view.mapValues(_.length).toMap
      assert(r.getAs[Long]("n_docs") == docs.count(_._1 == s))
      assert(r.getAs[Long]("n_tokens") == toks.length)
      assert(r.getAs[Long]("vocab") == counts.size)
      assert(r.getAs[Long]("hapax") == counts.count(_._2 == 1))
      assert(r.getAs[Double]("ttr")
        == r6(counts.size.toDouble / toks.length.toDouble))
      assert(r.getAs[Double]("hapax_share")
        == r6(counts.count(_._2 == 1).toDouble / counts.size.toDouble))
    }
  }

  test("threshold sweep is monotone and agrees with the scored corpus") {
    val rows = graft.llm.Models.thresholdSweep(spark, sf0001).collect()
    assert(rows.length == 9)
    // predicted-positive counts shrink as the gate tightens; recall is
    // non-increasing in threshold
    val preds = rows.map(r => r.getAs[Long]("tp") + r.getAs[Long]("fp"))
    assert(preds.zip(preds.tail).forall { case (a, b) => a >= b })
    val recalls = rows.map(_.getAs[Double]("recall"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b })
    val np = scoredFixture.count(_._2 == 1.0).toDouble
    rows.foreach { r =>
      val t = r.getAs[Double]("threshold")
      val tp = scoredFixture.count { case (p, y) => y == 1.0 && p >= t }
      val fp = scoredFixture.count { case (p, y) => y == 0.0 && p >= t }
      assert(r.getAs[Long]("tp") == tp, s"t=$t tp")
      assert(r.getAs[Long]("fp") == fp, s"t=$t fp")
      assert(r.getAs[Double]("f1")
        == r6(2.0 * tp.toDouble / (np + (tp + fp).toDouble)))
    }
  }

  test("whale mass matches a naive per-type value recount") {
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type", $"value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val rows = graft.streaming.WindowQueries.stWhaleMass(spark, sf0001)
      .collect()
    assert(rows.length == evs.map(_._1).distinct.length)
    rows.foreach { r =>
      val t = r.getString(0)
      val vs = evs.filter(_._1 == t).map(_._2)
      assert(r.getAs[Long]("n_events") == vs.length)
      // p99: smallest value with 100·cum ≥ 99·n over sorted values
      val sorted = vs.sorted
      val idx = sorted.indices.find(i => (i + 1) * 100 >= vs.length * 99).get
      val v99 = sorted(idx)
      assert(r.getAs[Double]("p99_value") == r6(v99))
      val whales = vs.filter(_ > v99)
      assert(r.getAs[Long]("n_whales") == whales.length)
      def d6(xs: Seq[Double]) =
        xs.map(x => BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble
      assert(r.getAs[Double]("whale_value_share")
        == r6(d6(whales) / d6(vs)))
      assert(r.getAs[Double]("whale_value_share") >= 0.0 &&
        r.getAs[Double]("whale_value_share") <= 1.0)
    }
  }

  test("cosine histogram covers all panel pairs with consistent bins") {
    val rows = graft.llm.Similarity.ssCosineHistogram(spark, sf0001)
      .collect()
    val nVec = math.min(100L,
      graft.sources.Tables.embeddings(spark, sf0001).count())
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == nVec * (nVec - 1) / 2)
    rows.foreach { r =>
      val bin = r.getAs[Int]("bin")
      assert(bin >= 0 && bin <= 39)
      val m = r.getAs[Double]("mean_cosine")
      // the bin's mean lies inside the bin's half-open interval
      // (upper edge inclusive only for the clamped top bin)
      val lo = bin / 20.0 - 1.0
      assert(m >= lo - 1e-9 && m <= lo + 0.05 + 1e-9,
        s"bin $bin mean $m outside [$lo, ${lo + 0.05}]")
    }
  }

  test("st_acf matches a naive dense-grid autocorrelation") {
    val rows = graft.streaming.WindowQueries.stAcf(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val hourUs = 3600000000L
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type", $"ts").collect()
      .map(r => (r.getString(0),
        (r.getTimestamp(1).getTime / 3600000L) * hourUs))
    val mn = evs.map(_._2).min
    val mx = evs.map(_._2).max
    val hours = (mn to mx by hourUs).toArray
    val counts = evs.groupBy(identity).map { case (k, xs) => k -> xs.length }
    val types = evs.map(_._1).distinct.sorted
    assert(rows.length == types.length * 4)
    def q12sum(xs: Seq[Double]) = xs.map(q12).sum.toDouble
    types.foreach { t =>
      val series = hours.map(h => counts.getOrElse((t, h), 0).toDouble)
      val n = series.length
      val mu = series.sum / n
      val d = series.map(_ - mu)
      val den = q12sum(d.map(x => x * x).toSeq)
      Seq(1, 6, 12, 24).foreach { lag =>
        val r = rows.find(r =>
          r.getString(0) == t && r.getAs[Long]("lag") == lag.toLong).get
        assert(r.getAs[Long]("n_pairs") == (n - lag).toLong)
        val num = q12sum((lag until n).map(i => d(i) * d(i - lag)))
        val expect = if (den == 0.0) 0.0 else r6(num / den)
        assert(r.getAs[Double]("acf") == expect,
          s"acf mismatch for ($t, lag=$lag)")
        assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-6)
      }
    }
  }

  test("q83 price dispersion matches a naive per-part recount") {
    val rows = RelationalQueries.q83PriceDispersion(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice", $"l_quantity")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val spMap = li.groupBy(x => (x._1, x._2)).map { case (k, xs) =>
      k -> (xs.map(x => q12(x._3 / x._4)).sum.toDouble / xs.length)
    }
    val parts = spMap.groupBy(_._1._1).collect {
      case (p, m) if m.size >= 3 =>
        val sps = m.values.toSeq
        val nS = sps.size
        val s1 = sps.map(q12).sum.toDouble
        val s2 = sps.map(x => q12(x * x)).sum.toDouble
        val mean = s1 / nS
        val sd =
          math.sqrt(math.max((s2 - s1 * s1 / nS) / (nS - 1), 0.0))
        (p, nS, mean, sd / mean)
    }.toSeq
    assert(rows.length == math.min(20, parts.size))
    val top = parts.sortBy { case (p, _, _, cv) => (-cv, p) }.take(20)
    rows.zip(top).foreach { case (r, (p, nS, mean, cv)) =>
      assert(r.getAs[Long]("l_partkey") == p, "top-20 order diverges")
      assert(r.getAs[Long]("n_suppliers") == nS.toLong)
      assert(r.getAs[Double]("mean_unit_price") == r6(mean))
      assert(r.getAs[Double]("price_cv") == r6(cv))
    }
  }

  test("mcnemar counts close and its probe accuracy equals the logreg fit") {
    val r = graft.llm.Models.mcnemar(spark, sf0001).collect().head
    val n = r.getAs[Long]("n")
    val nb = r.getAs[Long]("n_both")
    val npo = r.getAs[Long]("n_probe_only")
    val ngo = r.getAs[Long]("n_gopher_only")
    val nn = r.getAs[Long]("n_neither")
    assert(nb + npo + ngo + nn == n, "2x2 cells must partition the corpus")
    assert(r.getAs[Double]("acc_probe") == r6((nb + npo).toDouble / n))
    assert(r.getAs[Double]("acc_gopher") == r6((nb + ngo).toDouble / n))
    val disc = npo + ngo
    val chi2raw =
      if (disc == 0L) 0.0
      else {
        val d = math.max(math.abs((npo - ngo).toDouble) - 1.0, 0.0)
        (d * d) / disc.toDouble
      }
    assert(r.getAs[Double]("chi2") == r6(chi2raw))
    assert(r.getAs[Long]("significant")
      == (if (chi2raw > 3.8416) 1L else 0L))
    // Same corpus, same fit, same decision rule => the probe marginal
    // accuracy must equal the logreg model card's accuracy exactly
    // (also proves the Gopher join drops no documents).
    val lr = graft.llm.Models.logreg(spark, sf0001).collect().head
    assert(lr.getAs[Long]("n") == n,
      "gopher join must not change corpus coverage")
    assert(lr.getAs[Double]("accuracy") == r.getAs[Double]("acc_probe"),
      "probe decisions must be identical under the shared fit")
  }

  test("q84 benford audit matches a naive first-digit recount") {
    val rows = RelationalQueries.q84BenfordAudit(spark, sf0001).collect()
    assert(rows.length == 9, "dense digit spine must emit all 9 digits")
    val prices = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_extendedprice").collect().map(_.getDouble(0))
    val digits = prices.map(p =>
      math.round(p * 100).toString.charAt(0).asDigit)
    val n = digits.length.toDouble
    val expShare = Map(
      1 -> 0.301029995664, 2 -> 0.176091259056, 3 -> 0.124938736608,
      4 -> 0.096910013008, 5 -> 0.079181246048, 6 -> 0.066946789631,
      7 -> 0.057991946978, 8 -> 0.051152522447, 9 -> 0.045757490561)
    val terms = (1 to 9).map { d =>
      val o = digits.count(_ == d).toDouble
      val e = n * expShare(d)
      d -> ((o - e) * (o - e) / e)
    }.toMap
    val chi2 = terms.toSeq.sortBy(_._1).map(t => q12(t._2)).sum.toDouble
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      assert(r.getAs[Long]("n_obs") == digits.count(_ == d).toLong)
      assert(r.getAs[Double]("obs_share") == r6(digits.count(_ == d) / n))
      assert(r.getAs[Double]("exp_share") == r6(expShare(d)))
      assert(r.getAs[Double]("chi2_term") == r6(terms(d)),
        s"chi2 term mismatch at digit $d")
      assert(r.getAs[Double]("chi2_total") == r6(chi2))
      assert(r.getString(6)
        == (if (chi2 > 20.09) "nonconforming" else "conforming"))
    }
    // sanity: shares partition the corpus
    assert(rows.map(_.getAs[Long]("n_obs")).sum == digits.length.toLong)
  }

  test("powerlaw alpha matches a naive per-side MLE recomputation") {
    val rows = Graph.powerlawAlpha(spark, sf0001).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("customer", "supplier"))
    val pairs = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf0001)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // symmetric edges => a node's degree is its distinct-partner count
    val deg = (pairs.map(_._1) ++ pairs.map(_._2))
      .groupBy(identity).map { case (nd, xs) => nd -> xs.length }
    rows.foreach { r =>
      val side = r.getString(0)
      val ds = deg.collect {
        case (nd, d) if (nd % 2 == 0) == (side == "customer") => d
      }.toSeq
      val nN = ds.length
      val dmin = ds.min
      assert(r.getAs[Long]("n_nodes") == nN.toLong)
      assert(r.getAs[Long]("d_min") == dmin.toLong)
      assert(r.getAs[Long]("d_max") == ds.max.toLong)
      assert(r.getAs[Double]("avg_degree")
        == r6(ds.map(_.toLong).sum.toDouble / nN))
      // histogram-grain MLE: group degrees, one q12-routed term per
      // distinct degree (the engine's DECIMAL(28,12) per-row cast)
      val tSum = ds.groupBy(identity).toSeq.sortBy(_._1).map {
        case (d, xs) => q12(xs.length * math.log(d / (dmin - 0.5)))
      }.sum.toDouble
      val alpha = 1.0 + nN / tSum
      assert(r.getAs[Double]("alpha") == r6(alpha),
        s"alpha mismatch for $side")
      assert(alpha > 1.0, "the MLE form is bounded below by 1")
    }
  }

  test("psi matches a naive recount and is non-negative by construction") {
    val rows = Models.psi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val scored = Models.psiScored(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val n = scored.length.toDouble
    assert(rows.map(_.getAs[Long]("n_docs")).sum == scored.length.toLong,
      "per-source doc counts must partition the scored corpus")
    val corpusShare = (0 to 9).map(b =>
      b -> math.max(scored.count(_._2 == b) / n, 1e-4)).toMap
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = scored.filter(_._1 == src)
      val ns = mine.length.toDouble
      assert(r.getAs[Long]("n_docs") == mine.length.toLong)
      val psiN = (0 to 9).map { b =>
        val ps = math.max(mine.count(_._2 == b) / ns, 1e-4)
        val pc = corpusShare(b)
        q12((ps - pc) * math.log(ps / pc))
      }.sum.toDouble
      assert(r.getAs[Double]("psi") == r6(psiN), s"psi mismatch for $src")
      assert(psiN >= -1e-12,
        "PSI is a sum of (Δp·ln-ratio) terms with matching signs — " +
          "it can never be negative")
      val verdict =
        if (psiN < 0.1) "stable"
        else if (psiN < 0.25) "moderate" else "shifted"
      assert(r.getString(3) == verdict)
    }
  }

  test("q85 gini matches a naive rank-sum recomputation per nation") {
    val rows = RelationalQueries.q85Gini(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_suppkey", $"l_extendedprice", $"l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val rev = li.groupBy(_._1).map { case (s, xs) =>
      s -> xs.map(x => q12(x._2 * (1.0 - x._3))).sum.toDouble
    }
    val supNation = graft.sources.Tables.supplier(spark, sf0001)
      .join(graft.sources.Tables.nation(spark, sf0001),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val byNation = rev.toSeq
      .map { case (s, x) => (supNation(s), s, x) }
      .groupBy(_._1)
    val expected = byNation.map { case (nat, xs) =>
      val sorted = xs.sortBy(x => (x._3, x._2))
      val n = sorted.length
      val tot = sorted.map(x => q12(x._3)).sum.toDouble
      val wsum = sorted.zipWithIndex
        .map { case (x, i) => q12((i + 1) * x._3) }.sum.toDouble
      val g = if (tot <= 0.0) 0.0
        else (2.0 * wsum - (n + 1) * tot) / (n * tot)
      nat -> (n, tot, g)
    }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, tot, g) = expected(r.getString(0))
      assert(r.getAs[Long]("n_suppliers") == n.toLong)
      assert(r.getAs[Double]("total_revenue")
        == BigDecimal(tot).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      assert(r.getAs[Double]("gini") == r6(g),
        s"gini mismatch for ${r.getString(0)}")
      assert(g >= -1e-9 && g < 1.0, "gini of non-negative x must be [0,1)")
    }
    // the output must be sorted by raw gini descending
    val gs = rows.map(r => expected(r.getString(0))._3).toSeq
    assert(gs == gs.sortBy(-_), "rows must order by raw gini desc")
  }

  test("hosmer matches a naive per-bin recount over the scored corpus") {
    val rows = Models.hosmer(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val scored = Models.aucScored(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows.map(_.getAs[Long]("n")).sum == scored.length.toLong,
      "bins must partition the scored corpus")
    val byBin = scored.groupBy(x => math.floor(x._1 * 10).toInt)
    val terms = byBin.map { case (b, xs) =>
      val n = xs.length
      val obs = xs.count(_._2 == 1.0)
      val exp = xs.map(x => q12(x._1)).sum.toDouble
      b -> (n, obs, exp,
        (obs - exp) * (obs - exp) / (exp * (1.0 - exp / n)))
    }
    val hl = terms.toSeq.sortBy(_._1).map(t => q12(t._2._4)).sum.toDouble
    rows.foreach { r =>
      val b = r.getAs[Int]("bin")
      val (n, obs, exp, term) = terms(b)
      assert(r.getAs[Long]("n") == n.toLong)
      assert(r.getAs[Long]("obs_pos") == obs.toLong)
      assert(r.getAs[Double]("exp_pos") == r6(exp))
      assert(r.getAs[Double]("hl_term") == r6(term), s"term mismatch bin $b")
      assert(r.getAs[Double]("hl_total") == r6(hl))
      // df = occupied bins − 2, χ²₀.₉₅ from the same literal table the
      // query ships; g < 3 leaves the test undefined → calibrated
      val crit = Map(1 -> 3.8415, 2 -> 5.9915, 3 -> 7.8147, 4 -> 9.4877,
        5 -> 11.0705, 6 -> 12.5916, 7 -> 14.0671)
        .getOrElse(terms.size - 2, 15.5073)
      assert(r.getString(6)
        == (if (terms.size >= 3 && hl > crit) "miscalibrated"
            else "calibrated"))
    }
  }

  test("bigram entropy matches a naive recount and obeys H(W2|W1) <= H(W2)") {
    val row = graft.llm.TextAnalysis.taBigramEntropy(spark, sf0001)
      .collect().head
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .select($"text").collect().map(_.getString(0))
    // split(" ", -1): Spark's split and DuckDB's string_split both keep
    // empty tokens, including trailing ones
    val bigrams = texts.map(_.split(" ", -1)).filter(_.length >= 2)
      .flatMap(t => t.sliding(2).map(p => (p(0), p(1))))
    val c2 = bigrams.groupBy(identity).map { case (k, xs) => k -> xs.length }
    val n = bigrams.length.toDouble
    val c1 = c2.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val cm = c2.groupBy(_._1._2).map { case (w2, m) => w2 -> m.values.sum }
    val hc = c2.toSeq.sortBy(_._1).map { case ((w1, _), c) =>
      q12(-(c / n) * math.log(c.toDouble / c1(w1)))
    }.sum.toDouble
    val hm = cm.toSeq.sortBy(_._1).map { case (_, c) =>
      q12(-(c / n) * math.log(c / n))
    }.sum.toDouble
    assert(row.getAs[Long]("n_bigrams") == bigrams.length.toLong)
    assert(row.getAs[Long]("n_bigram_types") == c2.size.toLong)
    assert(row.getAs[Long]("n_prefix_types") == c1.size.toLong)
    assert(row.getAs[Double]("h_marginal") == r6(hm))
    assert(row.getAs[Double]("h_conditional") == r6(hc))
    assert(row.getAs[Double]("mutual_info") == r6(hm - hc))
    assert(row.getAs[Double]("redundancy")
      == r6(if (hm == 0.0) 0.0 else 1.0 - hc / hm))
    // information-theoretic identities (up to the per-term DECIMAL(15,9)
    // quantization): conditioning cannot increase entropy, MI >= 0
    assert(hc <= hm + 1e-6, "H(W2|W1) must not exceed H(W2)")
    assert(hm - hc >= -1e-6, "mutual information must be non-negative")
  }

  test("q86 anova matches a naive moment recomputation") {
    val rows = RelationalQueries.q86Anova(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val lags = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.orders(spark, sf0001),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority",
        datediff($"l_shipdate", $"o_orderdate").cast("double").as("y"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
    val moments = lags.map { case (p, ys) =>
      p -> (ys.length, ys.map(q12).sum.toDouble,
        ys.map(y => q12(y * y)).sum.toDouble)
    }
    val nt = moments.values.map(_._1).sum
    val k = moments.size
    val t1 = moments.values.toSeq.sortBy(_._2).map(m => q12(m._2))
      .sum.toDouble
    val ssb = moments.toSeq.sortBy(_._1).map { case (_, (n, s1, _)) =>
      val d = s1 / n - t1 / nt
      q12(d * d * n)
    }.sum.toDouble
    val ssw = moments.toSeq.sortBy(_._1).map { case (_, (n, s1, s2)) =>
      q12(s2 - s1 * s1 / n)
    }.sum.toDouble
    val fRaw =
      if (ssw <= 0.0 || k <= 1 || nt <= k) 0.0
      else (ssb / (k - 1)) / (ssw / (nt - k))
    assert(rows.length == k)
    rows.foreach { r =>
      val p = r.getString(0)
      val (n, s1, s2) = moments(p)
      assert(r.getAs[Long]("n") == n.toLong)
      assert(r.getAs[Double]("mean_lag") == r6(s1 / n))
      assert(r.getAs[Double]("var_lag")
        == r6(if (n <= 1) 0.0 else (s2 - s1 * s1 / n) / (n - 1)))
      assert(r.getAs[Double]("ss_between") == r6(ssb))
      assert(r.getAs[Double]("ss_within") == r6(ssw))
      assert(r.getAs[Double]("f_stat") == r6(fRaw), s"F mismatch at $p")
      // F crit selected by the data-driven k−1 from the query's own
      // literal table (clamped at df1=8 beyond it)
      val fCrit = Map(1 -> 3.8415, 2 -> 2.9957, 3 -> 2.6049, 4 -> 2.3719,
        5 -> 2.2141, 6 -> 2.0986, 7 -> 2.0096).getOrElse(k - 1, 1.9384)
      assert(r.getString(7)
        == (if (fRaw > fCrit) "significant" else "insignificant"))
    }
    // the ANOVA identity: SSB + SSW = total SS (moment form)
    val t2 = moments.values.toSeq.sortBy(_._2).map(m => q12(m._3))
      .sum.toDouble
    val sst = t2 - t1 * t1 / nt
    assert(math.abs(ssb + ssw - sst) <= 1e-4 * math.max(1.0, sst),
      s"ANOVA identity violated: $ssb + $ssw != $sst")
  }

  test("ht estimator matches a naive recomputation off the pps sample") {
    val row = Sampling.sampleHt(spark, sf0001).collect().head
    // Sigma n_hits == k exactly — the pps midpoint-anchor invariant
    assert(row.getAs[Long]("n_draws") == 25L)
    val sample = Sampling.samplePps(spark, sf0001)
      .select($"doc_id", $"weight", $"n_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(row.getAs[Long]("n_sampled_docs") == sample.length.toLong)
    val qual = graft.llm.TextAnalysis.taQuality(spark, sf0001)
      .select($"doc_id", $"quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val tw = graft.sources.Tables.documents(spark, sf0001)
      .agg(sum($"n_chars")).collect().head.getLong(0)
    val yTrue = qual.values.toSeq.sorted.map(q12).sum.toDouble
    val yps = sample.map { case (id, w, hits) =>
      (hits, qual(id) * tw.toDouble / w.toDouble)
    }
    val yHt = yps.sortBy(_._2).map { case (h, yp) => q12(h * yp) }
      .sum.toDouble / 25
    val se = math.sqrt(yps.sortBy(_._2)
      .map { case (h, yp) => q12((yp - yHt) * (yp - yHt) * h) }
      .sum.toDouble / (25 * 24))
    assert(row.getAs[Double]("ht_total") == r6(yHt))
    assert(row.getAs[Double]("true_total") == r6(yTrue))
    assert(row.getAs[Double]("rel_err")
      == r6(if (yTrue == 0.0) 0.0 else math.abs(yHt - yTrue) / yTrue))
    assert(row.getAs[Double]("se") == r6(se))
    assert(se >= 0.0)
  }

  test("silhouette matches a naive recomputation against the trained cents") {
    val rows = Similarity.ssSilhouette(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val cents = Similarity.kmTrainedCents(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "cast(embedding as array<double>) AS v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val per = vecs.map { case (_, v) =>
      val ds = cents.map { case (cid, cv) =>
        ((dot(v, v) - 2.0 * dot(v, cv)) + dot(cv, cv), cid)
      }.sorted
      val a = math.sqrt(math.max(ds(0)._1, 0.0))
      val b = math.sqrt(math.max(ds(1)._1, 0.0))
      val s = if (math.max(a, b) == 0.0) 0.0 else (b - a) / math.max(a, b)
      (ds(0)._2, a, s)
    }.groupBy(_._1)
    assert(rows.length == per.size)
    // mirror the engine's two-level fold: per-cluster DECIMAL sums cast
    // to double, then re-quantized into the global DECIMAL fold
    val gs = per.toSeq.sortBy(_._1).map { case (_, mine) =>
      q12(mine.map(x => q12(x._3)).sum.toDouble)
    }.sum.toDouble / vecs.length
    rows.foreach { r =>
      val cid = r.getAs[Long]("cid")
      val mine = per(cid)
      assert(r.getAs[Long]("n") == mine.length.toLong)
      assert(r.getAs[Double]("mean_a")
        == r6(mine.map(x => q12(x._2)).sum.toDouble / mine.length))
      assert(r.getAs[Double]("mean_sil")
        == r6(mine.map(x => q12(x._3)).sum.toDouble / mine.length),
        s"silhouette mismatch for cluster $cid")
      // every silhouette is in [-1, 1] by construction
      mine.foreach(x => assert(math.abs(x._3) <= 1.0 + 1e-9))
    }
    assert(rows.head.getAs[Double]("global_sil") == r6(gs))
  }

  test("gains table matches a naive capacity-cut recount") {
    val rows = Models.gains(spark, sf0001).collect()
    assert(rows.map(_.getAs[Long]("cut_pct")).toSeq
      == Seq(1L, 5L, 10L, 25L, 50L))
    val scored = Models.aucScored(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val n = scored.length.toLong
    val np = scored.count(_._2 == 1.0).toLong
    // score-class cumulative, descending
    val classes = scored.groupBy(_._1).toSeq.sortBy(-_._1).map {
      case (p, xs) => (p, xs.length.toLong, xs.count(_._2 == 1.0).toLong)
    }
    val cum = classes.scanLeft((0.0, 0L, 0L)) {
      case ((_, ck, cp), (p, c, pos)) => (p, ck + c, cp + pos)
    }.drop(1)
    rows.foreach { r =>
      val cut = r.getAs[Long]("cut_pct")
      val target = (n * cut + 99) / 100
      assert(r.getAs[Long]("target") == target)
      val (thr, ck, cp) = cum.find(_._2 >= target).get
      assert(r.getAs[Long]("n_kept") == ck)
      assert(r.getAs[Long]("pos_captured") == cp)
      assert(r.getAs[Double]("threshold") == r6(thr))
      assert(r.getAs[Double]("precision") == r6(cp.toDouble / ck))
      assert(r.getAs[Double]("recall")
        == r6(if (np == 0) 0.0 else cp.toDouble / np))
      assert(r.getAs[Double]("lift") == r6(
        if (np == 0) 0.0
        else (cp.toDouble / ck) / (np.toDouble / n)), s"lift at $cut%")
    }
    // capacity monotonicity: larger cuts keep supersets
    val recalls = rows.map(_.getAs[Double]("recall")).toSeq
    assert(recalls == recalls.sorted, "recall must be nondecreasing in cut")
    val kept = rows.map(_.getAs[Long]("n_kept")).toSeq
    assert(kept == kept.sorted, "kept count must be nondecreasing in cut")
  }

  test("st_value_drift matches a naive half/bin recount and PSI >= 0") {
    val rows = graft.streaming.WindowQueries.stValueDrift(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, sf0001)
      .filter($"value".isNotNull)
      .select($"event_type", unix_micros($"ts"), $"value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val mid = {
      val ts = evs.map(_._2)
      // BigInt div mirrors the engines' integer `div` on the sum
      ((BigInt(ts.min) + BigInt(ts.max)) / 2).toLong
    }
    rows.foreach { r =>
      val t = r.getString(0)
      val mine = evs.filter(_._1 == t)
      val (vmn, vmx) = (mine.map(_._3).min, mine.map(_._3).max)
      def bin(v: Double) =
        if (vmx == vmn) 0
        else math.min(math.floor((v - vmn) / ((vmx - vmn) / 10.0)), 9.0).toInt
      val h0 = mine.filter(_._2 <= mid)
      val h1 = mine.filter(_._2 > mid)
      assert(r.getAs[Long]("n_first") == h0.length.toLong)
      assert(r.getAs[Long]("n_second") == h1.length.toLong)
      val psiN =
        if (h0.isEmpty || h1.isEmpty) 0.0
        else (0 to 9).map { b =>
          val p0 = math.max(h0.count(x => bin(x._3) == b).toDouble
            / h0.length, 1e-4)
          val p1 = math.max(h1.count(x => bin(x._3) == b).toDouble
            / h1.length, 1e-4)
          q12((p1 - p0) * math.log(p1 / p0))
        }.sum.toDouble
      assert(r.getAs[Double]("psi") == r6(psiN), s"psi mismatch for $t")
      assert(psiN >= -1e-12, "PSI terms are sign-matching — never negative")
      val verdict =
        if (h0.isEmpty || h1.isEmpty) "insufficient"
        else if (psiN < 0.1) "stable"
        else if (psiN < 0.25) "moderate" else "shifted"
      assert(r.getString(4) == verdict)
    }
  }

  test("q87 column profile matches naive distinct/null counts") {
    val rows = RelationalQueries.q87ColumnProfile(spark, sf0001).collect()
    assert(rows.length == 11)
    val li = graft.sources.Tables.lineitem(spark, sf0001).collect()
    val schema = graft.sources.Tables.lineitem(spark, sf0001).schema
    rows.foreach { r =>
      val c = r.getString(0)
      val idx = schema.fieldIndex(c)
      val vals = li.map(row => if (row.isNullAt(idx)) null else row.get(idx))
      assert(r.getAs[Long]("n") == li.length.toLong)
      assert(r.getAs[Long]("n_distinct")
        == vals.filter(_ != null).distinct.length.toLong,
        s"distinct mismatch for $c")
      assert(r.getAs[Long]("n_nulls") == vals.count(_ == null).toLong)
      assert(r.getAs[Double]("distinct_ratio")
        == r6(vals.filter(_ != null).distinct.length.toDouble / li.length))
    }
    // the profile is sorted by column name
    val names = rows.map(_.getString(0)).toSeq
    assert(names == names.sorted)
  }

  test("bfs hops match a naive frontier expansion from the same seed") {
    val rows = Graph.bfsHops(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val pairs = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey", $"o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf0001)
        .select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("c"), ($"l_suppkey" * 2 + 1).as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs.map(p => (p._1, p._2)) ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val deg = adj.map { case (k, vs) => k -> vs.size }
    val seed = deg.toSeq.sortBy { case (node, d) => (-d, node) }.head._1
    var visited = Set(seed)
    var frontier = Set(seed)
    val counts = scala.collection.mutable.ArrayBuffer(0 -> 1)
    for (h <- 1 to 4) {
      val nf = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- visited
      if (nf.nonEmpty) counts += h -> nf.size
      visited ++= nf
      frontier = nf
    }
    assert(rows.length == counts.length)
    var cum = 0L
    rows.zip(counts).foreach { case (r, (h, nNew)) =>
      cum += nNew
      assert(r.getAs[Int]("hop") == h)
      assert(r.getAs[Long]("n_new") == nNew.toLong, s"hop $h")
      assert(r.getAs[Long]("n_cum") == cum)
      assert(r.getAs[Long]("n_unreached") == adj.size.toLong - cum)
    }
    assert(rows.head.getAs[Long]("n_new") == 1L, "hop 0 is the seed alone")
  }

  test("shingle sweep matches a naive recount at every width") {
    val rows = Dedup.ddShingleSweep(spark, sf0001).collect()
    assert(rows.map(_.getAs[Int]("shingle_n")).toSeq == Seq(2, 3, 5))
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .select($"text").collect().map(_.getString(0))
    rows.foreach { r =>
      val n = r.getAs[Int]("shingle_n")
      val docs = texts.map(_.split(" ", -1)).filter(_.length >= n)
        .map(t => t.sliding(n).map(_.mkString(" ")).toSeq.distinct)
      val df = docs.flatten.groupBy(identity)
        .map { case (_, xs) => xs.length.toLong }
      assert(r.getAs[Long]("n_docs") == docs.length.toLong)
      assert(r.getAs[Long]("n_types") == df.size.toLong, s"types at n=$n")
      val total = df.sum
      assert(r.getAs[Long]("n_total") == total)
      assert(r.getAs[Double]("mean_per_doc")
        == r6(total.toDouble / docs.length))
      assert(r.getAs[Double]("type_token_ratio")
        == r6(df.size.toDouble / total))
      assert(r.getAs[Long]("pair_pressure")
        == df.map(d => d * (d - 1) / 2).sum, s"pressure at n=$n")
    }
    // wider shingles fragment: type/token ratio must not decrease in n
    val ratios = rows.map(_.getAs[Double]("type_token_ratio")).toSeq
    assert(ratios == ratios.sorted,
      "wider shingles are rarer — type/token ratio rises with n")
  }

  test("repeat business histogram matches a naive pair recount") {
    val rows = RelationalQueries.q88RepeatBusiness(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.orders(spark, sf0001),
        $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey", $"l_suppkey", $"l_orderkey",
        $"l_extendedprice", $"l_discount").collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)),
        q12(r.getDouble(3) * (1.0 - r.getDouble(4)))))
    val orderRev = li.groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).sum.toDouble }
    val pairs = orderRev.groupBy { case ((c, s, _), _) => (c, s) }
      .map { case (k, m) =>
        k -> (m.size, m.values.toSeq.map(q12).sum.toDouble)
      }
    def bucket(n: Int): Long =
      if (n <= 3) n.toLong
      else 1L << (63 - java.lang.Long.numberOfLeadingZeros(n.toLong))
    val hist = pairs.values.groupBy { case (n, _) => bucket(n) }
    val np = pairs.size.toLong
    val nrep = pairs.values.count(_._1 >= 2).toLong
    assert(rows.length == hist.size)
    rows.foreach { r =>
      val b = r.getAs[Long]("depth_bucket")
      val mine = hist(b).toSeq
      assert(r.getAs[Long]("n_pairs") == mine.length.toLong)
      assert(r.getAs[Long]("n_orders") == mine.map(_._1.toLong).sum)
      assert(r.getAs[Double]("revenue")
        == BigDecimal(mine.map(x => q12(x._2)).sum.toDouble)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[Double]("repeat_share") == r6(nrep.toDouble / np))
    }
    // buckets partition the pair set
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == np)
  }

  test("bootstrap auc matches a naive replicate recomputation") {
    val row = Models.bootstrapAuc(spark, sf0001).collect().head
    assert(row.getAs[Long]("n_reps") == 16L)
    val scored = Models.bootScored(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val cdf = graft.llm.Sampling.PoisCdf.map(_.toDouble)
    def weight(docId: Long, rep: Int): Long = {
      val u = (h60(s"$docId#b$rep") % 1000000L).toDouble / 1000000.0
      val k = cdf.indexWhere(u < _)
      (if (k < 0) cdf.size else k).toLong
    }
    val aucs = (0 until 16).map { rep =>
      val hist = scored.map { case (id, p, y) => (p, y, weight(id, rep)) }
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (p, xs) =>
          (p, xs.filter(_._2 == 1.0).map(_._3).sum,
            xs.filter(_._2 == 0.0).map(_._3).sum)
        }
      var cumNeg = 0L
      var num = BigInt(0)
      hist.foreach { case (_, pos, neg) =>
        num += BigInt(pos) * (2 * cumNeg + neg)
        cumNeg += neg
      }
      val np = hist.map(_._2).sum
      val nn = hist.map(_._3).sum
      if (np == 0 || nn == 0) 0.0
      else num.toDouble / (np.toDouble * nn * 2)
    }.sorted
    val mean = aucs.map(q12).sum.toDouble / 16
    val sd = math.sqrt(math.max(
      aucs.map(a => q12((a - mean) * (a - mean))).sum.toDouble / 15, 0.0))
    assert(row.getAs[Double]("boot_mean") == r6(mean), "mean mismatch")
    assert(row.getAs[Double]("boot_sd") == r6(sd))
    assert(row.getAs[Double]("boot_p5") == r6(aucs.head))
    assert(row.getAs[Double]("boot_p95") == r6(aucs.last))
    assert(aucs.forall(a => a >= 0.0 && a <= 1.0))
  }

  test("query hardness matches a naive LID recomputation off the top-k") {
    val rows = Similarity.ssQueryHardness(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val top = Similarity.ssTopk(spark, sf0001)
      .select($"q_id", $"rank", $"cosine").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(rows.length == top.size)
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val mine = top(q)
      val ds = mine.map(x => math.max(1.0 - x._3, 1e-9))
      val dk = ds.max
      val c1 = mine.find(_._2 == 1).get._3
      val lsum = ds.sorted.map(d => q12(math.log(d / dk))).sum.toDouble
      assert(r.getAs[Long]("k") == mine.length.toLong)
      assert(r.getAs[Double]("top1_cosine") == r6(c1))
      assert(r.getAs[Double]("topk_cosine") == r6(mine.map(_._3).min))
      assert(r.getAs[Double]("contrast")
        == r6(dk / math.max(1.0 - c1, 1e-9)))
      val lid = if (lsum == 0.0) 0.0 else -mine.length / lsum
      assert(r.getAs[Double]("lid") == r6(lid), s"lid mismatch for q $q")
      assert(lid >= 0.0, "distances <= dk make every ln term <= 0")
    }
  }

  test("new-vs-returning matches a naive first-seen recount") {
    val rows = graft.streaming.WindowQueries
      .stNewVsReturning(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id", to_date($"ts")).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString))
    val firstDay = evs.groupBy(_._1).map { case (u, xs) =>
      u -> xs.map(_._2).min
    }
    rows.foreach { r =>
      val day = r.getDate(0).toString
      val mine = evs.filter(_._2 == day)
      val users = mine.map(_._1).distinct
      val nNew = users.count(u => firstDay(u) == day)
      assert(r.getAs[Long]("n_events") == mine.length.toLong)
      assert(r.getAs[Long]("n_users") == users.length.toLong)
      assert(r.getAs[Long]("n_new_users") == nNew.toLong, s"new at $day")
      assert(r.getAs[Long]("n_returning") == (users.length - nNew).toLong)
      assert(r.getAs[Double]("new_share")
        == r6(nNew.toDouble / users.length))
    }
    // conservation: every user is new exactly once
    assert(rows.map(_.getAs[Long]("n_new_users")).sum
      == firstDay.size.toLong)
    // day one has no returning users
    assert(rows.head.getAs[Long]("n_returning") == 0L)
  }

  test("q89 sales opportunity matches a naive recency anti-join recount") {
    val rows = RelationalQueries.q89SalesOpportunity(spark, sf0001)
      .collect()
    val cust = graft.sources.Tables.customer(spark, sf0001)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val orders = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_custkey",
        unix_micros($"o_orderdate".cast("timestamp"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pos = cust.map(_._3).filter(_ > 0.0)
    val ab = pos.map(q12).sum.toDouble / pos.length
    val cutoff = orders.map(_._2).max - 365L * 86400000000L
    val activeRecent = orders.filter(_._2 >= cutoff).map(_._1).toSet
    val nations = graft.sources.Tables.nation(spark, sf0001)
      .select($"n_nationkey", $"n_name").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    val cand = cust.filter(c => c._3 > ab && !activeRecent.contains(c._1))
    val expected = cand.groupBy(c => nations(c._2)).map { case (n, xs) =>
      n -> (xs.length, xs.map(x => q12(x._3)).sum.toDouble)
    }
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (n, bal) = expected(r.getString(0))
      assert(r.getAs[Long]("n_customers") == n.toLong)
      assert(r.getAs[Double]("idle_balance")
        == BigDecimal(bal).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    }
  }

  test("q90 higher-order funcs match a per-order scala fold") {
    val rows = graft.operators.FunctionQueries
      .q90HigherOrderFuncs(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val li = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .groupBy(_._1)
    assert(rows.length == li.size)
    rows.foreach { r =>
      val k = r.getAs[Long]("l_orderkey")
      // the engine's total sort key: (linenumber, qty, price)
      val items = li(k).map(x => (x._2, x._3, x._4)).sortBy(identity)
      val qtys = items.map(_._2)
      val prices = items.map(_._3)
      val sumQ = qtys.foldLeft(0.0)(_ + _)
      val dot = qtys.zip(prices).map { case (q, p) => q * p }
        .foldLeft(0.0)(_ + _)
      assert(r.getAs[Int]("n_items") == qtys.length)
      assert(r.getAs[Double]("hof_sum_qty") == BigDecimal(sumQ)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[Double]("hof_dot") == BigDecimal(dot)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"dot mismatch for order $k")
      assert(r.getAs[Int]("n_big") == qtys.count(_ >= 30.0))
      assert(r.getAs[Long]("has_even")
        == (if (qtys.exists(_ % 2.0 == 0.0)) 1L else 0L))
      assert(r.getAs[Long]("all_positive")
        == (if (qtys.forall(_ > 0.0)) 1L else 0L))
    }
  }

  test("temperature sweep matches a naive recount; entropy falls with alpha") {
    val rows = Sampling.sampleTemperatureSweep(spark, sf0001).collect()
    val srcN = graft.sources.Tables.documents(spark, sf0001)
      .groupBy($"source").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = srcN.map(_._2).sum.toDouble
    val alphas = Seq(
      0.25 -> ((p: Double) => math.sqrt(math.sqrt(p))),
      0.5 -> ((p: Double) => math.sqrt(p)),
      0.75 -> ((p: Double) => math.sqrt(p) * math.sqrt(math.sqrt(p))),
      1.0 -> ((p: Double) => p))
    assert(rows.length == srcN.length * 4)
    val entByAlpha = alphas.map { case (a, f) =>
      val ts = srcN.map { case (s, c) => (s, c / n, f(c / n)) }
      val z = ts.sortBy(_._1).map(t => q12(t._3)).sum.toDouble
      val qs = ts.map { case (s, p, t) =>
        (s, p, q12(t).toDouble / z)
      }
      val ent = qs.sortBy(_._1).map { case (_, _, q) =>
        q12(-q * math.log(q))
      }.sum.toDouble
      val top = qs.map(_._3).max
      rows.filter(_.getAs[Double]("alpha") == a).foreach { r =>
        val (_, p, q) = qs.find(_._1 == r.getString(1)).get
        assert(r.getAs[Double]("p_raw") == r6(p))
        assert(r.getAs[Double]("p_temp") == r6(q), s"q mismatch at a=$a")
        assert(r.getAs[Double]("mix_entropy") == r6(ent))
        assert(r.getAs[Double]("top_share") == r6(top))
      }
      a -> ent
    }
    // flattening monotonicity: entropy is non-increasing in alpha
    val es = entByAlpha.map(_._2)
    assert(es.zip(es.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"tempered-mixture entropy must fall as alpha rises: $es")
    // alpha = 1 reproduces the raw mix
    rows.filter(_.getAs[Double]("alpha") == 1.0).foreach(r =>
      assert(r.getAs[Double]("p_raw") == r.getAs[Double]("p_temp")))
  }

  test("cluster depth matches a naive BFS and partitions the corpus") {
    val rows = Dedup.ddClusterDepth(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val clusters = Dedup.ddCluster(spark, sf0001)
      .select($"doc_id", $"cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairs = Dedup.ddMinhashLsh(spark, sf0001)
      .filter($"est_jaccard" >= 0.75)
      .select($"doc_a", $"doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).toSet }
    var visited = clusters.filter(c => c._1 == c._2).map(_._1).toSet
    var frontier = visited
    val counts = scala.collection.mutable.Map(0 -> visited.size)
    for (h <- 1 to 4) {
      val nf = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- visited
      if (nf.nonEmpty) counts(h) = nf.size
      visited ++= nf
      frontier = nf
    }
    val unreached = clusters.length - visited.size
    if (unreached > 0) counts(-1) = unreached
    assert(rows.length == counts.size)
    rows.foreach { r =>
      val h = r.getAs[Int]("hop")
      assert(r.getAs[Long]("n_docs") == counts(h).toLong, s"hop $h")
      assert(r.getAs[Double]("share")
        == r6(counts(h).toDouble / clusters.length))
    }
    // the histogram partitions the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum == clusters.length.toLong)
    // hop 0 is exactly the cluster representatives
    assert(rows.find(_.getAs[Int]("hop") == 0).get.getAs[Long]("n_docs")
      == clusters.map(_._2).distinct.length.toLong)
  }

  test("type mix drift matches a naive recount and PSI >= 0") {
    val rows = graft.streaming.WindowQueries.stTypeMixDrift(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val evs = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type", unix_micros($"ts")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val mid = ((BigInt(evs.map(_._2).min) + BigInt(evs.map(_._2).max))
      / 2).toLong
    val h0 = evs.filter(_._2 <= mid)
    val h1 = evs.filter(_._2 > mid)
    val types = evs.map(_._1).distinct.sorted
    val terms = types.map { t =>
      val c0 = h0.count(_._1 == t)
      val c1 = h1.count(_._1 == t)
      val p0 = math.max(c0.toDouble / h0.length, 1e-4)
      val p1 = math.max(c1.toDouble / h1.length, 1e-4)
      t -> (c0, c1, p0, p1, q12((p1 - p0) * math.log(p1 / p0)))
    }.toMap
    val psi = types.map(t => terms(t)._5).sum.toDouble
    assert(psi >= -1e-12)
    rows.foreach { r =>
      val (c0, c1, p0, p1, t) = terms(r.getString(0))
      assert(r.getAs[Long]("n_first") == c0.toLong)
      assert(r.getAs[Long]("n_second") == c1.toLong)
      assert(r.getAs[Double]("share_first") == r6(p0))
      assert(r.getAs[Double]("share_second") == r6(p1))
      assert(r.getAs[Double]("psi_term") == r6(t.toDouble))
      assert(r.getAs[Double]("psi_total") == r6(psi))
      val verdict =
        if (psi < 0.1) "stable"
        else if (psi < 0.25) "moderate" else "shifted"
      assert(r.getString(7) == verdict)
    }
  }
}
