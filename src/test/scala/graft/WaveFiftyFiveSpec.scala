package graft

import org.apache.spark.sql.functions._

import graft.llm.{Graph, Models, Similarity}
import graft.operators.RelationalQueries
import graft.streaming.WindowQueries

/** Value-level invariants for the round-11 wave (q91–q96, local CC,
  * inter-arrival, lifespan, Youden, norm audit) — conservation laws
  * and naive-reference recounts the DuckDB oracle can't express.
  */
class WaveFiftyFiveSpec extends SparkSpec {
  import spark.implicits._

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q91 late-order counts match a naive per-order scan") {
    val rows = RelationalQueries.q91PriorityLateShips(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_late_orders"))
      .toMap
    val orders = graft.sources.Tables.orders(spark, sf0001)
      .filter(year($"o_orderdate") === 1997)
      .select($"o_orderkey", $"o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val lates = graft.sources.Tables.lineitem(spark, sf0001)
      .join(graft.sources.Tables.orders(spark, sf0001),
        $"l_orderkey" === $"o_orderkey")
      .filter(datediff($"l_shipdate", $"o_orderdate") > 60)
      .select($"l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    val naive = orders.filter(o => lates(o._1)).groupBy(_._2)
      .map { case (p, xs) => p -> xs.length.toLong }
    assert(rows == naive, "per-priority late-order counts must match")
    // an order with many late lines counts once: totals bounded by
    // the distinct late-order set restricted to 1997
    assert(rows.values.sum == orders.count(o => lates(o._1)).toLong)
  }

  test("q92 equals a naive filtered recount") {
    val row = RelationalQueries.q92ForecastRevenue(spark, sf0001)
      .collect().head
    val xs = graft.sources.Tables.lineitem(spark, sf0001)
      .select(unix_micros($"l_shipdate".cast("timestamp")).as("us"),
        $"l_discount", $"l_quantity", $"l_extendedprice").collect()
      .filter { r =>
        val us = r.getLong(0)
        val lo = java.time.Instant.parse("1997-01-01T00:00:00Z")
          .toEpochMilli * 1000L
        val hi = java.time.Instant.parse("1998-01-01T00:00:00Z")
          .toEpochMilli * 1000L
        us >= lo && us < hi &&
        r.getDouble(1) >= 0.05 && r.getDouble(1) <= 0.07 &&
        r.getDouble(2) < 24.0
      }
    assert(row.getAs[Long]("n_lines") == xs.length.toLong)
    val rev = xs.map(r => BigDecimal(r.getDouble(3) * r.getDouble(1))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    assert(row.getAs[Double]("promo_revenue")
      == BigDecimal(rev).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  test("q93 shares are consistent and all above the 0.1% cut") {
    val rows = RelationalQueries.q93PartValueConcentration(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("share") > 0.001 - 1e-9,
        "every kept part must clear the cut")
    }
    // values must be sorted desc (ties by partkey)
    val vs = rows.map(_.getAs[Double]("value")).toSeq
    assert(vs == vs.sortBy(-_))
  }

  test("q94 excludes bad-standing suppliers everywhere") {
    val bad = graft.sources.Tables.supplier(spark, sf0001)
      .filter($"s_acctbal" < 0.0).select($"s_suppkey")
      .collect().map(_.getLong(0)).toSet
    val pairs = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_partkey", $"l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => !bad(p._2))
    val parts = graft.sources.Tables.part(spark, sf0001)
      .select($"p_partkey", $"p_brand", $"p_size").collect()
      .map(r => r.getLong(0) -> (r.getString(1), (r.getInt(2) - 1) / 10))
      .toMap
    val naive = pairs.groupBy(p => parts(p._1))
      .map { case (k, xs) =>
        k -> (xs.map(_._2).distinct.length, xs.map(_._1).distinct.length)
      }
    val rows = RelationalQueries.q94BrandSupplierBreadth(spark, sf0001)
      .collect()
    assert(rows.length == naive.size)
    rows.foreach { r =>
      val k = (r.getString(0), r.getAs[Long]("size_band").toInt)
      val (ns, npart) = naive(k)
      assert(r.getAs[Long]("n_suppliers") == ns.toLong, s"suppliers at $k")
      assert(r.getAs[Long]("n_parts") == npart.toLong, s"parts at $k")
    }
  }

  test("q95 bands are disjoint and match a naive recount") {
    val parts = graft.sources.Tables.part(spark, sf0001)
      .select($"p_partkey", $"p_brand", $"p_size").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    val naive = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_partkey", $"l_quantity").collect()
      .map(r => (parts.get(r.getLong(0)), r.getDouble(1)))
      .collect { case (Some((b, s)), q) => (b, s, q) }
      .filter {
        case ("Brand#1", s, q) => s <= 10 && q >= 1.0 && q <= 11.0
        case ("Brand#2", s, q) => s <= 20 && q >= 10.0 && q <= 20.0
        case ("Brand#3", s, q) => s <= 30 && q >= 20.0 && q <= 30.0
        case _ => false
      }
    val rows = RelationalQueries.q95DisjunctivePromo(spark, sf0001)
      .collect()
    val got = rows.map(r => r.getString(0) -> r.getAs[Long]("n_lines")).toMap
    val want = naive.groupBy(_._1).map { case (b, xs) => b -> xs.length.toLong }
    assert(got == want, "per-band line counts must match the naive filter")
  }

  test("q96 every shipped part has exactly one plurality supplier") {
    val rows = RelationalQueries.q96DominantSuppliers(spark, sf0001)
      .collect()
    val nParts = graft.sources.Tables.lineitem(spark, sf0001)
      .select($"l_partkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_lead_parts")).sum == nParts,
      "lead-part counts must partition the shipped-part set")
    rows.foreach { r =>
      val s = r.getAs[Double]("mean_share")
      assert(s > 0.0 && s <= 1.0, "mean leading share must be (0, 1]")
    }
  }

  test("local CC histogram conserves backbone nodes; lcc matches naive") {
    val rows = Graph.localClusteringCoeff(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    // naive: collect the backbone (≤2000 edges at any SF), recompute
    // every node's triangle count and degree by brute force
    val census = Graph.triangles(spark, sf0001).collect().head
    val nNodes = rows.map(_.getAs[Long]("n_nodes")).sum
    assert(nNodes == census.getAs[Long]("n_nodes"),
      "histogram must cover exactly the backbone nodes")
    val sup = Graph.triSupport(spark, sf0001)
      .orderBy(col("support").desc, col("s1").asc, col("s2").asc)
      .limit(2000).select("s1", "s2").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    sup.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val lccs = adj.toSeq.map { case (_, ns) =>
      val d = ns.size
      if (d < 2) (false, 0.0)
      else {
        val nsSeq = ns.toSeq
        val t = (for {
          i <- nsSeq.indices; j <- (i + 1) until nsSeq.length
          if adj(nsSeq(i)).contains(nsSeq(j))
        } yield 1).sum
        (true, 2.0 * t / (d.toLong * (d - 1L)))
      }
    }
    val naiveHist = lccs.groupBy { case (e, l) =>
      if (!e) -1L else math.floor(l * 10.0).toLong
    }.map { case (b, xs) => b -> xs.length.toLong }
    val gotHist = rows
      .map(r => r.getAs[Long]("lcc_decile") -> r.getAs[Long]("n_nodes"))
      .toMap
    assert(gotHist == naiveHist, "decile histogram must match brute force")
    val eligible = lccs.filter(_._1).map(_._2)
    if (eligible.nonEmpty) {
      val mean = eligible.map(x => BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble /
        eligible.length
      assert(rows.head.getAs[Double]("mean_lcc") == r6(mean))
    }
  }

  test("interarrival conserves gaps: n_gaps = n_events - n_users") {
    val rows = WindowQueries.stInterarrival(spark, sf0001).collect()
    val ev = graft.sources.Tables.events(spark, sf0001)
    val nEvents = ev.count()
    val nUsers = ev.select($"user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == nEvents - nUsers,
      "every user contributes (events - 1) gaps")
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    rows.foreach(r => assert(r.getAs[Long]("gap_bucket") >= -1L))
  }

  test("lifespan conserves users and events") {
    val rows = WindowQueries.stUserLifespan(spark, sf0001).collect()
    val ev = graft.sources.Tables.events(spark, sf0001)
    assert(rows.map(_.getAs[Long]("n_users")).sum
      == ev.select($"user_id").distinct().count())
    assert(rows.map(_.getAs[Long]("n_events")).sum == ev.count())
  }

  test("youden J matches a brute-force sweep over all thresholds") {
    val row = Models.youden(spark, sf0001).collect().head
    val scored = Models.aucScored(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val np = scored.count(_._2 == 1.0)
    val nn = scored.length - np
    val naive = scored.map(_._1).distinct.map { thr =>
      val tp = scored.count(x => x._1 >= thr && x._2 == 1.0)
      val fp = scored.count(x => x._1 >= thr && x._2 == 0.0)
      (thr, tp.toDouble / np - fp.toDouble / nn)
    }
    val bestJ = naive.map(_._2).max
    val bestThr = naive.filter(_._2 == bestJ).map(_._1).min
    assert(row.getAs[Double]("youden_j") == r6(bestJ))
    assert(row.getAs[Double]("threshold") == r6(bestThr))
    // balanced accuracy identity: (1 + J) / 2
    assert(row.getAs[Double]("balanced_acc")
      == r6((1.0 + (row.getAs[Double]("tpr")
        - row.getAs[Double]("fpr"))) / 2.0))
  }

  test("q97 transitions conserve: sum = total orders - customers") {
    val rows = RelationalQueries.q97StatusTransitions(spark, sf0001)
      .collect()
    val o = graft.sources.Tables.orders(spark, sf0001)
    val nOrders = o.count()
    val nCust = o.select($"o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_transitions")).sum == nOrders - nCust,
      "every customer contributes (orders - 1) transitions")
    // each from-status row group's shares sum to 1
    rows.groupBy(_.getString(0)).foreach { case (f, xs) =>
      val s = xs.map(_.getAs[Double]("share_of_from")).sum
      assert(math.abs(s - 1.0) < 1e-4, s"shares of $f must sum to 1")
    }
  }

  test("q98 expected counts conserve mass; df matches occupancy") {
    val rows = RelationalQueries.q98DowPriorityChi2(spark, sf0001)
      .collect()
    val nObs = rows.map(_.getAs[Long]("n")).sum
    val nExp = rows.map(_.getAs[Double]("expected")).sum
    assert(math.abs(nExp - nObs) < 1e-3,
      "expected counts must sum to the observed total")
    val rOcc = rows.map(_.getAs[Number]("dow").longValue).distinct.length
    val cOcc = rows.map(_.getString(1)).distinct.length
    assert(rows.head.getAs[Number]("df").longValue
      == (rOcc - 1).toLong * (cOcc - 1))
    rows.foreach(r => assert(r.getAs[Double]("chi2_term") >= 0.0))
  }

  test("edge weights: backbone keeps exactly min(M, edges), top-heavy") {
    val rows = Graph.edgeWeights(spark, sf0001).collect()
    val nEdges = rows.map(_.getAs[Long]("n_edges")).sum
    val kept = rows.map(_.getAs[Long]("n_in_backbone")).sum
    assert(kept == math.min(2000L, nEdges))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_in_backbone") <= r.getAs[Long]("n_edges"))
    }
    // the cut is support-ranked: in descending bucket order, once a
    // bucket is partially dropped every LOWER bucket is fully dropped
    // (a support value lives in exactly one bucket, so the tie-broken
    // boundary is the only partial bucket)
    val byBucket = rows.sortBy(-_.getAs[Long]("support_bucket"))
    val firstPartial = byBucket.indexWhere(r =>
      r.getAs[Long]("n_in_backbone") < r.getAs[Long]("n_edges"))
    if (firstPartial >= 0)
      byBucket.drop(firstPartial + 1).foreach { r =>
        assert(r.getAs[Long]("n_in_backbone") == 0L,
          "buckets below the boundary must be fully dropped")
      }
  }

  test("q99 episodes conserve orders and match the boundary identity") {
    val rows = RelationalQueries.q99PurchaseEpisodes(spark, sf0001)
      .collect()
    val o = graft.sources.Tables.orders(spark, sf0001)
    assert(rows.map(_.getAs[Long]("n_orders")).sum == o.count(),
      "episode order mass must equal total orders")
    // boundary identity: episodes = customers + (>30-day gaps), via a
    // naive per-customer recount
    val byCust = o.select($"o_custkey",
        unix_micros($"o_orderdate".cast("timestamp")).as("us"),
        $"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val naiveEpisodes = byCust.values.map { xs =>
      val sorted = xs.toSeq.sortBy(x => (x._2, x._3)).map(_._2)
      1 + sorted.zip(sorted.tail)
        .count { case (a, b) => (b - a) / 86400000000L > 30 }
    }.sum
    assert(rows.map(_.getAs[Long]("n_episodes")).sum == naiveEpisodes.toLong)
  }

  test("gap sensitivity is monotone and bounded by users/events") {
    val rows = WindowQueries.stGapSensitivity(spark, sf0001).collect()
    assert(rows.length == 4)
    val ev = graft.sources.Tables.events(spark, sf0001)
    val nUsers = ev.select($"user_id").distinct().count()
    val nEvents = ev.count()
    val sessions = rows.sortBy(_.getAs[Long]("gap_minutes"))
      .map(_.getAs[Long]("n_sessions"))
    assert(sessions.zip(sessions.tail).forall { case (a, b) => a >= b },
      "a larger timeout can only merge sessions")
    sessions.foreach { s =>
      assert(s >= nUsers && s <= nEvents,
        "session count is bounded by users below and events above")
    }
  }

  test("coverage audit: sample counts match sample_hash; PSI >= 0") {
    val rows = graft.llm.Sampling.sampleCoverageAudit(spark, sf0001)
      .collect()
    val sampled = graft.llm.Sampling.sampleHash(spark, sf0001)
      .groupBy($"source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_samp") == sampled.getOrElse(r.getString(0), 0L),
        s"sample count drift for ${r.getString(0)} — the audit must use " +
          "sample_hash's selection rule verbatim")
    }
    assert(rows.head.getAs[Double]("psi_total") >= 0.0)
    val nFull = graft.sources.Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_full")).sum == nFull)
  }

  test("trade balance conserves: world earned = world spent") {
    val rows = RelationalQueries.q100NationTradeBalance(spark, sf0001)
      .collect()
    val earned = rows.map(_.getAs[Double]("earned")).sum
    val spent = rows.map(_.getAs[Double]("spent")).sum
    // every lineitem's revenue is earned by exactly one supplier nation
    // and spent by exactly one customer nation
    assert(math.abs(earned - spent) < 0.05 * rows.length,
      s"earned $earned vs spent $spent must agree to rounding")
    assert(math.abs(rows.map(_.getAs[Double]("earn_share")).sum - 1.0)
      < 1e-3)
    assert(math.abs(rows.map(_.getAs[Double]("balance")).sum) <
      0.05 * rows.length)
  }

  test("reident risk conserves users; unique share matches k=1 bucket") {
    val rows = WindowQueries.stReidentRisk(spark, sf0001).collect()
    val nUsers = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == nUsers,
      "k-buckets must partition the user set")
    val uniq = rows.find(_.getAs[Long]("k_bucket") == 1L)
      .map(_.getAs[Long]("n_users")).getOrElse(0L)
    val r6u = BigDecimal(uniq.toDouble / nUsers)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach(r =>
      assert(r.getAs[Double]("unique_user_share") == r6u))
    // every profile in a k-bucket holds exactly k users
    rows.foreach { r =>
      val b = r.getAs[Long]("k_bucket")
      if (b <= 3)
        assert(r.getAs[Long]("n_users") == b * r.getAs[Long]("n_profiles"))
    }
  }

  test("q101 backlog matches the naive month-by-month interval count") {
    val rows = RelationalQueries.q101OrderBacklog(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // naive reference: for each output month, count orders whose
    // [open month, close month] interval covers it — the range-join
    // form the sweep-line plan deliberately avoids
    val spans = graft.sources.Tables.lineitem(spark, sf0001)
      .groupBy($"l_orderkey").agg(max($"l_shipdate").as("ls"))
      .join(graft.sources.Tables.orders(spark, sf0001)
        .select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select((year($"o_orderdate") * 12 + month($"o_orderdate") - 1)
          .cast("long").as("om"),
        (year($"ls") * 12 + month($"ls") - 1).cast("long").as("cm"))
      .collect()
      // the query clamps close >= open (fixture ships some lines
      // before the order date); mirror it in the reference
      .map(r => (r.getLong(0), math.max(r.getLong(0), r.getLong(1))))
    rows.foreach { r =>
      val m = r.getAs[Long]("year") * 12 + r.getAs[Int]("month") - 1
      val naiveBacklog = spans.count(s => s._1 <= m && s._2 > m)
      assert(r.getAs[Long]("backlog") == naiveBacklog.toLong,
        s"backlog mismatch at month $m")
      assert(r.getAs[Long]("opened") == spans.count(_._1 == m).toLong)
      assert(r.getAs[Long]("closed") == spans.count(_._2 == m).toLong)
    }
    // conservation: final backlog = 0 (every order eventually ships)
    assert(rows.last.getAs[Long]("backlog") == 0L)
  }

  test("norm audit counts partition the corpus; bounds hold") {
    val row = Similarity.ssNormAudit(spark, sf0001).collect().head
    val n = graft.sources.Tables.embeddings(spark, sf0001).count()
    assert(row.getAs[Long]("n_vecs") == n)
    assert(row.getAs[Long]("n_zero") + row.getAs[Long]("n_near_unit") <= n)
    assert(row.getAs[Double]("min_norm") <= row.getAs[Double]("mean_norm"))
    assert(row.getAs[Double]("mean_norm") <= row.getAs[Double]("max_norm"))
  }
}
