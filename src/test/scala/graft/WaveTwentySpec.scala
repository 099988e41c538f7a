package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the round-8 wave-20/21 operators. */
class WaveTwentySpec extends SparkSpec {
  import spark.implicits._

  test("wilson lower bound never exceeds the raw rate and stays in [0,1]") {
    val rows = operators.RelationalQueries
      .q64SupplierReliability(spark, sf0001).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val raw = r.getDouble(4); val lb = r.getDouble(5)
      assert(lb <= raw + 1e-9, s"LB $lb above raw $raw")
      assert(lb >= 0.0 && lb <= 1.0)
    }
  }

  test("grouped OLS matches a driver-side least-squares fit per group") {
    val got = operators.RelationalQueries
      .q65DiscountElasticity(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val pts = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .join(spark.read.parquet(s"$sf0001/part.parquet"),
        $"l_partkey" === $"p_partkey")
      .select($"p_type", $"l_discount", $"l_quantity")
      .collect().groupBy(_.getString(0))
    for ((t, rs) <- pts) {
      val xs = rs.map(_.getDouble(1)); val ys = rs.map(_.getDouble(2))
      val n = xs.length.toDouble
      val slope = (xs.zip(ys).map { case (x, y) => x * y }.sum
        - xs.sum * ys.sum / n) / (xs.map(x => x * x).sum - xs.sum * xs.sum / n)
      val intercept = ys.sum / n - slope * xs.sum / n
      assert(math.abs(got(t)._1 - slope) < 1e-3,
        s"$t slope ${got(t)._1} vs reference $slope")
      assert(math.abs(got(t)._2 - intercept) < 1e-3)
    }
  }

  test("hash collision audit finds zero 60-bit collisions on the fixture") {
    val r = llm.Dedup.ddHashCollisionAudit(spark, sf0001).head()
    assert(r.getLong(3) == 0L, s"unexpected h60 collisions: $r")
    assert(r.getLong(1) >= r.getLong(2),
      "distinct hashes can never exceed distinct texts")
  }

  test("manifest diff conserves row counts against base and merged states") {
    val rows = llm.Pipeline.manifestDiff(spark, sf0001).collect()
    val base = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == base, "rows_before must sum to base")
    for (r <- rows) {
      val status = r.getString(3)
      if (status == "added") assert(r.getLong(1) == 0L)
      if (status == "removed") assert(r.getLong(2) == 0L)
      if (status == "unchanged") assert(r.getLong(1) == r.getLong(2),
        "unchanged checksum implies unchanged row count for this feed")
    }
    // the CDC feed always deletes and updates something -> some change
    assert(rows.exists(r => r.getString(3) != "unchanged"))
  }

  test("kappa confusion cells partition the corpus and kappa is bounded") {
    val r = llm.TextAnalysis.taRaterAgreement(spark, sf0001).head()
    assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4)
      == r.getLong(0), "confusion cells must partition the docs")
    val kappa = r.getDouble(7)
    assert(kappa >= -1.0 - 1e-9 && kappa <= 1.0 + 1e-9)
    assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1)
    assert(r.getDouble(6) >= 0 && r.getDouble(6) <= 1)
  }

  test("quartile migration matrix has no (0,0) cell and covers every customer") {
    val rows = operators.RelationalQueries
      .q66QuartileMigration(spark, sf0001).collect()
    assert(!rows.exists(r => r.getInt(0) == 0 && r.getInt(1) == 0),
      "a customer absent in both periods cannot appear")
    val active = spark.read.parquet(s"$sf0001/orders.parquet")
      .select($"o_custkey").distinct().count()
    assert(rows.map(_.getLong(2)).sum == active,
      "matrix must cover every ever-active customer exactly once")
  }

  test("filtered ann returns only same-label neighbors, ranked 1..3") {
    graft.functions.GraftExtensions.register(spark)
    val rows = llm.Similarity.ssFilteredAnn(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val labels = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (r <- rows) {
      assert(labels(r.getLong(2)) == r.getInt(1),
        "neighbor must carry the query's label")
      assert(r.getInt(4) >= 1 && r.getInt(4) <= 3)
    }
  }

  test("repeat intervals: gap count identity and quantile ordering hold") {
    val rows = operators.RelationalQueries
      .q67RepeatIntervals(spark, sf0001).collect()
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val nOrders = orders.count()
    val nCust = orders.select($"o_custkey").distinct().count()
    // every customer with k orders contributes exactly k-1 gaps
    assert(rows.map(_.getLong(1)).sum == nOrders - nCust)
    for (r <- rows) {
      assert(r.getInt(3) <= r.getInt(4), "median must not exceed p90")
      assert(r.getDouble(2) >= 0.0)
    }
  }

  test("threshold sweep is monotone: higher cutoffs keep fewer pairs and docs") {
    val rows = llm.Dedup.ddThresholdSweep(spark, sf0001).collect()
      .sortBy(_.getDouble(0))
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi.getLong(1) <= lo.getLong(1), "pairs must not grow with cutoff")
        assert(hi.getLong(2) <= lo.getLong(2), "affected docs must not grow")
      case _ =>
    }
  }

  test("burstiness moments are self-consistent and vmr non-negative") {
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    val rows = llm.TextAnalysis.taBurstiness(spark, sf0001).collect()
    for (r <- rows) {
      assert(r.getLong(1) <= nDocs, "df cannot exceed corpus size")
      assert(math.abs(r.getDouble(3) * nDocs - r.getLong(2)) < 1e-3,
        "mean_per_doc * n_docs must equal total_count")
      assert(r.getDouble(4) >= 0.0, "variance-to-mean ratio is non-negative")
    }
  }
}
