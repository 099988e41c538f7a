package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Plan-rewrite equivalence proofs on randomized data: the scalable
  * formulations used by the engine (salted two-phase top-k, in-group
  * combination pair generation) must return exactly what their naive
  * single-shuffle/self-join counterparts return. These guard the
  * restructured operators against future "optimization" regressions —
  * the DuckDB oracle checks one fixed dataset; these check arbitrary
  * ones.
  */
class EquivalenceSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase top-k equals the single-window top-k") {
    val rnd = new scala.util.Random(7)
    val df = (1L to 5000L).map(i =>
      (s"g${rnd.nextInt(5)}", i, rnd.nextInt(1000).toDouble))
      .toDF("grp", "id", "v")
    val w = Window.partitionBy($"grp").orderBy($"v".desc, $"id".asc)
    val naive = df.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3).select($"grp", $"id", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val local = Window.partitionBy($"grp", $"salt")
      .orderBy($"v".desc, $"id".asc)
    val twoPhase = df.withColumn("salt", pmod(hash($"id"), lit(8)))
      .withColumn("lrk", row_number().over(local)).filter($"lrk" <= 3)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3).select($"grp", $"id", $"rk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(twoPhase == naive)
  }

  /** The date spine as a Spark 4 recursive CTE: the textbook shape the
    * DuckDB oracle uses, but not the registered plan, because recursion
    * runs one sequential job per day of range (measured 9.4 s for
    * 74 days at sf0.1). */
  private def dateSpineRecursive(): org.apache.spark.sql.DataFrame = {
    graft.operators.BenchQueries.fact(spark).createOrReplaceTempView("bench_fact")
    spark.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT MIN(date) AS d0, MAX(date) AS d1 FROM bench_fact
        |  WHERE pkg = 'sql' AND test = 'BenchmarkBank2_Cockroach-8'),
        |spine(date) AS (
        |  SELECT d0 FROM bounds
        |  UNION ALL
        |  SELECT date_add(spine.date, 1) FROM spine, bounds
        |  WHERE spine.date < bounds.d1)
        |SELECT s.date, f.ns_per_op
        |FROM spine s
        |LEFT JOIN (SELECT date, ns_per_op FROM bench_fact
        |  WHERE pkg = 'sql' AND test = 'BenchmarkBank2_Cockroach-8') f
        |  ON s.date = f.date
        |ORDER BY s.date""".stripMargin)
  }

  test("explode(sequence) date spine equals the WITH RECURSIVE spine") {
    // the registered plan is the generator; the recursive CTE is the
    // shape the DuckDB oracle uses — they must stay row-identical
    val fast = graft.operators.BenchQueries.dateSpine(spark, sf0001)
      .collect().map(r => (r.getDate(0).toString, Option(r.get(1)))).toSeq
    val rec = dateSpineRecursive()
      .collect().map(r => (r.getDate(0).toString, Option(r.get(1)))).toSeq
    assert(fast == rec)
    assert(fast.length == 74) // continuous daily axis over the golden range
  }

  test("in-group combination pair generation equals the self-join") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 3000).map(_ =>
      (rnd.nextInt(200).toLong, s"k${rnd.nextInt(80)}"))
      .toDF("id", "key").distinct()
    val joined = df.as("a").join(df.as("b"),
        $"a.key" === $"b.key" && $"a.id" < $"b.id")
      .select($"a.id".as("ida"), $"b.id".as("idb")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val combos = df.groupBy($"key")
      .agg(collect_set($"id").as("ids"))
      .filter(size($"ids") > 1)
      .select(explode($"ids").as("ida"), $"ids")
      .select($"ida", explode($"ids").as("idb"))
      .filter($"ida" < $"idb").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(combos == joined)
  }

  test("funnel equals a brute-force per-user scan on random event streams") {
    val rnd = new scala.util.Random(17)
    val rows = (1 to 4000).map { i =>
      (i.toLong, rnd.nextInt(5000).toLong * 60L * 1000000000L,
        (rnd.nextInt(40) + 1).toLong,
        Seq("view", "click", "purchase", "signup", "error")(rnd.nextInt(5)),
        1.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel_prop").toString
    // write ts as a real micros timestamp (the current fixture
    // vintage); Tables.events refuses non-empty unannotated INT64
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.parquet(s"$dir/events.parquet")
    // independent reference: per-user scan in (ts, event_id) order —
    // the window formulation must agree with the obvious sequential
    // state machine
    val byUser = rows.groupBy(_._3).view.mapValues(_.sortBy(r => (r._2, r._1)))
    var n1, n2, n3 = 0L
    byUser.foreach { case (_, evs) =>
      var seenView, qualClick, s1, s2, s3 = false
      evs.foreach { e =>
        e._4 match {
          case "view" => seenView = true; s1 = true
          case "click" if seenView => qualClick = true; s2 = true
          case "purchase" if qualClick => s3 = true
          case _ =>
        }
      }
      if (s1) n1 += 1; if (s2) n2 += 1; if (s3) n3 += 1
    }
    val got = graft.streaming.WindowQueries.q38Funnel(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got == Map(1 -> n1, 2 -> n2, 3 -> n3))
  }

  test("funnel enforces event ORDER, not mere presence of stage types") {
    // crafted events: user 1 converts in order; user 2 has all three
    // types but in reverse (purchase first), so only stage 1 counts;
    // user 3's click precedes their view, so neither click nor the
    // later purchase qualifies
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    def ns(min: Int): Long = min * 60L * 1000000000L // nanos, as fixtures store ts
    Seq(
      (1L, ns(1), 1L, "view", 1.0), (2L, ns(2), 1L, "click", 1.0),
      (3L, ns(3), 1L, "purchase", 1.0),
      (4L, ns(1), 2L, "purchase", 1.0), (5L, ns(2), 2L, "click", 1.0),
      (6L, ns(3), 2L, "view", 1.0),
      (7L, ns(1), 3L, "click", 1.0), (8L, ns(2), 3L, "view", 1.0),
      (9L, ns(3), 3L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.parquet(s"$dir/events.parquet")
    val got = graft.streaming.WindowQueries.q38Funnel(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSeq
    assert(got == Seq((1, 3L), (2, 1L), (3, 1L)))
  }
}
