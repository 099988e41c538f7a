package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Exact
import graft.sources.Tables

/** Event-time windowing over `events` in BATCH form — the exact same
  * window()/session_window() expressions Structured Streaming executes
  * incrementally; batch form is what the DuckDB oracle can verify.
  *
  * Timestamps are projected to epoch microseconds (integers) at the
  * output boundary so the oracle compare is exact, never tz/precision
  * dependent. Money-ish double sums go through DECIMAL(18,6) — the
  * established pattern in this repo for order-independent sums.
  */
object WindowQueries {

  private def sumVal = round(
    Exact.sum(col("value"), 18, 6), 6)

  // --------------------------------------------------------------------
  // st_tumbling: 1-hour tumbling windows per event_type.
  def stTumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sumVal.as("sum_value"))
      .select(unix_micros($"w.start").as("w_start_us"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"w_start_us", $"event_type")
  }

  val stTumblingSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us, event_type,
      |  COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // st_sliding: 1-hour windows sliding every 30 minutes — each event
  // lands in exactly 2 windows. Oracle reproduces Spark's window
  // assignment arithmetically: starts are the two 30-minute grid
  // points s with s <= ts < s + 1h.
  def stSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sumVal.as("sum_value"))
      .select(unix_micros($"w.start").as("w_start_us"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"w_start_us", $"event_type")
  }

  val stSlidingSql: String =
    """WITH g AS (
      |  SELECT *, (epoch_us(ts) // 1800000000) * 1800000000 AS grid FROM events),
      |x AS (
      |  SELECT event_type, value, unnest([grid, grid - 1800000000]) AS w_start_us
      |  FROM g)
      |SELECT w_start_us, event_type, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // st_session: 30-minute-gap session windows per user
  // (session_window semantics: session end = last event + gap).
  // Oracle is the classic gaps-and-islands rewrite.
  def stSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), sumVal.as("sum_value"))
      .select($"user_id",
        unix_micros($"w.start").as("session_start_us"),
        unix_micros($"w.end").as("session_end_us"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start_us")
  }

  val stSessionSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM o)
      |SELECT user_id,
      |  epoch_us(MIN(ts)) AS session_start_us,
      |  epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
      |  COUNT(*) AS n_events,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin

  // --------------------------------------------------------------------
  // q43_session_stats: per-user engagement rollup of st_session —
  // session count, bounce rate (single-event sessions), events per
  // session, mean session duration (session_window semantics: end =
  // last event + gap, so duration includes the gap tail), and the
  // busiest session. The product-analytics staple one level above
  // st_session's raw sessions. Scale shape: session_window already
  // hash-partitions by user_id (session assignment is a per-key sort
  // within that exchange), and the user rollup groups on the SAME key
  // — one shuffle total, and the rollup is partial-aggregable.
  // Durations are integer micros (exact sums); the mean duration is
  // FLOOR-divided integer micros (a 6-dp double round of a ~1e9 value
  // sits at the edge of double precision and is not portable — the
  // repo's integer-at-the-boundary rule), and the two small rates are
  // single divisions of exact longs, identical in both engines.
  def q43SessionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sess = Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        (unix_micros($"w.end") - unix_micros($"w.start")).as("dur_us"),
        $"n_events")
    sess.groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when($"n_events" === 1, 1L).otherwise(0L)).as("n_bounce"),
        sum($"n_events").as("n_events_total"),
        sum($"dur_us").as("tot_dur_us"),
        max($"n_events").as("max_session_events"))
      .select($"user_id", $"n_sessions", $"n_bounce", $"n_events_total",
        round($"n_bounce".cast("double") / $"n_sessions", 6)
          .as("bounce_rate"),
        round($"n_events_total".cast("double") / $"n_sessions", 6)
          .as("events_per_session"),
        expr("tot_dur_us div n_sessions").as("avg_dur_us"),
        $"max_session_events")
      .orderBy($"user_id")
  }

  val q43SessionStatsSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM o),
      |per AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    epoch_us(MAX(ts)) + 1800000000 - epoch_us(MIN(ts)) AS dur_us
      |  FROM s GROUP BY user_id, session_id)
      |SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bounce,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events_total,
      |  ROUND(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS bounce_rate,
      |  ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
      |    AS events_per_session,
      |  CAST(SUM(dur_us) // COUNT(*) AS BIGINT) AS avg_dur_us,
      |  CAST(MAX(n_events) AS BIGINT) AS max_session_events
      |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------------------------------
  // q38_funnel: ordered conversion funnel view → click → purchase.
  // A click counts only if the user had a view at-or-before it; a
  // purchase only if a qualifying click precedes it — the ORDERED
  // semantics product analytics needs (a purchase before any click
  // does not convert the funnel), which a plain per-type count can't
  // express. Two stacked running-min windows over the same (user_id,
  // ts) ordering carry "earliest view so far" / "earliest qualifying
  // click so far" past each row.
  //
  // Scale shape: both window passes and the per-user flag aggregation
  // share ONE partitioning on user_id — a single corpus shuffle; the
  // funnel summary reduces to a 1-row frame before the 3-row output
  // union. No self-joins (the textbook per-stage-join funnel shuffles
  // the events table once per stage).
  def q38Funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val per = Tables.events(spark, dir)
      .withColumn("v_ts", min(when($"event_type" === "view", $"ts")).over(ord))
      .withColumn("c_ts", min(when($"event_type" === "click"
        && $"v_ts".isNotNull, $"ts")).over(ord))
      .groupBy($"user_id")
      .agg(
        max(when($"event_type" === "view", 1).otherwise(0)).as("s1"),
        max(when($"event_type" === "click" && $"v_ts".isNotNull, 1)
          .otherwise(0)).as("s2"),
        max(when($"event_type" === "purchase" && $"c_ts".isNotNull, 1)
          .otherwise(0)).as("s3"))
    // coalesce: on an empty event set the ungrouped agg still emits
    // one row, and the funnel should report defined zeros, not NULLs
    val t = per.agg(coalesce(sum($"s1"), lit(0L)).as("n1"),
      coalesce(sum($"s2"), lit(0L)).as("n2"),
      coalesce(sum($"s3"), lit(0L)).as("n3"))
    // one generator over the 1-row totals, NOT a 3-way union of
    // selects from t: union branches re-plan the whole subtree (no
    // common-subplan reuse in Catalyst), which would scan events
    // three times
    t.select(explode(array(
        struct(lit(1).as("stage"), lit("view").as("name"),
          $"n1".as("n_users"), lit(1.0).as("conv_from_prev")),
        // 0/0 guard (empty prior stage): Spark yields NaN, DuckDB's
        // answer depends on ieee_floating_point_ops — emit a vacuous
        // 0.0 on both sides instead (same convention as attrition).
        struct(lit(2).as("stage"), lit("click_after_view").as("name"),
          $"n2".as("n_users"),
          when($"n1" === 0, lit(0.0))
            .otherwise(round($"n2".cast("double") / $"n1", 6))
            .as("conv_from_prev")),
        struct(lit(3).as("stage"), lit("purchase_after_click").as("name"),
          $"n3".as("n_users"),
          when($"n2" === 0, lit(0.0))
            .otherwise(round($"n3".cast("double") / $"n2", 6))
            .as("conv_from_prev"))))
        .as("r"))
      .select($"r.stage", $"r.name", $"r.n_users", $"r.conv_from_prev")
      .orderBy($"stage")
  }

  val q38FunnelSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) OVER w AS v_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |o2 AS (
      |  SELECT *, MIN(CASE WHEN event_type = 'click' AND v_ts IS NOT NULL
      |      THEN ts END) OVER w AS c_ts
      |  FROM o
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |per AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
      |    MAX(CASE WHEN event_type = 'click' AND v_ts IS NOT NULL
      |      THEN 1 ELSE 0 END) AS s2,
      |    MAX(CASE WHEN event_type = 'purchase' AND c_ts IS NOT NULL
      |      THEN 1 ELSE 0 END) AS s3
      |  FROM o2 GROUP BY user_id),
      |t AS (SELECT CAST(COALESCE(SUM(s1), 0) AS BIGINT) AS n1,
      |    CAST(COALESCE(SUM(s2), 0) AS BIGINT) AS n2,
      |    CAST(COALESCE(SUM(s3), 0) AS BIGINT) AS n3 FROM per)
      |SELECT 1 AS stage, 'view' AS name, n1 AS n_users,
      |  CAST(1.0 AS DOUBLE) AS conv_from_prev FROM t
      |UNION ALL SELECT 2, 'click_after_view', n2,
      |  CASE WHEN n1 = 0 THEN 0.0
      |    ELSE ROUND(CAST(n2 AS DOUBLE) / n1, 6) END FROM t
      |UNION ALL SELECT 3, 'purchase_after_click', n3,
      |  CASE WHEN n2 = 0 THEN 0.0
      |    ELSE ROUND(CAST(n3 AS DOUBLE) / n2, 6) END FROM t
      |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------------
  // q39_retention: cohort retention matrix — users grouped by first-
  // activity date, counted distinct on each later day they return
  // (the D1/D7/D30 analytics staple). retention = active / cohort
  // size.
  //
  // Scale shape: first-touch is one partial-aggregable groupBy on
  // user_id; the join back is on the same key (co-partitioned with
  // the groupBy's shuffle); the (cohort, offset, user) distinct and
  // the matrix count reduce over bounded keys (days × days). Cohort
  // sizes are a ≤days-sized table and broadcast.
  def q39Retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d"))
    val first = ev.groupBy($"user_id").agg(min($"d").as("cohort"))
    val sizes = first.groupBy($"cohort").agg(count(lit(1)).as("cohort_n"))
    ev.join(first, "user_id")
      .select($"cohort", datediff($"d", $"cohort").as("day_offset"), $"user_id")
      .distinct()
      .groupBy($"cohort", $"day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort")
      .select($"cohort", $"day_offset", $"n_active", $"cohort_n",
        round($"n_active".cast("double") / $"cohort_n", 6).as("retention"))
      .orderBy($"cohort", $"day_offset")
  }

  val q39RetentionSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
      |f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id),
      |s AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_n
      |  FROM f GROUP BY cohort),
      |a AS (SELECT DISTINCT f.cohort,
      |    CAST(e.d - f.cohort AS INT) AS day_offset, e.user_id
      |  FROM e JOIN f USING (user_id)),
      |m AS (SELECT cohort, day_offset, CAST(COUNT(*) AS BIGINT) AS n_active
      |  FROM a GROUP BY cohort, day_offset)
      |SELECT m.cohort, m.day_offset, m.n_active, s.cohort_n,
      |  ROUND(CAST(m.n_active AS DOUBLE) / s.cohort_n, 6) AS retention
      |FROM m JOIN s USING (cohort)
      |ORDER BY m.cohort, m.day_offset""".stripMargin

  // --------------------------------------------------------------------
  // st_interval_join: view→click attribution pairs — every (view,
  // click) of the same user with the click inside [view_ts, view_ts +
  // 10 min]. This is THE stream-stream interval join (the Structured
  // Streaming canonical example): in streaming form both sides are
  // streams, the time bound plus watermarks let the engine expire
  // join state (a view older than 10 min past the watermark can never
  // match again). Batch form here is verbatim the join condition a
  // streaming run would use, which is what the oracle can check.
  //
  // Scale shape: an equi-join on user_id carrying the time predicate
  // as a secondary condition — one shuffle on the join key for each
  // side, never a cross join; the interval bound is what keeps
  // streaming state (and any time-bucketed batch variant) finite.
  def stIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    v.join(c, v("user_id") === c("user_id") &&
        $"click_ts" >= $"view_ts" &&
        $"click_ts" <= $"view_ts" + expr("INTERVAL 10 MINUTES"))
      .select(v("user_id"), $"view_id", $"click_id",
        unix_micros($"view_ts").as("view_us"),
        unix_micros($"click_ts").as("click_us"))
      .orderBy($"user_id", $"view_id", $"click_id")
  }

  val stIntervalJoinSql: String =
    """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
      |  FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click')
      |SELECT v.user_id, view_id, click_id,
      |  epoch_us(view_ts) AS view_us, epoch_us(click_ts) AS click_us
      |FROM v JOIN c ON v.user_id = c.user_id
      |  AND click_ts >= view_ts
      |  AND click_ts <= view_ts + INTERVAL 10 MINUTE
      |ORDER BY v.user_id, view_id, click_id""".stripMargin

  // --------------------------------------------------------------------
  // st_dedup_first: the batch face of streaming dedup — earliest
  // event per (user_id, event_type), event_id as tie-break.
  // Streaming keeps the FIRST arrival per key within the watermark
  // (dropDuplicatesWithinWatermark); over a closed
  // batch "first" means event-time minimum, which is what this
  // computes and the oracle hash-checks. Both engines order on
  // MICROSECOND time (Spark's timestamp grain): the oracle must not
  // tie-break on the raw nanosecond ts or a sub-microsecond pair
  // would legally sort differently in the two engines.
  //
  // Scale shape: one groupBy on the dedup key with a lexicographic
  // min(struct(ts, event_id, ...)) — partial-aggregable argmin
  // (map-side combine), no per-key window sort, no join.
  def stDedupFirst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"user_id", $"event_type",
        struct(unix_micros($"ts").as("ts_us"), $"event_id", $"value").as("e"))
      .groupBy($"user_id", $"event_type")
      .agg(min($"e").as("f"))
      .select($"user_id", $"event_type", $"f.ts_us".as("ts_us"),
        $"f.event_id".as("event_id"), $"f.value".as("value"))
      .orderBy($"user_id", $"event_type")
  }

  val stDedupFirstSql: String =
    """WITH r AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
      |    event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events)
      |SELECT user_id, event_type, ts_us, event_id, value
      |FROM r WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // --------------------------------------------------------------------
  // q42_active_users: DAU / trailing-7-day WAU / stickiness per day —
  // the engagement staple next to retention (q39). WAU is a
  // distinct-over-sliding-window, which has no partial-aggregable
  // form; the scale decomposition is: reduce events to DISTINCT
  // (day, user) pairs first (bounded by days × users, orders of
  // magnitude under event count), then EXPLODE each pair into the ≤7
  // trailing windows it belongs to (sequence(d, d+6) — a narrow
  // Generate, exactly 7 rows per pair regardless of history length)
  // and re-count distinct per day. The corpus-sized event table is
  // touched once, and no plan node scales with the calendar: the
  // previous range-join form broadcast the day spine into a
  // BroadcastNestedLoopJoin evaluating |pairs| × |days| predicates,
  // which degrades linearly with years of history for the same ≤7
  // surviving rows (PlanSpec pins the Generate shape). Phantom days
  // (d+1..d+6 past a pair's own activity) are pruned by the final
  // inner join against DAU's observed-day spine, which this exactly
  // preserves from the range-join form — same rows, same hash.
  def q42ActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val du = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("d")).distinct()
      .localCheckpoint() // feeds dau and the exploded wau pass
    val dau = du.groupBy($"d".as("day")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence($"d", date_add($"d", 6))).as("day"), $"user_id")
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select($"day", $"dau", $"wau",
        round($"dau".cast("double") / $"wau", 6).as("stickiness"))
      .orderBy($"day")
  }

  val q42ActiveUsersSql: String =
    """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      |  FROM events),
      |days AS (SELECT DISTINCT d AS day FROM du),
      |dau AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS dau
      |  FROM du GROUP BY d),
      |w AS (SELECT DISTINCT days.day, du.user_id FROM du JOIN days
      |  ON du.d BETWEEN days.day - 6 AND days.day),
      |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
      |  FROM w GROUP BY day)
      |SELECT dau.day, dau.dau, wau.wau,
      |  ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // --------------------------------------------------------------------
  // q44_transitions: event-type Markov transition matrix — per user,
  // order events by time and count (prev_type → next_type) bigrams,
  // with 'START' as the virtual predecessor of each user's first
  // event; p_next row-normalizes per prev_type. The behavioral-model
  // staple (next-action prediction features, funnel anomaly hunting:
  // a purchase whose prev is START is a bot signature). Scale shape:
  // ONE corpus shuffle — the lag window partitions by user_id; the
  // bigram rollup then reduces over the bounded (types+1)×types key
  // space (partial-aggregable), and row-normalization windows over
  // that bounded table only, never over event rows. Counts are exact
  // longs; p_next is a single division of exact longs.
  def q44Transitions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val bi = Tables.events(spark, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type",
        coalesce(lag($"event_type", 1).over(w), lit("START")))
      .groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wn = Window.partitionBy($"prev_type")
    bi.withColumn("p_next",
        round($"n".cast("double") / sum($"n").over(wn), 6))
      .select($"prev_type", $"next_type", $"n", $"p_next")
      .orderBy($"prev_type", $"next_type")
  }

  val q44TransitionsSql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    COALESCE(LAG(event_type) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id), 'START')
      |      AS prev_type
      |  FROM events),
      |bi AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n
      |  FROM o GROUP BY 1, 2)
      |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
      |    AS p_next
      |FROM bi ORDER BY prev_type, next_type""".stripMargin

  // --------------------------------------------------------------------
  // q45_rfm: RFM segmentation — per-user Recency (µs since last
  // event, from the corpus max so the cube is reproducible), Frequency
  // (event count), Monetary (DECIMAL-exact value sum), each scored
  // into quintiles against corpus-wide cutoffs, rolled up to the
  // (r,f,m) segment cube (≤125 rows). r_score counts UP with
  // staleness (5 = most lapsed) — the raw quintile index, not the
  // inverted marketing convention.
  //
  // Determinism: quintile cutoffs are exact interpolated percentiles
  // (the q25 percentile↔quantile_cont bridge) rounded to 6 dp BEFORE
  // the comparison — Spark and DuckDB interpolate tied endpoints with
  // different-but-ulp-equal formulas, and the 6-dp quantization
  // removes that lip; the compared metrics are exact (integer µs,
  // integer counts, 6-dp decimal sums), so no boundary can flip.
  //
  // Scale shape: per-user agg is partial-aggregable on user_id (one
  // corpus shuffle); cutoffs are ONE 1-row aggregate broadcast back
  // (crossJoin); scoring is a narrow projection; the segment rollup
  // reduces over the bounded 125-key cube. At production SF swap
  // percentile → approx_percentile, same plan.
  def q45Rfm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val mx = ev.agg(max(unix_micros($"ts")).as("corpus_max_us"))
    val per = ev.groupBy($"user_id")
      .agg(max(unix_micros($"ts")).as("last_us"),
        count(lit(1)).as("freq"),
        Exact.sum($"value", 18, 6).as("money"))
      .crossJoin(mx)
      .withColumn("rec_us", $"corpus_max_us" - $"last_us")
    val cuts = per.agg(
      expr("percentile(rec_us, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(freq, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(money, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
    def score(m: org.apache.spark.sql.Column, cs: String) =
      (1 to 4).map(i =>
        (m > round(element_at(col(cs), i), 6)).cast("int"))
        .foldLeft(lit(1))(_ + _)
    per.crossJoin(cuts)
      .select($"user_id", $"money",
        score($"rec_us", "rc").as("r_score"),
        score($"freq", "fc").as("f_score"),
        score($"money", "mc").as("m_score"))
      .groupBy($"r_score", $"f_score", $"m_score")
      .agg(count(lit(1)).as("n_users"),
        round(Exact.sum($"money", 18, 6), 6).as("total_value"))
      .orderBy($"r_score", $"f_score", $"m_score")
  }

  val q45RfmSql: String = {
    def score(m: String, cs: String) =
      "1 + " + (1 to 4).map(i =>
        s"CAST($m > ROUND($cs[$i], 6) AS INT)").mkString(" + ")
    s"""WITH mx AS (SELECT MAX(epoch_us(ts)) AS corpus_max_us FROM events),
       |per AS (SELECT user_id, MAX(epoch_us(ts)) AS last_us,
       |    COUNT(*) AS freq,
       |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS money
       |  FROM events GROUP BY user_id),
       |pr AS (SELECT user_id, freq, money,
       |    corpus_max_us - last_us AS rec_us
       |  FROM per CROSS JOIN mx),
       |cuts AS (SELECT
       |    quantile_cont(rec_us, [0.2, 0.4, 0.6, 0.8]) AS rc,
       |    quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
       |    quantile_cont(money, [0.2, 0.4, 0.6, 0.8]) AS mc
       |  FROM pr),
       |sc AS (SELECT user_id, money,
       |    ${score("rec_us", "rc")} AS r_score,
       |    ${score("freq", "fc")} AS f_score,
       |    ${score("money", "mc")} AS m_score
       |  FROM pr CROSS JOIN cuts)
       |SELECT r_score, f_score, m_score,
       |  COUNT(*) AS n_users,
       |  ROUND(CAST(SUM(CAST(money AS DECIMAL(18,6))) AS DOUBLE), 6)
       |    AS total_value
       |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  // --------------------------------------------------------------------
  // st_static_enrich: stream-static enrichment join + running aggregate
  // in batch form. A live event stream joins a SLOWLY-CHANGING
  // dimension (customer segments) that is re-read per micro-batch on
  // the static side; Structured Streaming executes this as a broadcast
  // join with NO streaming state for the join itself (only the
  // downstream aggregate is stateful) — the one join flavor that is
  // free at any stream rate. Batch form = the same broadcast join +
  // groupBy, which is what the oracle verifies.
  def stStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment")
    Tables.events(spark, dir)
      .join(broadcast(dim), $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment".as("segment"), $"event_type")
      .agg(count(lit(1)).as("n"), sumVal.as("sum_value"))
      .orderBy($"segment", $"event_type")
  }

  val stStaticEnrichSql: String =
    """SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------------------------
  // st_lateness_audit: out-of-order-depth measurement — the analysis
  // run BEFORE choosing a watermark delay: for each event, lateness =
  // (running max event-time over the ARRIVAL order so far) − its own
  // event-time; the histogram of lateness tells you what delay bounds
  // state growth vs. how many rows a given watermark would drop. The
  // fixture's events file is fully time-sorted (a single-writer log),
  // so arrival simulates the 8-shard collector a real ingest has:
  // shard k = event_id mod 8 drains with a constant k×500-slot lag —
  // the deterministic arrival permutation under which slow-shard rows
  // genuinely regress event time. The running max is per-user (each
  // user's stream is a partition — fully parallel, matching per-key
  // arrival skew, where a GLOBAL running max would be one sequential
  // task over the whole stream at any scale). Output: power-of-4
  // lateness-second buckets with row counts and the share a 10-minute
  // watermark would have dropped.
  def stLatenessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
      .orderBy($"arr_seq", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = Tables.events(spark, dir)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
        ($"event_id" + ($"event_id" % 8) * 500).as("arr_seq"))
      .withColumn("late_us", max($"ts_us").over(w) - $"ts_us")
    // power-of-4 bucket by an exact integer comparison chain — never
    // floor(log(x)): libm log differs across engines at exact-power
    // boundaries and would flip the floor (the len(bin(d))−1 lesson
    // from llm_graph_degree, in CASE form because log4 has no
    // bit-length shortcut)
    val sec = expr("late_us div 1000000")
    val bucket = (1 to 11).reverse.foldLeft(lit(11L): Column) { (els, k) =>
      when(sec < math.pow(4.0, k).toLong, lit(k - 1L)).otherwise(els)
    }
    late
      .select(
        when($"late_us" === 0, lit(-1L)).otherwise(bucket)
          .cast("long").as("bucket"),
        $"late_us")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_events"),
        max($"late_us").as("max_late_us"),
        sum(when($"late_us" > 600L * 1000000L, 1L).otherwise(0L))
          .as("n_beyond_10m"))
      .orderBy($"bucket")
  }

  val stLatenessAuditSql: String =
    """WITH a AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    event_id + (event_id % 8) * 500 AS arr_seq
      |  FROM events),
      |l AS (
      |  SELECT user_id, event_id, ts_us,
      |    MAX(ts_us) OVER (PARTITION BY user_id ORDER BY arr_seq, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - ts_us AS late_us
      |  FROM a),
      |b AS (
      |  SELECT CAST(CASE WHEN late_us = 0 THEN -1
      |      WHEN late_us // 1000000 < 4 THEN 0
      |      WHEN late_us // 1000000 < 16 THEN 1
      |      WHEN late_us // 1000000 < 64 THEN 2
      |      WHEN late_us // 1000000 < 256 THEN 3
      |      WHEN late_us // 1000000 < 1024 THEN 4
      |      WHEN late_us // 1000000 < 4096 THEN 5
      |      WHEN late_us // 1000000 < 16384 THEN 6
      |      WHEN late_us // 1000000 < 65536 THEN 7
      |      WHEN late_us // 1000000 < 262144 THEN 8
      |      WHEN late_us // 1000000 < 1048576 THEN 9
      |      WHEN late_us // 1000000 < 4194304 THEN 10
      |      ELSE 11 END AS BIGINT) AS bucket,
      |    late_us
      |  FROM l)
      |SELECT bucket, COUNT(*) AS n_events,
      |  MAX(late_us) AS max_late_us,
      |  CAST(SUM(CASE WHEN late_us > 600 * 1000000 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_beyond_10m
      |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------------------------------
  // st_windowed_distinct: exact distinct users per tumbling hour — the
  // cardinality-over-time monitor (DAU/HAU family). Exact COUNT
  // (DISTINCT) inside a windowed groupBy plans as the two-phase
  // (window, user) pre-dedup then per-window count — both phases
  // partial-aggregable, no per-window set materializes on one task. In
  // the streaming runtime (and at 100 TB batch) this swaps to
  // approx_count_distinct (HLL sketch state, mergeable across
  // micro-batches) — the exact form here is what the oracle can
  // verify, and the plan shape is identical.
  def stWindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
      .select(unix_micros($"w.start").as("w_start_us"),
        $"n_events", $"n_users")
      .orderBy($"w_start_us")
  }

  val stWindowedDistinctSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------
  // st_arrival_rate: per-hour arrival counts with hour-over-hour delta
  // and a burst flag (count > 2× the stream's mean hourly rate) — the
  // ingest-rate monitor that pages before a crawler loop or replay
  // storm floods the pipeline. The lag window is UNPARTITIONED by
  // design and that is safe at any corpus size: it runs over the
  // per-hour aggregate, whose cardinality is bounded by the calendar
  // (720 rows/month), not by the data — the same bounded-domain
  // argument as q67's day histogram. In the streaming runtime the
  // same query is the tumbling agg + a 1-window stateful lag.
  def stArrivalRate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(spark, dir)
      .groupBy(window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros($"w.start").as("w_start_us"), $"n_events")
    val mean = broadcast(hourly.agg(
      (sum($"n_events").cast("double") / count(lit(1))).as("mean_rate")))
    val w = Window.orderBy($"w_start_us")
    hourly.crossJoin(mean)
      .withColumn("prev_n", lag($"n_events", 1).over(w))
      .select($"w_start_us", $"n_events",
        ($"n_events" - coalesce($"prev_n", $"n_events")).as("delta"),
        round($"mean_rate", 6).as("mean_rate"),
        when($"n_events" > $"mean_rate" * 2, 1L).otherwise(0L).as("is_burst"))
      .orderBy($"w_start_us")
  }

  val stArrivalRateSql: String =
    """WITH h AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) AS w_start_us,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1),
      |m AS (SELECT CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_rate
      |  FROM h)
      |SELECT w_start_us, n_events,
      |  n_events - COALESCE(LAG(n_events, 1) OVER (ORDER BY w_start_us),
      |    n_events) AS delta,
      |  ROUND(mean_rate, 6) AS mean_rate,
      |  CAST(CASE WHEN n_events > mean_rate * 2 THEN 1 ELSE 0 END
      |    AS BIGINT) AS is_burst
      |FROM h CROSS JOIN m ORDER BY w_start_us""".stripMargin

  // --------------------------------------------------------------------
  // st_acf: lag-{1,6,12,24} autocorrelation of the per-type hourly
  // arrival series — the periodicity detector behind every seasonal
  // baseline here: a strong lag-24 ACF says st_hourly_profile's
  // 168-cell grid is the right normalizer, a strong lag-1 says bursts
  // are sticky and st_arrival_rate's burst flag will fire in runs.
  // The series is the DENSE hourly grid (missing hours are real zeros
  // — on the present-hours-only series lag-1 would mean "previous
  // hour with traffic", a different and wrong statistic). Scale
  // shape: one partial-aggregable groupBy to the calendar-bounded
  // (type × hour) grain; the spine is a generated sequence off a
  // 1-row bounds aggregate; the lag windows and the final per-type
  // rollup run over ≤ |types| × 720 rows/month regardless of event
  // volume — the bounded-domain argument of st_arrival_rate.
  // Determinism: counts are integers; the mean is one double
  // division of exact sums; deviation products go through
  // DECIMAL(28,12) (order-insensitive) with identical forms in both
  // engines; a constant series (den = 0) reports 0, never NaN.
  def stAcf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000L
    val hourly = Tables.events(spark, dir)
      .groupBy($"event_type", window($"ts", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"event_type", unix_micros($"w.start").as("h_us"), $"n").localCheckpoint()
    val spine = hourly.agg(min($"h_us").as("mn"), max($"h_us").as("mx"))
      .select(explode(sequence($"mn", $"mx", lit(hourUs))).as("h_us"))
    val grid = spine
      .crossJoin(broadcast(hourly.select($"event_type").distinct()))
      .join(hourly, Seq("event_type", "h_us"), "left")
      .select($"event_type", $"h_us", coalesce($"n", lit(0L)).as("n"))
    val mu = grid.groupBy($"event_type")
      .agg((sum($"n").cast("double") / count(lit(1))).as("mu"),
        count(lit(1)).as("nh"))
    val w = Window.partitionBy($"event_type").orderBy($"h_us")
    val dev = grid.join(broadcast(mu), "event_type")
      .select($"event_type", $"h_us", $"nh",
        ($"n".cast("double") - $"mu").as("d"))
      .withColumn("d1", lag($"d", 1).over(w))
      .withColumn("d6", lag($"d", 6).over(w))
      .withColumn("d12", lag($"d", 12).over(w))
      .withColumn("d24", lag($"d", 24).over(w))
    dev.groupBy($"event_type")
      .agg(max($"nh").as("nh"), Exact.sum($"d" * $"d").as("den"),
        Exact.sum($"d" * $"d1").as("n1"), Exact.sum($"d" * $"d6").as("n6"),
        Exact.sum($"d" * $"d12").as("n12"), Exact.sum($"d" * $"d24").as("n24"))
      .select($"event_type", $"nh", $"den",
        expr("stack(4, 1, n1, 6, n6, 12, n12, 24, n24) AS (lag, num)"))
      .select($"event_type", $"lag".cast("long").as("lag"),
        ($"nh" - $"lag").cast("long").as("n_pairs"),
        round(when($"den" === 0.0, 0.0).otherwise($"num" / $"den"), 6)
          .as("acf"))
      .orderBy($"event_type", $"lag")
  }

  val stAcfSql: String =
    """WITH h AS (
      |  SELECT event_type, epoch_us(date_trunc('hour', ts)) AS h_us,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT MIN(h_us) AS mn, MAX(h_us) AS mx FROM h),
      |spine AS (SELECT unnest(generate_series(mn, mx, 3600000000)) AS h_us
      |  FROM b),
      |types AS (SELECT DISTINCT event_type FROM h),
      |grid AS (
      |  SELECT t.event_type, s.h_us, COALESCE(h.n, 0) AS n
      |  FROM spine s CROSS JOIN types t
      |  LEFT JOIN h ON h.event_type = t.event_type AND h.h_us = s.h_us),
      |m AS (
      |  SELECT event_type, CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mu,
      |    COUNT(*) AS nh
      |  FROM grid GROUP BY 1),
      |dv0 AS (
      |  SELECT g.event_type, g.h_us, m.nh,
      |    CAST(g.n AS DOUBLE) - m.mu AS d
      |  FROM grid g JOIN m ON g.event_type = m.event_type),
      |dv AS (
      |  SELECT *, LAG(d, 1) OVER w AS d1, LAG(d, 6) OVER w AS d6,
      |    LAG(d, 12) OVER w AS d12, LAG(d, 24) OVER w AS d24
      |  FROM dv0
      |  WINDOW w AS (PARTITION BY event_type ORDER BY h_us)),
      |a AS (
      |  SELECT event_type, MAX(nh) AS nh,
      |    CAST(SUM(CAST(d * d AS DECIMAL(28,12))) AS DOUBLE) AS den,
      |    CAST(SUM(CAST(d * d1 AS DECIMAL(28,12))) AS DOUBLE) AS n1,
      |    CAST(SUM(CAST(d * d6 AS DECIMAL(28,12))) AS DOUBLE) AS n6,
      |    CAST(SUM(CAST(d * d12 AS DECIMAL(28,12))) AS DOUBLE) AS n12,
      |    CAST(SUM(CAST(d * d24 AS DECIMAL(28,12))) AS DOUBLE) AS n24
      |  FROM dv GROUP BY 1)
      |SELECT a.event_type, CAST(l.lag AS BIGINT) AS lag,
      |  CAST(a.nh - l.lag AS BIGINT) AS n_pairs,
      |  ROUND(CASE WHEN a.den = 0.0 THEN 0.0
      |    ELSE (CASE l.lag WHEN 1 THEN a.n1 WHEN 6 THEN a.n6
      |          WHEN 12 THEN a.n12 ELSE a.n24 END) / a.den END, 6) AS acf
      |FROM a CROSS JOIN (SELECT unnest([1, 6, 12, 24]) AS lag) l
      |ORDER BY event_type, lag""".stripMargin

  // --------------------------------------------------------------------
  // st_top_users: top-3 users per 6-hour window by event count — the
  // windowed heavy-hitter report (abuse/bot triage reads this). The
  // rank window partitions on the TIME window and orders by the
  // already-collapsed per-(window, user) counts, so each partition
  // holds at most |distinct users seen that window| rows — at 100 TB
  // the (window, user) pre-aggregation is the big partial-aggregable
  // shuffle and the rank stays bounded; a uniquely hot window would
  // take q23's salted two-phase top-k instead. Streaming twin:
  // tumbling agg + per-window in-memory top-k state.
  def stTopUsers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val perUser = Tables.events(spark, dir)
      .groupBy(window($"ts", "6 hours").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros($"w.start").as("w_start_us"), $"user_id",
        $"n_events")
    val w = Window.partitionBy($"w_start_us")
      .orderBy($"n_events".desc, $"user_id".asc)
    perUser.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .orderBy($"w_start_us", $"rank")
  }

  val stTopUsersSql: String =
    """WITH pu AS (
      |  SELECT epoch_us(ts) // 21600000000 * 21600000000 AS w_start_us,
      |    user_id, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY w_start_us
      |    ORDER BY n_events DESC, user_id ASC) AS rank
      |  FROM pu)
      |SELECT w_start_us, user_id, n_events, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 3 ORDER BY w_start_us, rank""".stripMargin

  // --------------------------------------------------------------------
  // st_hourly_profile: the seasonal load profile — events per
  // (day-of-week × hour-of-day) cell with each cell's share and its
  // ratio to the uniform-rate expectation. The capacity-planning /
  // anomaly-baseline twin of st_arrival_rate: arrival_rate pages on a
  // burst NOW, the profile says what "normal for Tuesday 14:00" even
  // is (and the ratio column is the seasonality factor a streaming
  // alert threshold should divide by). Scale shape: ONE
  // partial-aggregable groupBy to the fixed 168-cell grid; the total
  // is a 1-row broadcast. Day-of-week is derived as an integer from
  // the epoch day (1970-01-01 was a Thursday) — dayofweek()'s
  // locale/engine conventions never enter the contract.
  def stHourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = Tables.events(spark, dir)
      .select(
        // epoch day mod 7: 0 = Thursday; shift so 0 = Monday
        (((floor(unix_micros($"ts") / lit(86400000000L)) + 3) % 7)
          .cast("int")).as("dow"),
        (floor(unix_micros($"ts") / lit(3600000000L)) % 24).cast("int")
          .as("hour"))
      .groupBy($"dow", $"hour").agg(count(lit(1)).as("n_events"))
    val tot = broadcast(cells.agg(sum($"n_events").as("n_total")))
    cells.crossJoin(tot)
      .select($"dow", $"hour", $"n_events",
        round($"n_events".cast("double") / $"n_total", 6).as("share"),
        round($"n_events".cast("double") * 168.0 / $"n_total", 6)
          .as("vs_uniform"))
      .orderBy($"dow", $"hour")
  }

  val stHourlyProfileSql: String =
    """WITH c AS (
      |  SELECT CAST((FLOOR(epoch_us(ts) / 86400000000) + 3) % 7 AS INT)
      |      AS dow,
      |    CAST(FLOOR(epoch_us(ts) / 3600000000) % 24 AS INT) AS hour,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT SUM(n_events) AS n_total FROM c)
      |SELECT dow, hour, n_events,
      |  ROUND(CAST(n_events AS DOUBLE) / n_total, 6) AS share,
      |  ROUND(CAST(n_events AS DOUBLE) * 168.0 / n_total, 6) AS vs_uniform
      |FROM c CROSS JOIN t ORDER BY dow, hour""".stripMargin

  // --------------------------------------------------------------------
  // st_dow_anomaly: deseasonalized hourly anomaly flags — each
  // absolute hour's event count is z-scored against ITS OWN
  // (day-of-week × hour-of-day) cell's mean/σ, and hours with
  // z > 1.5 are reported. The missing piece between st_arrival_rate
  // (pages on a burst vs the GLOBAL mean — so Tuesday-peak traffic
  // pages every week) and st_hourly_profile (knows what "normal for
  // Tuesday 14:00" is but flags nothing): this op pages only when an
  // hour is abnormal FOR ITS SEASON. Scale shape: one
  // partial-aggregable groupBy to the calendar-bounded absolute-hour
  // grain, a second groupBy to the fixed 168-cell grid, and a
  // broadcast join back — nothing corpus-sized shuffles twice.
  // Determinism: cell mean/σ derive from exact integer sums
  // (n·Σc² − (Σc)² form, integers exact in double far past this
  // scale); σ is one correctly-rounded sqrt; the z compare runs on
  // bit-identical doubles in both engines. dow from epoch-day + 3 —
  // locale conventions never enter (the stHourlyProfile contract).
  def stDowAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // materialized: the hour-grain table feeds the cell stats AND the
    // join-back (Spark never dedupes common subplans; the events scan
    // + hour groupBy would otherwise run twice)
    val hourly = Tables.events(spark, dir)
      .select(floor(unix_micros($"ts") / lit(3600000000L)).as("hr_idx"))
      .groupBy($"hr_idx").agg(count(lit(1)).as("n_events"))
      .select($"hr_idx",
        (((floor($"hr_idx" / 24L) + 3) % 7).cast("int")).as("dow"),
        ($"hr_idx" % 24).cast("int").as("hod"), $"n_events").localCheckpoint()
    val cells = hourly.groupBy($"dow", $"hod")
      .agg(count(lit(1)).as("n_hours"),
        sum($"n_events").as("sc"),
        sum($"n_events" * $"n_events").as("scc"))
      .select($"dow", $"hod", $"n_hours",
        ($"sc".cast("double") / $"n_hours".cast("double")).as("cell_mean"),
        sqrt(($"n_hours".cast("double") * $"scc".cast("double")
          - $"sc".cast("double") * $"sc".cast("double"))
          / ($"n_hours".cast("double") * $"n_hours".cast("double")))
          .as("cell_sd"))
    hourly.join(broadcast(cells), Seq("dow", "hod"))
      .filter($"cell_sd" > 0.0 &&
        ($"n_events".cast("double") - $"cell_mean") / $"cell_sd" > 1.5)
      .select(($"hr_idx" * 3600000000L).as("w_start_us"), $"dow", $"hod",
        $"n_events", round($"cell_mean", 6).as("cell_mean"),
        round(($"n_events".cast("double") - $"cell_mean") / $"cell_sd", 6)
          .as("zscore"))
      .orderBy($"w_start_us")
  }

  val stDowAnomalySql: String =
    """WITH h AS (
      |  SELECT FLOOR(epoch_us(ts) / 3600000000) AS hr_idx,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1),
      |hh AS (
      |  SELECT hr_idx,
      |    CAST((FLOOR(hr_idx / 24) + 3) % 7 AS INT) AS dow,
      |    CAST(hr_idx % 24 AS INT) AS hod, n_events
      |  FROM h),
      |cells AS (
      |  SELECT dow, hod, COUNT(*) AS n_hours, SUM(n_events) AS sc,
      |    SUM(n_events * n_events) AS scc
      |  FROM hh GROUP BY 1, 2),
      |cs AS (
      |  SELECT dow, hod,
      |    CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE) AS cell_mean,
      |    SQRT((CAST(n_hours AS DOUBLE) * CAST(scc AS DOUBLE)
      |      - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
      |      / (CAST(n_hours AS DOUBLE) * CAST(n_hours AS DOUBLE)))
      |      AS cell_sd
      |  FROM cells)
      |SELECT CAST(hh.hr_idx * 3600000000 AS BIGINT) AS w_start_us,
      |  hh.dow, hh.hod, hh.n_events,
      |  ROUND(cs.cell_mean, 6) AS cell_mean,
      |  ROUND((CAST(hh.n_events AS DOUBLE) - cs.cell_mean) / cs.cell_sd, 6)
      |    AS zscore
      |FROM hh JOIN cs ON hh.dow = cs.dow AND hh.hod = cs.hod
      |WHERE cs.cell_sd > 0.0
      |  AND (CAST(hh.n_events AS DOUBLE) - cs.cell_mean) / cs.cell_sd > 1.5
      |ORDER BY w_start_us""".stripMargin

  // --------------------------------------------------------------------
  // st_cusum_drift: CUSUM track of the stream's daily mean `value` —
  // the cumulative sum of (daily mean − global mean) per day, flagged
  // where |CUSUM| exceeds 2σ of the daily means. The slow-drift
  // detector st_dow_anomaly can't be: a z-score pages on one loud
  // hour, while a metric that creeps 1% per day never leaves any
  // single day's normal band — only the accumulated deviation shows
  // it (Page 1954's CUSUM, the classic complement to Shewhart-style
  // per-point limits). Scale shape: one partial-aggregable groupBy to
  // the calendar-bounded day grain (MATERIALIZED: the global-moment
  // aggregate and the track are two consumers), a 1-row broadcast of
  // the moments, and a bounded-domain cumulative window over days.
  // Determinism: daily means and the CUSUM route through
  // DECIMAL(28,12) (order-insensitive); σ from the n·Σm²−(Σm)² form;
  // the flag compares bit-identical doubles.
  def stCusumDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val daily = Tables.events(spark, dir)
      .select(floor(unix_micros($"ts") / lit(86400000000L)).as("d"),
        $"value")
      .groupBy($"d")
      .agg(count(lit(1)).as("n_events"),
        (Exact.sum($"value")
          / count(lit(1))).as("m")).localCheckpoint()
    val g = broadcast(daily.agg(
      count(lit(1)).as("nd"),
      Exact.sum($"m").as("sm"),
      Exact.sum($"m" * $"m").as("smm")))
    val w = Window.orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(g)
      .withColumn("gm", $"sm" / $"nd")
      .withColumn("sd", sqrt(($"nd".cast("double") * $"smm"
        - $"sm" * $"sm") / ($"nd".cast("double") * $"nd".cast("double"))))
      .withColumn("cusum",
        sum(($"m" - $"gm").cast(DecimalType(28, 12))).over(w)
          .cast("double"))
      .select(($"d" * 86400000000L).as("w_start_us"), $"n_events",
        round($"m", 6).as("daily_mean"), round($"cusum", 6).as("cusum"),
        when(abs($"cusum") > lit(2.0) * $"sd", 1L).otherwise(0L)
          .as("is_drift"))
      .orderBy($"w_start_us")
  }

  val stCusumDriftSql: String =
    """WITH daily AS MATERIALIZED (
      |  SELECT FLOOR(epoch_us(ts) / 86400000000) AS d,
      |    COUNT(*) AS n_events,
      |    CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
      |      AS m
      |  FROM events GROUP BY 1),
      |g AS (
      |  SELECT COUNT(*) AS nd,
      |    CAST(SUM(CAST(m AS DECIMAL(28,12))) AS DOUBLE) AS sm,
      |    CAST(SUM(CAST(m * m AS DECIMAL(28,12))) AS DOUBLE) AS smm
      |  FROM daily),
      |tr AS (
      |  SELECT d, n_events, m,
      |    sm / nd AS gm,
      |    SQRT((CAST(nd AS DOUBLE) * smm - sm * sm)
      |      / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE))) AS sd,
      |    CAST(SUM(CAST(m - sm / nd AS DECIMAL(28,12))) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |      AS cusum
      |  FROM daily CROSS JOIN g)
      |SELECT CAST(d * 86400000000 AS BIGINT) AS w_start_us, n_events,
      |  ROUND(m, 6) AS daily_mean, ROUND(cusum, 6) AS cusum,
      |  CAST(CASE WHEN ABS(cusum) > 2.0 * sd THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_drift
      |FROM tr ORDER BY w_start_us""".stripMargin

  // --------------------------------------------------------------------
  // st_value_percentiles: exact p50/p90/p99/max of the event `value`
  // per event_type — the latency/size SLO table every stream dashboard
  // leads with, computed EXACTLY via the q71 histogram-cumulative
  // construction rather than an approx-percentile sketch. The
  // histogram groups on the RAW double value (grouping doubles is
  // exact and identical cross-engine; no ROUND enters the contract —
  // the q79 cent-boundary lesson): the cumulative window runs over
  // the (type, value) histogram, whose cardinality is bounded by the
  // value domain (cent-priced values — ~6.6k distinct at sf0.01),
  // not the stream. Scale shape: one partial-aggregable groupBy +
  // per-type broadcast totals; windows partition by event_type.
  def stValuePercentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(spark, dir)
      .groupBy($"event_type", $"value").agg(count(lit(1)).as("c")).localCheckpoint()
    val tot = hist.groupBy($"event_type").agg(sum($"c").as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pct(p: Int) =
      min(when($"cum" * 100 >= $"n" * p, $"value")).as(s"p${p}_value")
    hist.withColumn("cum", sum($"c").over(w))
      .join(broadcast(tot), "event_type")
      .groupBy($"event_type")
      .agg(max($"n").as("n_events"), pct(50), pct(90), pct(99),
        max($"value").as("max_value"))
      .orderBy($"event_type")
  }

  val stValuePercentilesSql: String =
    """WITH hist AS MATERIALIZED (
      |  SELECT event_type, value, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, SUM(c) AS n FROM hist GROUP BY 1),
      |cc AS (
      |  SELECT h.event_type, h.value, t.n,
      |    SUM(h.c) OVER (PARTITION BY h.event_type ORDER BY h.value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM hist h JOIN t ON h.event_type = t.event_type)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
      |  MIN(CASE WHEN cum * 100 >= n * 50 THEN value END) AS p50_value,
      |  MIN(CASE WHEN cum * 100 >= n * 90 THEN value END) AS p90_value,
      |  MIN(CASE WHEN cum * 100 >= n * 99 THEN value END) AS p99_value,
      |  MAX(value) AS max_value
      |FROM cc GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // st_burst_episodes: burst detection over the event stream — per
  // event type, hours whose count exceeds mean + 2σ (population stats
  // over the type's PRESENT hours) are flagged, then adjacent flagged
  // hours merge into episodes via gaps-and-islands (hr − row_number is
  // constant within a consecutive run). The stream-monitoring primitive
  // behind rate-limit forensics and ingest-spike triage: the episode
  // grain (start, length, peak) is what a human acts on, not the raw
  // flagged hours. Scale shape: one event scan collapses to the
  // (type × hour) grid — calendar-bounded, the st_dow_anomaly
  // argument — and every window after that runs on flagged hours only
  // (≤ horizon hours per type). Determinism: counts are integers,
  // mean/σ are rational + IEEE-exact sqrt of integer-derived doubles.
  def stBurstEpisodes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hourly = Tables.events(spark, dir)
      .select($"event_type",
        floor(unix_micros($"ts") / lit(3600000000L)).as("hr"))
      .groupBy($"event_type", $"hr").agg(count(lit(1)).as("n_events"))
    // Per-type mean/σ as WHOLE-PARTITION window aggregates over the
    // hour grid rather than a separate stats groupBy broadcast-joined
    // back (the pre-r15 shape): that form needed the grid materialized
    // (Spark never dedupes common subplans) and cost a localCheckpoint
    // job + stats shuffle + broadcast build PER CALL — ~9 stages for a
    // calendar-bounded 3.6k-row grid, pure scheduling latency (the r14
    // verdict's tight-spread 2.4× flag). The window form reads the grid
    // once; the integer sums (nh, sc, scc) and the double algebra are
    // IDENTICAL terms in identical order, so flagged hours — and the
    // oracle hashes — are unchanged. The stats window and the islands
    // row_number below share the event_type hash partitioning, so
    // Catalyst plans one exchange for both.
    val wType = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
    val withStats = hourly
      .withColumn("nh", count(lit(1)).over(wType))
      .withColumn("sc", sum($"n_events").over(wType))
      .withColumn("scc", sum($"n_events" * $"n_events").over(wType))
      .withColumn("mean", $"sc".cast("double") / $"nh".cast("double"))
      .withColumn("sd",
        sqrt(($"nh".cast("double") * $"scc".cast("double")
          - $"sc".cast("double") * $"sc".cast("double"))
          / ($"nh".cast("double") * $"nh".cast("double"))))
    val flagged = withStats
      .filter($"sd" > 0.0 &&
        ($"n_events".cast("double") - $"mean") / $"sd" > 2.0)
      .select($"event_type", $"hr", $"n_events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"hr")
    flagged
      .withColumn("isl", $"hr" - row_number().over(w))
      .groupBy($"event_type", $"isl")
      .agg(min($"hr").as("start_hr"), count(lit(1)).as("len_hours"),
        max($"n_events").as("peak_events"), sum($"n_events").as("sum_events"))
      .select($"event_type", ($"start_hr" * 3600000000L).as("start_us"),
        $"len_hours", $"peak_events",
        $"sum_events".cast("long").as("sum_events"))
      .orderBy($"event_type", $"start_us")
  }

  val stBurstEpisodesSql: String =
    """WITH h AS (
      |  SELECT event_type, FLOOR(epoch_us(ts) / 3600000000) AS hr,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type,
      |    CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
      |    SQRT((CAST(COUNT(*) AS DOUBLE) * CAST(SUM(n_events * n_events) AS DOUBLE)
      |      - CAST(SUM(n_events) AS DOUBLE) * CAST(SUM(n_events) AS DOUBLE))
      |      / (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE))) AS sd
      |  FROM h GROUP BY 1),
      |f AS (
      |  SELECT h.event_type, h.hr, h.n_events
      |  FROM h JOIN s USING (event_type)
      |  WHERE s.sd > 0.0
      |    AND (CAST(h.n_events AS DOUBLE) - s.mean) / s.sd > 2.0),
      |i AS (
      |  SELECT event_type, hr, n_events,
      |    hr - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr) AS isl
      |  FROM f)
      |SELECT event_type,
      |  CAST(MIN(hr) * 3600000000 AS BIGINT) AS start_us,
      |  CAST(COUNT(*) AS BIGINT) AS len_hours,
      |  CAST(MAX(n_events) AS BIGINT) AS peak_events,
      |  CAST(SUM(n_events) AS BIGINT) AS sum_events
      |FROM i GROUP BY event_type, isl
      |ORDER BY event_type, start_us""".stripMargin

  // --------------------------------------------------------------------
  // st_concurrency: hourly concurrent-session load — how many sessions
  // (and distinct users) are OPEN in each hour, computed by unrolling
  // every session interval [start, end) onto the hours it overlaps.
  // The capacity-planning twin of st_hourly_profile: arrivals say how
  // much work enters; concurrency says how much state the system holds
  // (the number that sizes a stateful streaming operator's memory).
  // Session semantics are exactly st_session's (session_window, 30-min
  // gap, end = last event + gap). Scale shape: session_window already
  // collapses events to session grain in one user_id shuffle; the hour
  // unroll is bounded per session (sessions are gap-capped) and the
  // hour rollup is calendar-bounded. countDistinct(user) per hour is
  // the one non-partial aggregate — its key domain is hours, bounded.
  def stConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sessions = Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_micros($"w.start").as("s_us"), unix_micros($"w.end").as("e_us"))
    sessions
      .select($"user_id",
        explode(sequence(floor($"s_us" / 3600000000L),
          floor(($"e_us" - 1L) / 3600000000L))).as("hr"))
      .groupBy($"hr")
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct($"user_id").as("n_users"))
      .select(($"hr" * 3600000000L).as("hr_start_us"),
        $"n_sessions", $"n_users")
      .orderBy($"hr_start_us")
  }

  val stConcurrencySql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM o),
      |iv AS (
      |  SELECT user_id,
      |    epoch_us(MIN(ts)) AS s_us,
      |    epoch_us(MAX(ts)) + 1800000000 AS e_us
      |  FROM s GROUP BY user_id, session_id),
      |hrs AS (
      |  SELECT user_id,
      |    unnest(generate_series(s_us // 3600000000,
      |      (e_us - 1) // 3600000000)) AS hr
      |  FROM iv)
      |SELECT CAST(hr * 3600000000 AS BIGINT) AS hr_start_us,
      |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM hrs GROUP BY hr ORDER BY hr_start_us""".stripMargin

  // --------------------------------------------------------------------
  // st_session_type_lift: within-session co-occurrence lift of event
  // type pairs — lift(a,b) = N·n_ab / (n_a·n_b) at SESSION grain
  // (session_window semantics, 30-min gap): which behaviors travel
  // together inside one visit, beyond what their individual session
  // penetration predicts. The product-analytics association rule one
  // level above q44's raw transition counts (transitions see order,
  // lift sees the basket). Kept as the RATIO rather than its log (PMI)
  // — the rational form is bit-identical across engines where libm
  // log2 is not (the collocations precedent). Scale shape: one
  // session_window shuffle collapses to distinct (session, type) —
  // ≤ types-per-session rows each — and the pair self-join explodes at
  // most C(5,2) rows per session; totals are type-grain broadcasts.
  def stSessionTypeLift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // session boundaries must be PER USER (keying session_window by
    // event_type too would give each type its own session grid);
    // the type set rides the session row and explodes after
    val st = Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(collect_set($"event_type").as("types"))
      .select($"user_id", unix_micros($"w.start").as("s_us"),
        explode($"types").as("event_type")).localCheckpoint()
    val nSessions = st.select($"user_id", $"s_us").distinct().count()
    val perType = st.groupBy($"event_type")
      .agg(count(lit(1)).as("n_sess"))
    val pairs = st.as("a").join(st.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.s_us" === $"b.s_us"
          && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select($"event_type".as("type_a"),
        $"n_sess".as("n_a"))), "type_a")
      .join(broadcast(perType.select($"event_type".as("type_b"),
        $"n_sess".as("n_b"))), "type_b")
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
        round(lit(nSessions).cast("double") * $"n_both".cast("double")
          / ($"n_a".cast("double") * $"n_b".cast("double")), 6).as("lift"))
      .orderBy($"type_a", $"type_b")
  }

  val stSessionTypeLiftSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
      |      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT *, SUM(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM o),
      |st AS (
      |  SELECT DISTINCT user_id, session_id, event_type FROM s),
      |tot AS (
      |  SELECT COUNT(*) AS n_sessions FROM
      |    (SELECT DISTINCT user_id, session_id FROM st)),
      |pt AS (SELECT event_type, COUNT(*) AS n_sess FROM st GROUP BY 1),
      |pr AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    COUNT(*) AS n_both
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.session_id = b.session_id
      |    AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT pr.type_a, pr.type_b,
      |  CAST(pa.n_sess AS BIGINT) AS n_a, CAST(pb.n_sess AS BIGINT) AS n_b,
      |  CAST(pr.n_both AS BIGINT) AS n_both,
      |  ROUND(CAST(tot.n_sessions AS DOUBLE) * CAST(pr.n_both AS DOUBLE)
      |    / (CAST(pa.n_sess AS DOUBLE) * CAST(pb.n_sess AS DOUBLE)), 6)
      |    AS lift
      |FROM pr
      |JOIN pt pa ON pr.type_a = pa.event_type
      |JOIN pt pb ON pr.type_b = pb.event_type
      |CROSS JOIN tot
      |ORDER BY type_a, type_b""".stripMargin

  // --------------------------------------------------------------------
  // st_dispersion: Poisson dispersion test of each event type's arrival
  // process — the index of dispersion D = Var/Mean of per-minute counts
  // over the FULL shared horizon (absent minutes count as zero: they
  // contribute nothing to Σc² but everything to honesty — computing
  // over present minutes only would bias D down exactly when traffic is
  // bursty). D ≈ 1 is Poisson; D ≫ 1 is clumped arrivals (batched
  // producers, retry storms); D ≪ 1 is smoothed/rate-limited. The
  // process-level verdict behind st_burst_episodes' individual spikes.
  // Scale shape: one event scan → (type × present-minute) histogram
  // (calendar-bounded); Σc and Σc² per type are partial-aggregable,
  // and the zero-minute correction is closed-form from the global
  // horizon. All-integer sums; the two divisions share one form.
  def stDispersion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mins = Tables.events(spark, dir)
      .select($"event_type",
        floor(unix_micros($"ts") / lit(60000000L)).as("minute"))
      .groupBy($"event_type", $"minute").agg(count(lit(1)).as("c")).localCheckpoint()
    val horizon = mins.agg(min($"minute").as("lo"), max($"minute").as("hi"))
    mins.groupBy($"event_type")
      .agg(sum($"c").as("n_events"), count(lit(1)).as("n_active_minutes"),
        sum($"c" * $"c").as("scc"))
      .crossJoin(broadcast(horizon))
      // verdict thresholds compare the RAW double (the oracle does the
      // same) — gating on the rounded value would flip at boundaries
      .select($"event_type", $"n_events", $"n_active_minutes",
        ($"hi" - $"lo" + 1L).as("n_minutes"),
        (($"scc".cast("double") / ($"hi" - $"lo" + 1L).cast("double")
          - ($"n_events".cast("double")
              / ($"hi" - $"lo" + 1L).cast("double"))
            * ($"n_events".cast("double")
              / ($"hi" - $"lo" + 1L).cast("double")))
          / ($"n_events".cast("double")
            / ($"hi" - $"lo" + 1L).cast("double"))).as("disp_raw"))
      .select($"event_type", $"n_events", $"n_active_minutes", $"n_minutes",
        round($"disp_raw", 6).as("dispersion"),
        when($"disp_raw" > 1.5, "overdispersed")
          .when($"disp_raw" < 0.67, "underdispersed")
          .otherwise("poisson-like").as("verdict"))
      .orderBy($"event_type")
  }

  val stDispersionSql: String =
    """WITH m AS (
      |  SELECT event_type, FLOOR(epoch_us(ts) / 60000000) AS minute,
      |    COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |h AS (SELECT MIN(minute) AS lo, MAX(minute) AS hi FROM m),
      |t AS (
      |  SELECT event_type, SUM(c) AS n_events,
      |    COUNT(*) AS n_active_minutes, SUM(c * c) AS scc
      |  FROM m GROUP BY 1)
      |SELECT t.event_type, CAST(t.n_events AS BIGINT) AS n_events,
      |  CAST(t.n_active_minutes AS BIGINT) AS n_active_minutes,
      |  CAST(h.hi - h.lo + 1 AS BIGINT) AS n_minutes,
      |  ROUND(
      |    (CAST(t.scc AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)
      |      - (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE))
      |        * (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)))
      |    / (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)),
      |    6) AS dispersion,
      |  CASE WHEN (CAST(t.scc AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)
      |      - (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE))
      |        * (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)))
      |    / (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE))
      |      > 1.5 THEN 'overdispersed'
      |    WHEN (CAST(t.scc AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)
      |      - (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE))
      |        * (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE)))
      |    / (CAST(t.n_events AS DOUBLE) / CAST(h.hi - h.lo + 1 AS DOUBLE))
      |      < 0.67 THEN 'underdispersed'
      |    ELSE 'poisson-like' END AS verdict
      |FROM t CROSS JOIN h
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // st_whale_mass: value concentration per event type — the exact p99
  // value threshold and the share of total value carried by events
  // STRICTLY above it. The revenue-ops "whale audit": a type whose top
  // 1% of events carries most of its value needs different alerting
  // (and different skew handling: those keys are the ones to salt)
  // than one with uniform value. Exact, not approx-percentile: the p99
  // is the histogram-cumulative order statistic over the (type ×
  // distinct-value) table (the st_value_percentiles device — the value
  // domain, not the event count, bounds the window). Value sums are
  // DECIMAL(18,6)-routed; shares are double quotients of exact sums.
  def stWhaleMass(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.events(spark, dir)
      .groupBy($"event_type", $"value")
      .agg(count(lit(1)).as("c"),
        sum($"value".cast("decimal(18,6)")).as("sv")).localCheckpoint()
    val tot = hist.groupBy($"event_type")
      .agg(sum($"c").as("n_events"), sum($"sv").as("total_value"))
    val w = Window.partitionBy($"event_type").orderBy($"value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p99 = hist
      .withColumn("cum", sum($"c").over(w))
      .join(tot.select($"event_type", $"n_events"), "event_type")
      .filter($"cum" * 100L >= $"n_events" * 99L)
      .groupBy($"event_type").agg(min($"value").as("v99"))
    val whale = hist.join(broadcast(p99), "event_type")
      .filter($"value" > $"v99")
      .groupBy($"event_type")
      .agg(sum($"c").as("n_whales"), sum($"sv").as("whale_value"))
    tot.join(broadcast(p99), "event_type")
      .join(whale, Seq("event_type"), "left")
      .select($"event_type", $"n_events",
        round($"v99".cast("double"), 6).as("p99_value"),
        coalesce($"n_whales", lit(0L)).as("n_whales"),
        round(coalesce($"whale_value".cast("double"), lit(0.0))
          / $"total_value".cast("double"), 6)
          .as("whale_value_share"))
      .orderBy($"event_type")
  }

  val stWhaleMassSql: String =
    """WITH h AS (
      |  SELECT event_type, value, COUNT(*) AS c,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS sv
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, SUM(c) AS n_events, SUM(sv) AS total_value
      |  FROM h GROUP BY 1),
      |cum AS (
      |  SELECT h.event_type, h.value,
      |    SUM(h.c) OVER (PARTITION BY h.event_type ORDER BY h.value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    tot.n_events
      |  FROM h JOIN tot USING (event_type)),
      |p99 AS (
      |  SELECT event_type, MIN(value) AS v99
      |  FROM cum WHERE cum * 100 >= n_events * 99
      |  GROUP BY event_type),
      |wh AS (
      |  SELECT h.event_type, SUM(h.c) AS n_whales,
      |    SUM(h.sv) AS whale_value
      |  FROM h JOIN p99 USING (event_type)
      |  WHERE h.value > p99.v99
      |  GROUP BY h.event_type)
      |SELECT tot.event_type, CAST(tot.n_events AS BIGINT) AS n_events,
      |  ROUND(CAST(p99.v99 AS DOUBLE), 6) AS p99_value,
      |  CAST(COALESCE(wh.n_whales, 0) AS BIGINT) AS n_whales,
      |  ROUND(CAST(COALESCE(wh.whale_value, 0) AS DOUBLE)
      |    / CAST(tot.total_value AS DOUBLE), 6) AS whale_value_share
      |FROM tot
      |JOIN p99 USING (event_type)
      |LEFT JOIN wh ON tot.event_type = wh.event_type
      |ORDER BY tot.event_type""".stripMargin

  // --------------------------------------------------------------------
  // st_value_drift: per-type distributional drift of `value` between
  // the first and second half of the horizon — PSI over 10 equal-width
  // bins spanning the type's full value range, shares floored at the
  // literal 1e-4, stable/moderate/shifted verdicts at 0.1/0.25. The
  // DISTRIBUTIONAL companion to st_cusum_drift: CUSUM tracks the mean
  // (and misses a variance blowup or a bimodal split that keeps the
  // mean flat); PSI sees any shape change. The monitor a value-keyed
  // alerting threshold is re-qualified against after a release.
  // Scale shape: one bounds pass (1-row horizon midpoint + per-type
  // value ranges, both broadcast) then ONE event scan collapses to the
  // (type × half × bin) histogram — partial-aggregable, ≤ types×20
  // rows; the dense grid and PSI are arithmetic on that bounded table.
  // Determinism: the midpoint and bin edges are integer/double
  // arithmetic on identical operands; bin = least(floor(·),9) lands
  // identically on bit-identical doubles; a type with an empty half
  // reports psi = 0 / 'insufficient', never NaN.
  def stValueDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .filter($"value".isNotNull)
      .select($"event_type", unix_micros($"ts").as("t_us"), $"value")
    // per-type value ranges AND the global horizon in ONE bounds pass
    // (the midpoint rolls up from the type-grain table, not a second
    // fact scan); integer div: long/long `/` is double in Spark, and
    // DuckDB's double->bigint cast ROUNDS where Spark truncates —
    // `div` is the only form that lands identically
    val vb = ev.groupBy($"event_type")
      .agg(min($"value").as("vmn"), max($"value").as("vmx"),
        min($"t_us").as("tmn"), max($"t_us").as("tmx"))
    val bounds = vb.agg(min($"tmn").as("mn"), max($"tmx").as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
      .filter($"mid".isNotNull)
    // (type × half × bin) histogram — bounded, three consumers below,
    // materialized so the fact scan runs once through it
    val binned = ev
      .join(broadcast(vb.select($"event_type", $"vmn", $"vmx")),
        "event_type")
      .crossJoin(broadcast(bounds))
      .select($"event_type",
        when($"t_us" <= $"mid", 0).otherwise(1).as("half"),
        when($"vmx" === $"vmn", 0)
          .otherwise(least(floor(($"value" - $"vmn")
            / (($"vmx" - $"vmn") / 10.0)), lit(9L)))
          .cast("int").as("bin"))
      .groupBy($"event_type", $"half", $"bin")
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val halves = binned.groupBy($"event_type")
      .agg(sum(when($"half" === 0, $"c").otherwise(0L)).as("n0"),
        sum(when($"half" === 1, $"c").otherwise(0L)).as("n1"))
    val bins = spark.range(0, 10).select($"id".cast("int").as("bin"))
    val grid = halves.crossJoin(broadcast(bins))
      .join(binned.filter($"half" === 0)
        .select($"event_type", $"bin", $"c".as("c0")),
        Seq("event_type", "bin"), "left")
      .join(binned.filter($"half" === 1)
        .select($"event_type", $"bin", $"c".as("c1")),
        Seq("event_type", "bin"), "left")
      .select($"event_type", $"n0", $"n1",
        greatest(coalesce($"c0", lit(0L)).cast("double") / $"n0", lit(1e-4))
          .as("p0"),
        greatest(coalesce($"c1", lit(0L)).cast("double") / $"n1", lit(1e-4))
          .as("p1"))
    grid
      .select($"event_type", $"n0", $"n1",
        when($"n0" === 0 || $"n1" === 0, lit(0.0).cast(DecimalType(28, 12)))
          .otherwise((($"p1" - $"p0") * log($"p1" / $"p0"))
            .cast(DecimalType(28, 12))).as("t"))
      .groupBy($"event_type")
      .agg(max($"n0").as("n_first"), max($"n1").as("n_second"),
        sum($"t").cast("double").as("psi_raw"))
      .select($"event_type", $"n_first", $"n_second",
        round($"psi_raw", 6).as("psi"),
        when($"n_first" === 0 || $"n_second" === 0, lit("insufficient"))
          .when($"psi_raw" < 0.1, lit("stable"))
          .when($"psi_raw" < 0.25, lit("moderate"))
          .otherwise(lit("shifted")).as("verdict"))
      .orderBy($"event_type")
  }

  val stValueDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS t_us, value
      |  FROM events WHERE value IS NOT NULL),
      |vb AS (SELECT event_type, MIN(value) AS vmn, MAX(value) AS vmx,
      |    MIN(t_us) AS tmn, MAX(t_us) AS tmx
      |  FROM ev GROUP BY 1),
      |bounds AS (
      |  SELECT (MIN(tmn) + MAX(tmx)) // 2 AS mid
      |  FROM vb HAVING MIN(tmn) IS NOT NULL),
      |binned AS (
      |  SELECT e.event_type,
      |    CASE WHEN e.t_us <= b.mid THEN 0 ELSE 1 END AS half,
      |    CAST(CASE WHEN v.vmx = v.vmn THEN 0
      |      ELSE LEAST(FLOOR((e.value - v.vmn)
      |        / ((v.vmx - v.vmn) / 10.0)), 9) END AS INT) AS bin,
      |    COUNT(*) AS c
      |  FROM ev e JOIN vb v ON e.event_type = v.event_type
      |  CROSS JOIN bounds b
      |  GROUP BY 1, 2, 3),
      |halves AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN half = 0 THEN c ELSE 0 END) AS n0,
      |    SUM(CASE WHEN half = 1 THEN c ELSE 0 END) AS n1
      |  FROM binned GROUP BY 1),
      |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
      |grid AS (
      |  SELECT h.event_type, h.n0, h.n1,
      |    GREATEST(CAST(COALESCE(b0.c, 0) AS DOUBLE) / h.n0,
      |      CAST(0.0001 AS DOUBLE)) AS p0,
      |    GREATEST(CAST(COALESCE(b1.c, 0) AS DOUBLE) / h.n1,
      |      CAST(0.0001 AS DOUBLE)) AS p1
      |  FROM halves h CROSS JOIN bins bn
      |  LEFT JOIN binned b0 ON b0.event_type = h.event_type
      |    AND b0.bin = bn.bin AND b0.half = 0
      |  LEFT JOIN binned b1 ON b1.event_type = h.event_type
      |    AND b1.bin = bn.bin AND b1.half = 1),
      |a AS (
      |  SELECT event_type, MAX(n0) AS n_first, MAX(n1) AS n_second,
      |    CAST(SUM(CASE WHEN n0 = 0 OR n1 = 0
      |      THEN CAST(0 AS DECIMAL(28,12))
      |      ELSE CAST((p1 - p0) * LN(p1 / p0) AS DECIMAL(28,12)) END)
      |      AS DOUBLE) AS psi_raw
      |  FROM grid GROUP BY 1)
      |SELECT event_type, CAST(n_first AS BIGINT) AS n_first,
      |  CAST(n_second AS BIGINT) AS n_second,
      |  ROUND(psi_raw, 6) AS psi,
      |  CASE WHEN n_first = 0 OR n_second = 0 THEN 'insufficient'
      |    WHEN psi_raw < 0.1 THEN 'stable'
      |    WHEN psi_raw < 0.25 THEN 'moderate'
      |    ELSE 'shifted' END AS verdict
      |FROM a ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // st_new_vs_returning: per-day acquisition split — events, distinct
  // users, first-seen (new) users, returning users, and the new-user
  // share. The growth-accounting staple next to q42's DAU/WAU
  // stickiness: stickiness says how often actives return, this says
  // what fraction of each day's actives the product had to ACQUIRE —
  // a flat DAU with a rising new share is a leaky bucket, invisible
  // to q42.
  // Scale shape: one user-grain shuffle (min day per user — partial-
  // aggregable), one day-grain shuffle (events + distinct users), a
  // calendar-bounded rollup join. Determinism: all-integer counts;
  // one integer-ratio double; day is an engine-portable DATE.
  def stNewVsReturning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"))
    val daily = ev.groupBy($"day")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"))
    val news = ev.groupBy($"user_id").agg(min($"day").as("day"))
      .groupBy($"day").agg(count(lit(1)).as("n_new"))
    daily.join(news, Seq("day"), "left")
      .select($"day", $"n_events", $"n_users",
        coalesce($"n_new", lit(0L)).as("n_new_users"),
        ($"n_users" - coalesce($"n_new", lit(0L))).as("n_returning"),
        round(coalesce($"n_new", lit(0L)).cast("double") / $"n_users", 6)
          .as("new_share"))
      .orderBy($"day")
  }

  val stNewVsReturningSql: String =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
      |daily AS (
      |  SELECT day, COUNT(*) AS n_events,
      |    COUNT(DISTINCT user_id) AS n_users
      |  FROM ev GROUP BY 1),
      |fd AS (SELECT user_id, MIN(day) AS day FROM ev GROUP BY 1),
      |news AS (SELECT day, COUNT(*) AS n_new FROM fd GROUP BY 1)
      |SELECT d.day, CAST(d.n_events AS BIGINT) AS n_events,
      |  CAST(d.n_users AS BIGINT) AS n_users,
      |  CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_users,
      |  CAST(d.n_users - COALESCE(n.n_new, 0) AS BIGINT) AS n_returning,
      |  ROUND(CAST(COALESCE(n.n_new, 0) AS DOUBLE) / d.n_users, 6)
      |    AS new_share
      |FROM daily d LEFT JOIN news n ON d.day = n.day
      |ORDER BY d.day""".stripMargin

  // --------------------------------------------------------------------
  // st_retention_matrix: weekly cohort retention — users grouped by
  // first-seen week (the cohort), and for each (cohort, week-offset)
  // cell the distinct users active that week plus the retention share
  // against the cohort's size. THE product-analytics retention
  // triangle, and the complement of this file's other user-lifecycle
  // ops: st_new_vs_returning counts acquisition per day,
  // st_user_lifespan measures spans, this says how each acquisition
  // VINTAGE decays week over week — mixed-cohort DAU hides a
  // collapsing new-cohort curve until the triangle splits it out.
  // Scale shape: one user-grain shuffle (first-seen week — partial
  // aggregable min), one (user, week) distinct at user grain, then a
  // (cohort, offset) rollup over the calendar-bounded matrix
  // (horizon-weeks² cells at ANY corpus size) joined against the
  // broadcast cohort-size row. Determinism: integer counts, one
  // integer-ratio double per cell; weeks are Monday-truncated DATEs
  // in both engines so the cohort keys are engine-portable.
  def stRetentionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"user_id",
        date_trunc("week", to_date($"ts")).cast("date").as("week"))
      .distinct()
    val cohorts = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val cells = ev.join(cohorts, "user_id")
      .groupBy($"cohort_week",
        (datediff($"week", $"cohort_week") / 7).cast("int").as("offset_w"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter($"offset_w" === 0)
      .select($"cohort_week", $"n_active".as("n_cohort"))
    cells.join(broadcast(sizes), "cohort_week")
      .select($"cohort_week", $"offset_w", $"n_active", $"n_cohort",
        round($"n_active".cast("double") / $"n_cohort", 6)
          .as("retention"))
      .orderBy($"cohort_week", $"offset_w")
  }

  val stRetentionMatrixSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week
      |  FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1),
      |m AS (
      |  SELECT cohort_week,
      |    CAST(date_diff('day', cohort_week, week) / 7 AS INT) AS offset_w,
      |    COUNT(*) AS n_active
      |  FROM ev JOIN c USING (user_id)
      |  GROUP BY 1, 2),
      |s AS (SELECT cohort_week, n_active AS n_cohort FROM m
      |  WHERE offset_w = 0)
      |SELECT m.cohort_week, m.offset_w,
      |  CAST(m.n_active AS BIGINT) AS n_active,
      |  CAST(s.n_cohort AS BIGINT) AS n_cohort,
      |  ROUND(CAST(m.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
      |FROM m JOIN s USING (cohort_week)
      |ORDER BY m.cohort_week, m.offset_w""".stripMargin

  // --------------------------------------------------------------------
  // st_type_mix_drift: categorical drift of the EVENT-TYPE MIX between
  // horizon halves — per type the first/second-half shares and the PSI
  // term, plus the total mix PSI and verdict repeated per row. The
  // categorical twin of st_value_drift: that op asks "did each type's
  // VALUE distribution move", this asks "did the traffic composition
  // move" — a new client version that swaps clicks for views shifts
  // the mix long before any per-type value changes.
  // Scale shape: ONE fact scan collapses to the (type × half) count
  // table (partial-aggregable, bounded by types); midpoint from the
  // same type-grain rollup trick as st_value_drift; PSI arithmetic on
  // the bounded table. Determinism: `div` midpoint; shares are
  // integer-ratio doubles floored at the literal 1e-4; DECIMAL-routed
  // terms; verdict gates RAW psi at 0.1/0.25.
  def stTypeMixDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_type", unix_micros($"ts").as("t_us"))
    val tb = ev.groupBy($"event_type")
      .agg(min($"t_us").as("tmn"), max($"t_us").as("tmx"))
    val bounds = tb.agg(min($"tmn").as("mn"), max($"tmx").as("mx"))
      .select(expr("(mn + mx) div 2").as("mid"))
      .filter($"mid".isNotNull)
    val counts = ev.crossJoin(broadcast(bounds))
      .groupBy($"event_type")
      .agg(sum(when($"t_us" <= $"mid", 1L).otherwise(0L)).as("c0"),
        sum(when($"t_us" > $"mid", 1L).otherwise(0L)).as("c1")).localCheckpoint()
    val tot = counts.agg(sum($"c0").as("n0"), sum($"c1").as("n1"))
      .filter($"n0" > 0 && $"n1" > 0)
    val terms = counts.crossJoin(broadcast(tot))
      .select($"event_type", $"c0", $"c1",
        greatest($"c0".cast("double") / $"n0", lit(1e-4)).as("p0"),
        greatest($"c1".cast("double") / $"n1", lit(1e-4)).as("p1"))
      .select($"event_type", $"c0", $"c1", $"p0", $"p1",
        (($"p1" - $"p0") * log($"p1" / $"p0"))
          .cast(DecimalType(28, 12)).as("t"))
    val psi = terms
      .agg(sum($"t").cast("double").as("psi_raw"))
    terms.crossJoin(broadcast(psi))
      .select($"event_type", $"c0".as("n_first"), $"c1".as("n_second"),
        round($"p0", 6).as("share_first"),
        round($"p1", 6).as("share_second"),
        round($"t".cast("double"), 6).as("psi_term"),
        round($"psi_raw", 6).as("psi_total"),
        when($"psi_raw" < 0.1, lit("stable"))
          .when($"psi_raw" < 0.25, lit("moderate"))
          .otherwise(lit("shifted")).as("verdict"))
      .orderBy($"event_type")
  }

  val stTypeMixDriftSql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) AS t_us FROM events),
      |tb AS (SELECT event_type, MIN(t_us) AS tmn, MAX(t_us) AS tmx
      |  FROM ev GROUP BY 1),
      |bounds AS (
      |  SELECT (MIN(tmn) + MAX(tmx)) // 2 AS mid
      |  FROM tb HAVING MIN(tmn) IS NOT NULL),
      |counts AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN t_us <= mid THEN 1 ELSE 0 END) AS c0,
      |    SUM(CASE WHEN t_us > mid THEN 1 ELSE 0 END) AS c1
      |  FROM ev CROSS JOIN bounds GROUP BY 1),
      |tot AS (
      |  SELECT SUM(c0) AS n0, SUM(c1) AS n1 FROM counts
      |  HAVING SUM(c0) > 0 AND SUM(c1) > 0),
      |terms AS (
      |  SELECT event_type, c0, c1,
      |    GREATEST(CAST(c0 AS DOUBLE) / n0, CAST(0.0001 AS DOUBLE)) AS p0,
      |    GREATEST(CAST(c1 AS DOUBLE) / n1, CAST(0.0001 AS DOUBLE)) AS p1
      |  FROM counts CROSS JOIN tot),
      |t2 AS (
      |  SELECT event_type, c0, c1, p0, p1,
      |    CAST((p1 - p0) * LN(p1 / p0) AS DECIMAL(28,12)) AS t
      |  FROM terms),
      |psi AS (SELECT CAST(SUM(t) AS DOUBLE) AS psi_raw FROM t2)
      |SELECT event_type, CAST(c0 AS BIGINT) AS n_first,
      |  CAST(c1 AS BIGINT) AS n_second,
      |  ROUND(p0, 6) AS share_first,
      |  ROUND(p1, 6) AS share_second,
      |  ROUND(CAST(t AS DOUBLE), 6) AS psi_term,
      |  ROUND(psi_raw, 6) AS psi_total,
      |  CASE WHEN psi_raw < 0.1 THEN 'stable'
      |    WHEN psi_raw < 0.25 THEN 'moderate'
      |    ELSE 'shifted' END AS verdict
      |FROM t2 CROSS JOIN psi
      |ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // st_interarrival: distribution of PER-USER inter-arrival gaps — a
  // log₂-bucketed histogram of the time between a user's consecutive
  // events, with the global mean gap. The session-timeout calibrator:
  // st_session picks a 30-minute gap by convention; this table shows
  // where the actual gap mass sits (a bimodal histogram = within-burst
  // vs between-visit, and the valley is the right timeout). Also the
  // bot detector's favorite marginal: metronomic clients pile into one
  // bucket.
  // Scale shape: ONE shuffle partitioned by user (the lag window);
  // the histogram is a partial-aggregable groupBy on ≤~40 bucket keys;
  // totals ride a 1-row broadcast. Determinism: gaps are exact integer
  // microseconds (ties broken by event_id in the window order, both
  // engines); the mean routes through DECIMAL.
  def stInterarrival(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us", $"event_id")
    val gaps = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
      .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(w))
      .filter($"gap_us".isNotNull)
    val hist = gaps
      .groupBy(when($"gap_us" < 1000000L, lit(-1L))
        .otherwise(length(bin($"gap_us" / lit(1000000L))) - 1)
        .as("gap_bucket"))
      .agg(count(lit(1)).as("n_gaps"),
        sum($"gap_us".cast(DecimalType(28, 0))).as("gap_sum_us")).localCheckpoint()
    val tot = hist.agg(sum($"n_gaps").as("nt"),
      sum($"gap_sum_us").cast("double").as("gs")).filter($"nt" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"gap_bucket", $"n_gaps",
        round($"n_gaps".cast("double") / $"nt", 6).as("share"),
        round($"gs" / $"nt" / 1e6, 6).as("mean_gap_s"))
      .orderBy($"gap_bucket")
  }

  val stInterarrivalSql: String =
    """WITH g AS (
      |  SELECT epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |    AS gap_us
      |  FROM events),
      |gg AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL),
      |hist AS (
      |  SELECT CASE WHEN gap_us < 1000000 THEN -1
      |      ELSE LENGTH(BIN(gap_us // 1000000)) - 1 END AS gap_bucket,
      |    COUNT(*) AS n_gaps,
      |    SUM(CAST(gap_us AS DECIMAL(28,0))) AS gap_sum_us
      |  FROM gg GROUP BY 1),
      |tot AS (SELECT SUM(n_gaps) AS nt,
      |    CAST(SUM(gap_sum_us) AS DOUBLE) AS gs
      |  FROM hist HAVING SUM(n_gaps) > 0)
      |SELECT CAST(h.gap_bucket AS BIGINT) AS gap_bucket,
      |  CAST(h.n_gaps AS BIGINT) AS n_gaps,
      |  ROUND(CAST(h.n_gaps AS DOUBLE) / t.nt, 6) AS share,
      |  ROUND(t.gs / t.nt / 1e6, 6) AS mean_gap_s
      |FROM hist h CROSS JOIN tot t ORDER BY h.gap_bucket""".stripMargin

  // --------------------------------------------------------------------
  // st_user_lifespan: per-user first→last-seen span distribution —
  // day-grain buckets (0 = seen one day only) with user counts, event
  // mass per bucket, and the mean span. The engagement-depth
  // complement to st_new_vs_returning: acquisition tells you users
  // arrived; lifespan tells you whether they stayed (a release that
  // spikes signups but shifts lifespan mass to bucket 0 bought churn,
  // not growth). Day grain, not log₂: the bucket count is bounded by
  // the HORIZON (days between the earliest and latest event), never by
  // user count — ≤31 rows on this fixture at any SF.
  // Scale shape: ONE user-grain partial-aggregable groupBy (min/max/
  // count — no window); the bucket rollup is O(horizon days); totals
  // ride a 1-row broadcast. Determinism: spans are exact integer day
  // counts off integer microsecond bounds; mean routes through
  // DECIMAL.
  def stUserLifespan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val spans = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"))
      .groupBy($"user_id")
      .agg(((max($"ts_us") - min($"ts_us")) / lit(86400000000L))
          .cast("long").as("span_days"),
        count(lit(1)).as("n_events"))
    val hist = spans
      .groupBy($"span_days".as("span_bucket"))
      .agg(count(lit(1)).as("n_users"),
        sum($"n_events").as("n_events"),
        sum($"span_days".cast(DecimalType(28, 0))).as("span_sum")).localCheckpoint()
    val tot = hist.agg(sum($"n_users").as("nu"),
      sum($"span_sum").cast("double").as("ss")).filter($"nu" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"span_bucket", $"n_users", $"n_events",
        round($"n_users".cast("double") / $"nu", 6).as("share"),
        round($"ss" / $"nu", 6).as("mean_span_days"))
      .orderBy($"span_bucket")
  }

  val stUserLifespanSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000
      |      AS span_days,
      |    COUNT(*) AS n_events
      |  FROM events GROUP BY 1),
      |hist AS (
      |  SELECT span_days AS span_bucket,
      |    COUNT(*) AS n_users,
      |    CAST(SUM(n_events) AS BIGINT) AS n_events,
      |    SUM(CAST(span_days AS DECIMAL(28,0))) AS span_sum
      |  FROM s GROUP BY 1),
      |tot AS (SELECT SUM(n_users) AS nu,
      |    CAST(SUM(span_sum) AS DOUBLE) AS ss
      |  FROM hist HAVING SUM(n_users) > 0)
      |SELECT CAST(h.span_bucket AS BIGINT) AS span_bucket,
      |  CAST(h.n_users AS BIGINT) AS n_users, h.n_events,
      |  ROUND(CAST(h.n_users AS DOUBLE) / t.nu, 6) AS share,
      |  ROUND(t.ss / t.nu, 6) AS mean_span_days
      |FROM hist h CROSS JOIN tot t ORDER BY h.span_bucket""".stripMargin

  // --------------------------------------------------------------------
  // st_gap_sensitivity: how sessionization responds to the timeout
  // choice — for gap thresholds {5, 15, 30, 60} minutes, the session
  // count, mean sessions per user, and mean session length the
  // threshold induces. st_session commits to 30 minutes by convention;
  // this is the sensitivity table that justifies (or indicts) it: a
  // plateau between 15 and 60 means the choice is safe, a cliff means
  // session-grain metrics are artifacts of the timeout. Reads next to
  // st_interarrival (the gap histogram SHOWS the valley; this prices
  // each candidate cut).
  // Scale shape: ONE user-partitioned lag window computes every gap
  // once; each threshold is then a 1-row aggregate over the SAME gap
  // table (sessions = users + gaps-over-threshold — the boundary-count
  // identity, no per-threshold re-sessionization); the 4-threshold
  // grid is a literal crossJoin. Determinism: exact integer µs gaps,
  // integer session counts, integer-ratio doubles.
  def stGapSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val gaps = Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id")
      .withColumn("gap_us", $"ts_us" - lag($"ts_us", 1).over(w))
      .select($"gap_us").localCheckpoint()
    val users = Tables.events(spark, dir)
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
    // ONE pass over the gap table: all four thresholds are conditional
    // sums in the same aggregate (not a ×4 grid join), unpivoted after
    def bnd(m: Long) =
      sum(when($"gap_us" > m * 60000000L, 1L).otherwise(0L)).as(s"b$m")
    val sums = gaps.agg(bnd(5L), bnd(15L), bnd(30L), bnd(60L))
    sums
      .select(expr(
        """stack(4, 5L, b5, 15L, b15, 30L, b30, 60L, b60)
          |  AS (gap_minutes, n_boundaries)""".stripMargin))
      .crossJoin(broadcast(users))
      .select($"gap_minutes",
        ($"n_users" + $"n_boundaries").as("n_sessions"),
        round(($"n_users" + $"n_boundaries").cast("double") / $"n_users", 6)
          .as("sessions_per_user"),
        round($"n_events".cast("double")
          / ($"n_users" + $"n_boundaries"), 6).as("mean_session_events"))
      .orderBy($"gap_minutes")
  }

  val stGapSensitivitySql: String =
    """WITH g AS (
      |  SELECT epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
      |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |    AS gap_us
      |  FROM events),
      |u AS (SELECT COUNT(DISTINCT user_id) AS n_users,
      |    COUNT(*) AS n_events FROM events),
      |s AS (
      |  SELECT
      |    SUM(CASE WHEN gap_us > CAST(5 AS BIGINT) * 60000000
      |      THEN 1 ELSE 0 END) AS b5,
      |    SUM(CASE WHEN gap_us > CAST(15 AS BIGINT) * 60000000
      |      THEN 1 ELSE 0 END) AS b15,
      |    SUM(CASE WHEN gap_us > CAST(30 AS BIGINT) * 60000000
      |      THEN 1 ELSE 0 END) AS b30,
      |    SUM(CASE WHEN gap_us > CAST(60 AS BIGINT) * 60000000
      |      THEN 1 ELSE 0 END) AS b60
      |  FROM g WHERE gap_us IS NOT NULL),
      |b AS (
      |  SELECT 5 AS gap_minutes, b5 AS n_boundaries FROM s
      |  UNION ALL SELECT 15, b15 FROM s
      |  UNION ALL SELECT 30, b30 FROM s
      |  UNION ALL SELECT 60, b60 FROM s)
      |SELECT CAST(b.gap_minutes AS BIGINT) AS gap_minutes,
      |  CAST(u.n_users + b.n_boundaries AS BIGINT) AS n_sessions,
      |  ROUND(CAST(u.n_users + b.n_boundaries AS DOUBLE) / u.n_users, 6)
      |    AS sessions_per_user,
      |  ROUND(CAST(u.n_events AS DOUBLE)
      |    / (u.n_users + b.n_boundaries), 6) AS mean_session_events
      |FROM b CROSS JOIN u ORDER BY gap_minutes""".stripMargin

  // --------------------------------------------------------------------
  // st_reident_risk: k-anonymity audit of behavioral profiles — treat
  // each user's distinct (event_type, 6-hour day-part) set as a
  // quasi-identifier and measure how many users share each profile:
  // the k-bucket histogram (k=1 = uniquely re-identifiable) plus the
  // unique-user share. The privacy gate a "pseudonymized" event export
  // needs BEFORE release: dropping user_id does nothing if the
  // behavioral fingerprint is unique — this measures exactly how
  // unique. (The PII-redaction op scrubs content; this audits shape.)
  // Scale shape: one partial-agg to distinct (user, type, hour); one
  // user-grain collect_set → canonical sorted profile string; one
  // profile-grain count; one bounded k-histogram. All shuffles key on
  // grains no wider than the user set. Determinism: profiles are
  // sort_array-canonicalized (collect_set order never observed);
  // string format "type:daypart" identical in both engines; integer
  // counts + exact ratios. Day-part (hour÷6), not raw hour: the
  // raw-hour profile is unique for EVERY fixture user (measured —
  // the output would be one degenerate k=1 row), while the 4-band
  // profile spreads k across 1..75, which is also the realistic
  // release granularity an export would round to.
  def stReidentRisk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val profiles = Tables.events(spark, dir)
      .select($"user_id",
        concat($"event_type", lit(":"),
          (hour($"ts") / 6).cast("int").cast("string")).as("p"))
      .groupBy($"user_id")
      .agg(array_join(sort_array(collect_set($"p")), ",").as("profile"))
    val kTable = profiles.groupBy($"profile")
      .agg(count(lit(1)).as("k"))
    val hist = kTable
      .groupBy(when($"k" <= 3, $"k")
        .otherwise(expr("shiftleft(1L, cast(length(bin(k)) - 1 as int))"))
        .as("k_bucket"))
      .agg(count(lit(1)).as("n_profiles"), sum($"k").as("n_users")).localCheckpoint()
    val tot = hist.agg(sum($"n_users").as("nu"),
      sum(when($"k_bucket" === 1, $"n_users").otherwise(0L)).as("uniq"))
      .filter($"nu" > 0)
    hist.crossJoin(broadcast(tot))
      .select($"k_bucket", $"n_profiles", $"n_users",
        round($"n_users".cast("double") / $"nu", 6).as("user_share"),
        round($"uniq".cast("double") / $"nu", 6).as("unique_user_share"))
      .orderBy($"k_bucket")
  }

  val stReidentRiskSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |    event_type || ':'
      |      || CAST(EXTRACT(HOUR FROM ts) // 6 AS VARCHAR) AS p
      |  FROM events),
      |prof AS (
      |  SELECT user_id, STRING_AGG(p, ',' ORDER BY p) AS profile
      |  FROM pairs GROUP BY 1),
      |kt AS (SELECT profile, COUNT(*) AS k FROM prof GROUP BY 1),
      |hist AS (
      |  SELECT CASE WHEN k <= 3 THEN k
      |      ELSE CAST(1 AS BIGINT) << (LENGTH(BIN(k)) - 1) END
      |      AS k_bucket,
      |    COUNT(*) AS n_profiles, CAST(SUM(k) AS BIGINT) AS n_users
      |  FROM kt GROUP BY 1),
      |tot AS (SELECT SUM(n_users) AS nu,
      |    SUM(CASE WHEN k_bucket = 1 THEN n_users ELSE 0 END) AS uniq
      |  FROM hist HAVING SUM(n_users) > 0)
      |SELECT CAST(h.k_bucket AS BIGINT) AS k_bucket,
      |  CAST(h.n_profiles AS BIGINT) AS n_profiles, h.n_users,
      |  ROUND(CAST(h.n_users AS DOUBLE) / t.nu, 6) AS user_share,
      |  ROUND(CAST(t.uniq AS DOUBLE) / t.nu, 6) AS unique_user_share
      |FROM hist h CROSS JOIN tot t ORDER BY h.k_bucket""".stripMargin

  // --------------------------------------------------------------------
  // st_stickiness: weekly DAU/WAU stickiness — per Monday-truncated
  // week, the weekly active users, active-day count, peak daily
  // actives, average daily actives, and the stickiness ratio
  // avg_DAU / WAU (the "how many of this week's users show up on a
  // given day" engagement scalar — the one number that separates a
  // daily habit from a weekly visit at identical WAU). Completes the
  // cadence set: st_retention_matrix says vintages decay,
  // st_new_vs_returning says who is new, this says how OFTEN actives
  // return within the week.
  // Scale shape: one (user, day) distinct at user grain (week rides
  // along — a function of day), then two partial-aggregable rollups to
  // the calendar-bounded week grain; no windows, no per-user state.
  // Determinism: integer counts; ratios are integer/integer doubles;
  // weeks are Monday-truncated DATEs in both engines.
  def stStickiness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ud = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day"),
        date_trunc("week", to_date($"ts")).cast("date").as("week"))
      .distinct()
    val daily = ud.groupBy($"week", $"day").agg(count(lit(1)).as("dau"))
      .groupBy($"week")
      .agg(sum($"dau").as("sum_dau"), count(lit(1)).as("n_active_days"),
        max($"dau").as("peak_dau"))
    val wau = ud.select($"week", $"user_id").distinct()
      .groupBy($"week").agg(count(lit(1)).as("wau"))
    daily.join(wau, Seq("week"))
      .select($"week", $"wau", $"n_active_days", $"peak_dau",
        round($"sum_dau".cast("double") / $"n_active_days", 6)
          .as("avg_dau"),
        round($"sum_dau".cast("double")
          / ($"n_active_days" * $"wau"), 6).as("stickiness"))
      .orderBy($"week")
  }

  val stStickinessSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
      |    CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week
      |  FROM events),
      |d AS (SELECT week, day, COUNT(*) AS dau FROM ud GROUP BY 1, 2),
      |dd AS (SELECT week, SUM(dau) AS sum_dau,
      |    COUNT(*) AS n_active_days, MAX(dau) AS peak_dau
      |  FROM d GROUP BY week),
      |w AS (SELECT week, COUNT(*) AS wau
      |  FROM (SELECT DISTINCT week, user_id FROM ud) GROUP BY week)
      |SELECT dd.week AS week, CAST(w.wau AS BIGINT) AS wau,
      |  CAST(dd.n_active_days AS BIGINT) AS n_active_days,
      |  CAST(dd.peak_dau AS BIGINT) AS peak_dau,
      |  ROUND(CAST(dd.sum_dau AS DOUBLE) / dd.n_active_days, 6)
      |    AS avg_dau,
      |  ROUND(CAST(dd.sum_dau AS DOUBLE) / (dd.n_active_days * w.wau), 6)
      |    AS stickiness
      |FROM dd JOIN w USING (week) ORDER BY week""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "st_stickiness" -> (stStickiness _, stStickinessSql),
    "st_retention_matrix" -> (stRetentionMatrix _, stRetentionMatrixSql),
    "st_reident_risk" -> (stReidentRisk _, stReidentRiskSql),
    "st_gap_sensitivity" -> (stGapSensitivity _, stGapSensitivitySql),
    "st_interarrival" -> (stInterarrival _, stInterarrivalSql),
    "st_user_lifespan" -> (stUserLifespan _, stUserLifespanSql),
    "st_type_mix_drift" -> (stTypeMixDrift _, stTypeMixDriftSql),
    "st_new_vs_returning" -> (stNewVsReturning _, stNewVsReturningSql),
    "st_value_drift" -> (stValueDrift _, stValueDriftSql),
    "st_whale_mass" -> (stWhaleMass _, stWhaleMassSql),
    "st_dispersion" -> (stDispersion _, stDispersionSql),
    "st_session_type_lift" -> (stSessionTypeLift _, stSessionTypeLiftSql),
    "st_concurrency" -> (stConcurrency _, stConcurrencySql),
    "st_burst_episodes" -> (stBurstEpisodes _, stBurstEpisodesSql),
    "st_value_percentiles" -> (stValuePercentiles _, stValuePercentilesSql),
    "st_cusum_drift" -> (stCusumDrift _, stCusumDriftSql),
    "st_dow_anomaly" -> (stDowAnomaly _, stDowAnomalySql),
    "st_hourly_profile" -> (stHourlyProfile _, stHourlyProfileSql),
    "st_arrival_rate" -> (stArrivalRate _, stArrivalRateSql),
    "st_acf" -> (stAcf _, stAcfSql),
    "st_top_users" -> (stTopUsers _, stTopUsersSql),
    "st_windowed_distinct" -> (stWindowedDistinct _, stWindowedDistinctSql),
    "st_lateness_audit" -> (stLatenessAudit _, stLatenessAuditSql),
    "st_static_enrich" -> (stStaticEnrich _, stStaticEnrichSql),
    "q45_rfm" -> (q45Rfm _, q45RfmSql),
    "q44_transitions" -> (q44Transitions _, q44TransitionsSql),
    "q43_session_stats" -> (q43SessionStats _, q43SessionStatsSql),
    "st_tumbling" -> (stTumbling _, stTumblingSql),
    "st_sliding" -> (stSliding _, stSlidingSql),
    "st_session" -> (stSession _, stSessionSql),
    "q38_funnel" -> (q38Funnel _, q38FunnelSql),
    "q39_retention" -> (q39Retention _, q39RetentionSql),
    "st_interval_join" -> (stIntervalJoin _, stIntervalJoinSql),
    "st_dedup_first" -> (stDedupFirst _, stDedupFirstSql),
    "q42_active_users" -> (q42ActiveUsers _, q42ActiveUsersSql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
