package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Distributed exact NTILE — the bucketed prefix-sum decomposition of a
  * global ordered window, generalized from the llm_pipeline_budget
  * pattern (Pipeline.scala `budget`) to exact global RANKS.
  *
  * `ntile(k).over(Window.orderBy(v.desc, tie))` puts the ENTIRE input
  * through one window task: at TPC-H scale the customer grain grows
  * WITH the fact (sf100k ≈ 15B customers), so a single-partition
  * window over customers is a scale-killer even though it is "only"
  * dim grain at bench SF. This helper reproduces NTILE's exact output
  * (hash-identical: the (v DESC, tie ASC) order is total, and the tile
  * boundaries are pure arithmetic on the global rank) while keeping
  * every data-sized operation partitioned:
  *
  *   1. one 1-row min/max aggregate over `v` (broadcast);
  *   2. a range-bucket id `floor((vmax−v)/(vmax−vmin)·B)` — a monotone
  *      step function of v (IEEE subtract/multiply/divide by positive
  *      constants are monotone, so bucket ASC ≡ v DESC; double
  *      rounding can only MERGE near-equal values into one bucket,
  *      never reorder them — merged ties resolve in step 4's
  *      within-bucket sort);
  *   3. a ≤B-row bucket-count table whose exclusive prefix sum gives
  *      each bucket's global rank offset (the one legal bounded
  *      single-partition window, like budget's 20-row bucket cumsum);
  *   4. `row_number` PARTITIONED by bucket (each task sorts one
  *      bucket's rows) + the broadcast offset = exact global rank;
  *   5. NTILE arithmetic from (rank, n): with q = n div k, r = n mod k,
  *      the first r tiles carry q+1 rows — integer `div`, no doubles.
  *
  * Hot-bucket fallback (`occupancyCap`): a heavy-tailed v floods one
  * range bucket and step 4's per-bucket sort becomes a single fat
  * task. With a finite cap, each of `refineLevels` refinement rounds
  * computes a bounded per-bucket stats table (count, v range, tie
  * range) and SUBDIVIDES every bucket over the cap on a B-point grid:
  *   - multi-valued hot bucket → finer grid over v (order-aligned:
  *     same monotone step function, one level shrinks the value range
  *     B×, so repeated levels isolate a heavy atom geometrically);
  *   - single-valued hot bucket (vmin = vmax) → grid over the TIE
  *     column ascending — legal exactly there, because within equal v
  *     the total order IS tie ASC; requires a numeric tie (a cast
  *     would reorder strings, so non-numeric ties never tie-split).
  * The composite id `bkt·B + sub` keeps the offset window's order
  * (sub < B), and every added table stays bounded: ≤ B + #hot·B rows
  * per level. Residual: a tie-split equalizes by VALUE range, so a
  * pathologically clustered tie domain can still leave a warm bucket
  * — the spec measures occupancy on a power-law input to keep the
  * guarantee empirical rather than asserted. The all-equal-v corner
  * with a constant tie (zero information to split on) stays one
  * bucket — the input where NTILE's order is arbitrary anyway.
  * Default cap = MaxValue keeps the zero-overhead two-stage plan for
  * inputs whose grain is known benign.
  *
  * The input is localCheckpointed (narrow rank-grain rows, referenced
  * by both the bucket-count aggregate and the rank join — without
  * materialization Catalyst re-derives the upstream fact collapse
  * twice); callers release it with the per-query transient sweep. An
  * input that already is a checkpoint is used as it is, so a caller
  * that checkpoints its rank-grain table to fold its own grand totals
  * off it pays no second job. Job economy matters here: every
  * localCheckpoint is a separate eager job, and the first cut of this
  * helper (input + range-table + caller-side decile-table checkpoints)
  * tripled the three callers' bench medians on pure job-launch
  * overhead. The range and bucket tables therefore stay INLINE
  * broadcast subtrees of the caller's single action — bounded (1-row /
  * ≤B-row) single-partition aggregates are two cheap stages, not jobs.
  */
object BucketedRank {

  /** The bucketing stage of [[ntileDesc]] alone: `df` plus the
    * (possibly hot-refined) composite `gnt_bkt` column — split out so
    * the spec can MEASURE per-bucket occupancy on adversarial inputs
    * instead of trusting the refinement argument. */
  private[graft] def bucketIds(df: DataFrame, valueCol: String,
                               tieCol: String, buckets: Int,
                               occupancyCap: Long, refineLevels: Int): DataFrame = {
    val base = if (Tables.isCheckpoint(df)) df else df.localCheckpoint()
    val v: Column = col(valueCol).cast("double")
    val mm = base.agg(min(v).as("gnt_vmin"), max(v).as("gnt_vmax"))
    var withB = base.crossJoin(broadcast(mm))
      .withColumn("gnt_bkt",
        when(col("gnt_vmax") === col("gnt_vmin"), lit(0L))
          .otherwise(least(
            floor((col("gnt_vmax") - v)
              / (col("gnt_vmax") - col("gnt_vmin")) * buckets),
            lit(buckets - 1)).cast("long")))
      .drop("gnt_vmin", "gnt_vmax")
    if (occupancyCap < Long.MaxValue) {
      val tieNumeric = df.schema(tieCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType]
      val t: Column = col(tieCol).cast("double")
      for (_ <- 1 to refineLevels) {
        // bounded per-bucket stats (≤ current bucket count rows) as an
        // inline broadcast subtree — same job-economy rule as the
        // range/offset tables: stages, not separate checkpoint jobs
        val st = withB.groupBy(col("gnt_bkt")).agg(
          count(lit(1)).as("gnt_hc"),
          min(v).as("gnt_hvmin"), max(v).as("gnt_hvmax"),
          min(t).as("gnt_htmin"), max(t).as("gnt_htmax"))
        val vSub = least(
          floor((col("gnt_hvmax") - v)
            / (col("gnt_hvmax") - col("gnt_hvmin")) * buckets),
          lit(buckets - 1)).cast("long")
        val tSub =
          if (!tieNumeric) lit(0L)
          else when(col("gnt_htmax") > col("gnt_htmin"),
            least(floor((t - col("gnt_htmin"))
              / (col("gnt_htmax") - col("gnt_htmin")) * buckets),
              lit(buckets - 1)).cast("long")).otherwise(lit(0L))
        withB = withB.join(broadcast(st), "gnt_bkt")
          .withColumn("gnt_sub",
            when(col("gnt_hc") <= occupancyCap, lit(0L))
              .otherwise(when(col("gnt_hvmax") > col("gnt_hvmin"), vSub)
                .otherwise(tSub)))
          .withColumn("gnt_bkt", col("gnt_bkt") * buckets + col("gnt_sub"))
          .drop("gnt_hc", "gnt_hvmin", "gnt_hvmax",
            "gnt_htmin", "gnt_htmax", "gnt_sub")
      }
    }
    withB
  }

  /** Append `out` = NTILE(`k`) OVER (ORDER BY `valueCol` DESC,
    * `tieCol` ASC) to `df`, computed distributed-exactly as described
    * above. `tieCol` must be unique per row (the queries use the
    * customer key), so the order is total and the result deterministic.
    */
  def ntileDesc(df: DataFrame, valueCol: String, tieCol: String, k: Int,
                out: String, buckets: Int = 1024,
                occupancyCap: Long = Long.MaxValue,
                refineLevels: Int = 2): DataFrame = {
    val withB = bucketIds(df, valueCol, tieCol, buckets, occupancyCap,
      refineLevels)
    // bounded bucket table: counts → exclusive prefix offsets, total n,
    // and the tile-arithmetic constants (all functions of n alone)
    val wOff = Window.orderBy(col("gnt_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("gnt_bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bt = withB.groupBy(col("gnt_bkt")).agg(count(lit(1)).as("gnt_bc"))
      .withColumn("gnt_off", coalesce(sum(col("gnt_bc")).over(wOff), lit(0L)))
      .withColumn("gnt_n", sum(col("gnt_bc")).over(wAll))
      .withColumn("gnt_q", expr(s"gnt_n div $k"))
      .withColumn("gnt_r", col("gnt_n") % k)
      .select(col("gnt_bkt"), col("gnt_off"), col("gnt_q"), col("gnt_r"))
    val wIn = Window.partitionBy(col("gnt_bkt"))
      .orderBy(col(valueCol).desc, col(tieCol))
    withB.join(broadcast(bt), "gnt_bkt")
      .withColumn("gnt_rank", col("gnt_off") + row_number().over(wIn))
      // rank ≤ r(q+1): inside the fat tiles, tile = ⌈rank/(q+1)⌉;
      // after: r + ⌈(rank − r(q+1))/q⌉. greatest(q,1) only guards the
      // not-taken branch when n < k (q = 0 ⇒ every rank ≤ r·1 = n).
      .withColumn(out, expr(
        s"""CAST(CASE
           |  WHEN gnt_rank <= gnt_r * (gnt_q + 1)
           |    THEN (gnt_rank + gnt_q) div (gnt_q + 1)
           |  ELSE gnt_r + (gnt_rank - gnt_r * (gnt_q + 1)
           |    + greatest(gnt_q, 1L) - 1) div greatest(gnt_q, 1L)
           |END AS INT)""".stripMargin))
      .drop("gnt_bkt", "gnt_off", "gnt_q", "gnt_r", "gnt_rank")
  }
}
