package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Exact
import graft.sources.Tables

/** Distributed model fitting over corpus-scale features — the "train a
  * linear probe / quality regressor on the whole corpus" primitive of a
  * training-data pipeline (FastText-style quality classifiers, DSIR
  * importance models, dataset-mixing regressions are all fits of a small
  * parameter vector against corpus-cardinality feature rows).
  *
  * Scale shape — the same bound as the PCA power iteration
  * ([[Similarity]] Gram partial-aggregate): every pass is a narrow
  * projection scan whose aggregate state is O(d²) REGARDLESS of corpus
  * size, so the shuffle moves d²×partitions scalars and the solve itself
  * happens on a handful of doubles. Nothing corpus-sized ever moves.
  *
  * Determinism: every corpus sum is a DECIMAL(28,12) cast of
  * identically-computed double terms (order-insensitive); the closed-form
  * 2×2 solve then runs on identical doubles in both engines.
  */
object Models {

  private val Lambda = 1.0 // ridge regularizer on the centered Gram

  // --------------------------------------------------------------------
  // llm_ta_ridge: closed-form ridge regression of the calibrated quality
  // score on two cheap per-document features (chars/1000, whitespace
  // words/100) — three corpus passes: (1) feature+label means, (2)
  // centered Gram + cross moments, (3) residual sum of squares for R².
  // Output is the fitted model card: weights, intercept, R², n.
  def ridge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the session-cached family base feeds all three passes — the scan
    // (with its tokenizing quality join) runs once per session, not
    // three times per invocation (ridge's label is the RAW quality,
    // carried on the base exactly for this consumer)
    val f = lrBase(spark, dir).select($"x1", $"x2", $"quality".as("y"))


    val m = f.agg(
      Exact.sum($"x1").as("sx1"), Exact.sum($"x2").as("sx2"), Exact.sum($"y").as("sy"),
      count(lit(1)).as("n")).head()
    val n = m.getAs[Long]("n").toDouble
    val (mx1, mx2, my) =
      (m.getAs[Double]("sx1") / n, m.getAs[Double]("sx2") / n,
        m.getAs[Double]("sy") / n)

    val g = f.agg(
      Exact.sum(($"x1" - mx1) * ($"x1" - mx1)).as("s11"),
      Exact.sum(($"x1" - mx1) * ($"x2" - mx2)).as("s12"),
      Exact.sum(($"x2" - mx2) * ($"x2" - mx2)).as("s22"),
      Exact.sum(($"x1" - mx1) * ($"y" - my)).as("sy1"),
      Exact.sum(($"x2" - mx2) * ($"y" - my)).as("sy2"),
      Exact.sum(($"y" - my) * ($"y" - my)).as("syy")).head()
    val (s11, s12, s22) = (g.getAs[Double]("s11"), g.getAs[Double]("s12"),
      g.getAs[Double]("s22"))
    val (sy1, sy2, syy) = (g.getAs[Double]("sy1"), g.getAs[Double]("sy2"),
      g.getAs[Double]("syy"))

    val det = (s11 + Lambda) * (s22 + Lambda) - s12 * s12
    val w1 = ((s22 + Lambda) * sy1 - s12 * sy2) / det
    val w2 = ((s11 + Lambda) * sy2 - s12 * sy1) / det
    val b = my - w1 * mx1 - w2 * mx2

    val sse = f.agg(
      Exact.sum(($"y" - (lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2"))
        * ($"y" - (lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2"))).as("sse"))
      .head().getAs[Double]("sse")
    val r2 = 1.0 - sse / syy

    spark.createDataFrame(Seq(
      (math.round(n).toLong,
        Exact.r6(w1),
        Exact.r6(w2),
        Exact.r6(b),
        Exact.r6(r2))))
      .toDF("n", "w_chars", "w_words", "intercept", "r2")
  }

  val ridgeSql: String =
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |f AS (
       |  SELECT
       |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
       |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
       |      / CAST(100.0 AS DOUBLE) AS x2,
       |    q.quality AS y
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id),
       |m AS (
       |  SELECT
       |    CAST(SUM(CAST(x1 AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mx1,
       |    CAST(SUM(CAST(x2 AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mx2,
       |    CAST(SUM(CAST(y  AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS my,
       |    COUNT(*) AS n
       |  FROM f),
       |g AS (
       |  SELECT
       |    CAST(SUM(CAST((x1 - m.mx1) * (x1 - m.mx1) AS DECIMAL(28,12))) AS DOUBLE) AS s11,
       |    CAST(SUM(CAST((x1 - m.mx1) * (x2 - m.mx2) AS DECIMAL(28,12))) AS DOUBLE) AS s12,
       |    CAST(SUM(CAST((x2 - m.mx2) * (x2 - m.mx2) AS DECIMAL(28,12))) AS DOUBLE) AS s22,
       |    CAST(SUM(CAST((x1 - m.mx1) * (y - m.my) AS DECIMAL(28,12))) AS DOUBLE) AS sy1,
       |    CAST(SUM(CAST((x2 - m.mx2) * (y - m.my) AS DECIMAL(28,12))) AS DOUBLE) AS sy2,
       |    CAST(SUM(CAST((y - m.my) * (y - m.my) AS DECIMAL(28,12))) AS DOUBLE) AS syy,
       |    ANY_VALUE(m.n) AS n, ANY_VALUE(m.mx1) AS mx1,
       |    ANY_VALUE(m.mx2) AS mx2, ANY_VALUE(m.my) AS my
       |  FROM f CROSS JOIN m),
       |w AS (
       |  SELECT *,
       |    ((s22 + 1.0) * sy1 - s12 * sy2)
       |      / ((s11 + 1.0) * (s22 + 1.0) - s12 * s12) AS w1,
       |    ((s11 + 1.0) * sy2 - s12 * sy1)
       |      / ((s11 + 1.0) * (s22 + 1.0) - s12 * s12) AS w2
       |  FROM g),
       |wb AS (SELECT *, my - w1 * mx1 - w2 * mx2 AS b FROM w),
       |sse AS (
       |  SELECT
       |    CAST(SUM(CAST((f.y - (wb.b + wb.w1 * f.x1 + wb.w2 * f.x2))
       |      * (f.y - (wb.b + wb.w1 * f.x1 + wb.w2 * f.x2))
       |      AS DECIMAL(28,12))) AS DOUBLE) AS sse,
       |    ANY_VALUE(wb.n) AS n, ANY_VALUE(wb.w1) AS w1,
       |    ANY_VALUE(wb.w2) AS w2, ANY_VALUE(wb.b) AS b,
       |    ANY_VALUE(wb.syy) AS syy
       |  FROM f CROSS JOIN wb)
       |SELECT CAST(n AS BIGINT) AS n,
       |  ROUND(w1, 6) AS w_chars, ROUND(w2, 6) AS w_words,
       |  ROUND(b, 6) AS intercept,
       |  ROUND(CAST(1.0 AS DOUBLE) - sse / syy, 6) AS r2
       |FROM sse""".stripMargin

  // --------------------------------------------------------------------
  // llm_ta_logreg: logistic quality classifier trained by 3 full-batch
  // gradient steps — the FastText-style "train a cheap classifier on
  // heuristic labels, score the whole corpus with it" curation
  // primitive (label = calibrated quality ≥ 0.5, features = the same
  // (chars/1000, words/100) pair as [[ridge]]). Each step's gradient is
  // ONE narrow corpus pass whose aggregate state is O(d) scalars — the
  // same corpus-size-independent bound as the ridge/PCA passes — and
  // the weight update itself is arithmetic on a handful of doubles.
  //
  // Determinism: the logistic link is the Elliott "fast sigmoid"
  // σ̃(z) = 0.5 + 0.5·z/(1+|z|) — a rational function of (+,·,/,|·|)
  // only, so both engines produce bit-identical activations; the libm
  // exp() behind the exact sigmoid is a documented cross-engine
  // divergence surface (SURVEY §5.1) that an ITERATED fit would
  // amplify, so it is deliberately excluded from the update rule.
  // Gradient terms (σ̃(z)−y)·x are DECIMAL(28,12)-summed
  // (order-insensitive), so the trained weights are bit-identical
  // across partitionings and engines. Update: w ← w − η·g/n, η=1, 3
  // steps from w=0. Accuracy is sign agreement (σ̃ is monotone with
  // σ̃(0)=0.5, so p̃ ≥ 0.5 ⟺ z ≥ 0 — no activation in the decision).
  private val LrEta = 1.0
  private val LrSteps = 3

  private def sig(z: org.apache.spark.sql.Column) =
    lit(0.5) + lit(0.5) * z / (lit(1.0) + abs(z))

  /** The trained (features, w1, w2, b) tuple — shared by [[logreg]]
    * (model card) and [[calibration]] (reliability curve) so both
    * score with the SAME fit. */
  /** Run the 3-step full-batch fit over an arbitrary (x1, x2, y)
    * training table — the arithmetic of [[logregFit]], extracted so
    * [[learningCurve]] can fit on hash-selected subsets. */
  private def fitOn(f: DataFrame): (Double, Double, Double) = {
    val n = f.count().toDouble
    var (w1, w2, b) = (0.0, 0.0, 0.0)
    for (_ <- 1 to LrSteps) {
      val z = lit(b) + lit(w1) * col("x1") + lit(w2) * col("x2")
      val g = f.agg(
        Exact.sum((sig(z) - col("y")) * col("x1")).as("g1"),
        Exact.sum((sig(z) - col("y")) * col("x2")).as("g2"),
        Exact.sum(sig(z) - col("y")).as("gb")).head()
      w1 -= LrEta * g.getAs[Double]("g1") / n
      w2 -= LrEta * g.getAs[Double]("g2") / n
      b -= LrEta * g.getAs[Double]("gb") / n
    }
    (w1, w2, b)
  }

  /** Session-cached feature base for the whole models family: ONE
    * documents⨝taQuality scan (the taQuality side tokenizes every
    * document — the expensive part) materialized with every rider any
    * family member needs (source for PSI, lang for the fairness audit,
    * doc_id for the bootstrap/learning-curve hash buckets, raw quality
    * for the ridge label). Before r15 each of the 17 llm_models_*
    * queries rebuilt + re-materialized its own copy of this table per
    * invocation — ~15.9 s of the r14 best-of-2 board was mostly 17
    * repeats of the same scan + fit (guide §1.2 step 1: don't compute
    * things twice). Same artifact contract as the dedup band index /
    * dd_repCalib: snapshot-stamped, built once per (session, dir),
    * cold mode bills the build to the first toucher. */
  private[graft] def lrBase(spark: SparkSession, dir: String): DataFrame =
    Tables.artifact(spark, dir, "models_lr_base") {
      import spark.implicits._
      Tables.documents(spark, dir)
        .select($"doc_id", $"source", $"lang",
          ($"n_chars" / 1000.0).as("x1"),
          ((length($"text") - length(expr("replace(text, ' ', '')")) + 1)
            / 100.0).as("x2"))
        .join(TextAnalysis.taQuality(spark, dir)
          .select($"doc_id", $"quality"), "doc_id")
        .select($"doc_id", $"source", $"lang", $"x1", $"x2", $"quality",
          when($"quality" >= 0.5, 1.0).otherwise(0.0).as("y"))
    }

  /** Session-cached full-corpus logreg weights (w1, w2, b): the SAME
    * [[fitOn]] gradient arithmetic over the SAME (x1, x2, y) multiset
    * as every pre-r15 per-query fit (fitOn's sums are DECIMAL-routed
    * and order-insensitive, so the riders projected away here cannot
    * change a bit), run once per (session, dir) instead of inside all
    * 14 full-corpus-fit consumers (3 gradient jobs + a count per
    * invocation). Stored as a 1-row checkpointed frame so staleness
    * tracks the dir snapshot exactly like every other artifact. */
  private def lrWeights(spark: SparkSession,
                        dir: String): (Double, Double, Double) = {
    import spark.implicits._
    val row = Tables.artifact(spark, dir, "models_lr_weights") {
      val (w1, w2, b) = fitOn(lrBase(spark, dir).select($"x1", $"x2", $"y"))
      spark.createDataFrame(Seq((w1, w2, b))).toDF("w1", "w2", "b")
    }.head()
    (row.getDouble(0), row.getDouble(1), row.getDouble(2))
  }

  private def logregFit(spark: SparkSession,
                        dir: String): (DataFrame, Double, Double, Double) = {
    import spark.implicits._
    val f = lrBase(spark, dir).select($"x1", $"x2", $"y")
    val (w1, w2, b) = lrWeights(spark, dir)
    (f, w1, w2, b)
  }

  def logreg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (f, w1, w2, b) = logregFit(spark, dir)
    val n = f.count().toDouble

    val zf = lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2"
    val m = f.agg(
      Exact.sum($"y").as("n_pos"),
      sum(when((zf >= 0.0) === ($"y" === 1.0), 1L).otherwise(0L))
        .as("n_correct")).head()

    spark.createDataFrame(Seq((
      math.round(n).toLong,
      math.round(m.getAs[Double]("n_pos")).toLong,
      Exact.r6(w1),
      Exact.r6(w2),
      Exact.r6(b),
      Exact.r6(m.getAs[Long]("n_correct") / n))))
      .toDF("n", "n_pos", "w_chars", "w_words", "intercept", "accuracy")
  }

  private def sigSql(z: String) =
    s"(0.5 + 0.5 * ($z) / (1.0 + ABS($z)))"

  /** The shared training-CTE prefix (features f + unrolled gradient
    * steps ending at the trained 1-row weight table `w3s`) — the SQL
    * twin of [[logregFit]], spliced into both the logreg and the
    * calibration oracles so both score with the SAME fit.
    *
    * Parametric over the feature CTE so variants can carry extra
    * per-row columns through `f` (the gradient steps only touch
    * f.x1/f.x2/f.y, so riders are inert for the fit): [[mcnemarSql]]
    * threads the Gopher keep flag this way. `preCtes` inserts extra
    * CTEs (trailing comma included by the caller) between `q` and `f`. */
  private def logregChainOverSql(preCtes: String, fBody: String): String = {
    // one unrolled CTE per gradient step: gK sums the per-row gradient
    // terms under weights wK-1; wK applies the update. The weight
    // tables are 1-row, so every CROSS JOIN is a broadcast in spirit.
    def step(prevW: String, g: String, w: String): String = {
      val z = s"$prevW.b + $prevW.w1 * f.x1 + $prevW.w2 * f.x2"
      s"""$g AS (
         |  SELECT
         |    CAST(SUM(CAST((${sigSql(z)} - f.y) * f.x1 AS DECIMAL(28,12))) AS DOUBLE) AS g1,
         |    CAST(SUM(CAST((${sigSql(z)} - f.y) * f.x2 AS DECIMAL(28,12))) AS DOUBLE) AS g2,
         |    CAST(SUM(CAST((${sigSql(z)} - f.y) AS DECIMAL(28,12))) AS DOUBLE) AS gb,
         |    COUNT(*) AS n
         |  FROM f CROSS JOIN $prevW $prevW),
         |$w AS (
         |  SELECT $prevW.w1 - $g.g1 / $g.n AS w1,
         |    $prevW.w2 - $g.g2 / $g.n AS w2,
         |    $prevW.b - $g.gb / $g.n AS b,
         |    $g.n AS n
         |  FROM $g CROSS JOIN $prevW $prevW)""".stripMargin
    }
    s"""q AS (${TextAnalysis.taQualitySql}),$preCtes
       |f AS (
       |$fBody),
       |w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2,
       |  CAST(0.0 AS DOUBLE) AS b),
       |${step("w0", "g1s", "w1s")},
       |${step("w1s", "g2s", "w2s")},
       |${step("w2s", "g3s", "w3s")}""".stripMargin
  }

  /** The default feature CTE body: the two cheap features + the
    * quality label, exactly as [[logregFit]] builds them. */
  private val logregFBodySql: String =
    """  SELECT
      |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
      |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
      |      / CAST(100.0 AS DOUBLE) AS x2,
      |    CASE WHEN q.quality >= 0.5 THEN CAST(1.0 AS DOUBLE)
      |      ELSE CAST(0.0 AS DOUBLE) END AS y
      |  FROM documents d JOIN q ON d.doc_id = q.doc_id""".stripMargin

  private def logregChainSql: String =
    logregChainOverSql("", logregFBodySql)

  val logregSql: String =
    s"""WITH $logregChainSql,
       |m AS (
       |  SELECT
       |    COUNT(*) AS n,
       |    CAST(CAST(SUM(CAST(f.y AS DECIMAL(28,12))) AS DOUBLE) AS BIGINT)
       |      AS n_pos,
       |    SUM(CASE WHEN ((w.b + w.w1 * f.x1 + w.w2 * f.x2) >= 0.0)
       |          = (f.y = 1.0) THEN 1 ELSE 0 END) AS n_correct,
       |    ANY_VALUE(w.w1) AS w1, ANY_VALUE(w.w2) AS w2, ANY_VALUE(w.b) AS b
       |  FROM f CROSS JOIN w3s w)
       |SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
       |  ROUND(w1, 6) AS w_chars, ROUND(w2, 6) AS w_words,
       |  ROUND(b, 6) AS intercept,
       |  ROUND(CAST(n_correct AS DOUBLE) / n, 6) AS accuracy
       |FROM m""".stripMargin

  // --------------------------------------------------------------------
  // llm_models_calibration: reliability curve for the trained quality
  // probe — bin predicted probability into 10 equal-width bins,
  // compare mean prediction vs observed positive rate per bin (the
  // plot behind every "is this classifier's score a probability?"
  // decision; a curation gate that thresholds an uncalibrated score
  // silently shifts the corpus mix). Reuses the EXACT [[logregFit]]
  // weights; the Elliott link keeps p a rational function, so the
  // bin index floor(p·10) lands identically on both engines
  // (bit-identical p, and p < 1 by construction so no edge bin).
  // Scale: one scoring scan + a 10-row groupBy; partial-aggregable.
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (f, w1, w2, b) = logregFit(spark, dir)
    val p = sig(lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2")
    f.select(p.as("p"), $"y")
      .select(least(floor($"p" * 10).cast("int"), lit(9)).as("bin"),
        $"p", $"y")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        round(Exact.sum($"p") / count(lit(1)), 6).as("mean_pred"),
        round(Exact.sum($"y") / count(lit(1)), 6).as("pos_rate"),
        round(abs(Exact.sum($"p") / count(lit(1))
          - Exact.sum($"y") / count(lit(1))), 6).as("gap"))
      .orderBy($"bin")
  }

  val calibrationSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |s AS (
       |  SELECT LEAST(CAST(FLOOR($p * 10) AS INT), 9) AS bin,
       |    $p AS p, f.y AS y
       |  FROM f CROSS JOIN w3s w)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  ROUND(${Exact.sumSql("p")} / COUNT(*), 6) AS mean_pred,
       |  ROUND(${Exact.sumSql("y")} / COUNT(*), 6) AS pos_rate,
       |  ROUND(ABS(${Exact.sumSql("p")} / COUNT(*) - ${Exact.sumSql("y")} / COUNT(*)), 6)
       |    AS gap
       |FROM s GROUP BY bin ORDER BY bin""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_auc: exact tie-aware ROC-AUC of the trained quality
  // probe — the threshold-free twin of [[calibration]] (calibration
  // asks "is the score a probability?", AUC asks "does it RANK
  // positives above negatives at all?" — the first gate a curation
  // classifier must pass before any threshold is chosen). Computed
  // from the score-grain histogram, never from per-row ranks:
  //   AUC = Σ_s pos_s · (negBelow(s) + neg_s/2) / (P·N)
  // over distinct scores ascending — the Mann-Whitney U with the
  // standard half-credit tie correction, exact because every term is
  // an integer count (the ×2 form keeps the numerator integral).
  // Scale shape: one scoring scan partial-aggregates to score grain;
  // the single unpartitioned cumulative window runs over THAT table,
  // whose cardinality is bounded by the feature domain (distinct
  // (n_chars, word-count) pairs — the score is a rational function of
  // them), not by the corpus — the q67/st_arrival_rate bounded-domain
  // window argument. The Elliott link keeps p bit-identical across
  // engines (see [[logregFit]]), so grouping by the raw double is
  // exact.
  /** The scored (p, y) corpus — split out so WaveTenSpec can check the
    * histogram AUC against the naive all-pairs Mann-Whitney form. */
  private[graft] def aucScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (f, w1, w2, b) = logregFit(spark, dir)
    f.select(sig(lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2").as("p"), $"y")
  }

  /** The score-grain cumulative term table — split out so PlanSpec can
    * assert the window runs over the post-aggregate histogram (the
    * registered query's own plan collapses to a LocalTableScan because
    * the final row is driver-assembled). */
  private[graft] def aucTerms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val byScore = aucScored(spark, dir)
      .groupBy($"p")
      .agg(sum($"y".cast("long")).as("pos"),
        sum(when($"y" === 0.0, 1L).otherwise(0L)).as("neg"))
    val w = Window.orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore
      .withColumn("cumNeg", sum($"neg").over(w))
      // num2 = Σ pos_s · (2·negBelow + neg_s); negBelow = cumNeg − neg_s
      .select($"pos", $"neg",
        ($"pos" * (($"cumNeg" - $"neg") * 2L + $"neg"))
          .cast(DecimalType(38, 0)).as("t"))
  }

  def auc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = aucTerms(spark, dir)
    val agg = terms.agg(
      sum($"pos").as("n_pos"), sum($"neg").as("n_neg"),
      count(lit(1)).as("n_scores"), sum($"t").as("num2")).head()
    val (np, nn) = (agg.getAs[Long]("n_pos"), agg.getAs[Long]("n_neg"))
    // AUC is undefined without both classes (empty corpus, or a corpus
    // the heuristic labels single-class): empty result, never NaN
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(Seq.empty[(Long, Long, Long, Long, Double, Double)])
        .toDF("n", "n_pos", "n_neg", "n_scores", "auc", "gini")
    val aucV = agg.getAs[java.math.BigDecimal]("num2").doubleValue() /
      (2.0 * np.toDouble * nn.toDouble)
    spark.createDataFrame(Seq((
      np + nn, np, nn, agg.getAs[Long]("n_scores"),
      Exact.r6(aucV),
      Exact.r6(2.0 * aucV - 1.0))))
      .toDF("n", "n_pos", "n_neg", "n_scores", "auc", "gini")
  }

  val aucSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |h AS (
       |  SELECT p, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |c AS (
       |  SELECT pos, neg,
       |    SUM(neg) OVER (ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumNeg
       |  FROM h),
       |a AS (
       |  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       |    CAST(SUM(neg) AS BIGINT) AS n_neg,
       |    COUNT(*) AS n_scores,
       |    SUM(CAST(pos * ((cumNeg - neg) * 2 + neg) AS DECIMAL(38,0)))
       |      AS num2
       |  FROM c)
       |SELECT CAST(n_pos + n_neg AS BIGINT) AS n, n_pos, n_neg,
       |  CAST(n_scores AS BIGINT) AS n_scores,
       |  ROUND(CAST(num2 AS DOUBLE)
       |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
       |    AS auc,
       |  ROUND(2.0 * (CAST(num2 AS DOUBLE)
       |    / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))) - 1.0,
       |    6) AS gini
       |FROM a""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_pr: exact trapezoidal PR-AUC + best-F1 operating point of
  // the trained quality probe — the threshold-CHOOSING twin of [[auc]]
  // (ROC-AUC says "the ranking works"; the PR summary says "here is the
  // precision you actually buy at each recall, and the threshold that
  // maximizes F1" — the number a curation gate is configured with, and
  // the honest metric when positives are rare enough that ROC flattery
  // kicks in). Computed entirely at score grain, never per row:
  // blocks descend by score; R_i = cumPos_i/P, Prec_i = cumPos_i/cumAll_i,
  //   PR-AUC = Σ_i (pos_i/P) · (Prec_i + Prec_{i−1})/2   (Prec_0 = 1)
  // — the tie-aware trapezoid over tie blocks. F1_i = 2·cumPos_i /
  // (P + cumAll_i) needs no precision/recall division at all (integer
  // counts in, one double out). Scale shape: one scoring scan
  // partial-aggregates to the feature-domain-bounded score histogram;
  // the cumulative windows run over THAT table (the [[auc]] bounded-
  // domain argument). Determinism: every per-block double is a rational
  // function of integer counts (bit-identical across engines); the
  // trapezoid terms are DECIMAL(28,12)-cast before the order-sensitive
  // sum; the best-F1 threshold is min(p) over the exact-equality argmax
  // set (identical doubles ⇒ identical set), never an arg_max whose
  // tie-break is engine-defined.
  /** The score-grain (p, pos, neg) histogram — the ONE corpus-scale
    * collapse all three threshold metrics (pr, ks — and conceptually
    * auc) read; callers materialize it so totals, windows, and argmax
    * filters all ride a single scoring scan. */
  private[graft] def scoreHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    aucScored(spark, dir)
      .groupBy($"p")
      .agg(sum($"y".cast("long")).as("pos"),
        sum(when($"y" === 0.0, 1L).otherwise(0L)).as("neg"))
  }

  private def histTotals(hist: DataFrame): (Long, Long) = {
    val tot = hist.agg(sum(col("pos")).as("np"), sum(col("neg")).as("nn"))
      .head()
    (Option(tot.get(0)).fold(0L)(_ => tot.getAs[Long]("np")),
      Option(tot.get(1)).fold(0L)(_ => tot.getAs[Long]("nn")))
  }

  /** Score-grain PR table (cum counts, precision, F1, trapezoid term)
    * over a (p, pos, neg) histogram — split out so WaveTenSpec can
    * re-derive AP/best-F1 naively and PlanSpec can audit the window
    * input. */
  private[graft] def prBlocksFrom(hist: DataFrame, np: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("p").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wo = Window.orderBy(col("p").desc)
    hist
      .withColumn("cumPos", sum(col("pos")).over(w))
      .withColumn("cumAll", sum(col("pos") + col("neg")).over(w))
      .withColumn("prec",
        col("cumPos").cast("double") / col("cumAll").cast("double"))
      .withColumn("precPrev", lag(col("prec"), 1, 1.0).over(wo))
      .withColumn("f1",
        lit(2.0) * col("cumPos").cast("double")
          / (lit(np.toDouble) + col("cumAll").cast("double")))
      .withColumn("term",
        (col("pos").cast("double") / np.toDouble)
          * (col("prec") + col("precPrev")) / 2.0)
  }

  private[graft] def prBlocks(spark: SparkSession, dir: String,
                              np: Long): DataFrame =
    prBlocksFrom(scoreHist(spark, dir), np)

  def prSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE scoring scan: the histogram is materialized and every
    // downstream consumer (totals, windows, argmax filter) reads it
    val hist = scoreHist(spark, dir).localCheckpoint()
    val (np, nn) = histTotals(hist)
    // PR metrics are undefined without both classes — empty, never NaN
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Long, Long, Double, Double, Double)])
        .toDF("n", "n_pos", "n_neg", "n_scores", "pr_auc", "best_f1",
          "best_f1_threshold")
    // blocks feed two consumers, but re-deriving them is a re-window
    // over the checkpointed histogram — bounded-domain, no corpus cost
    val blocks = prBlocksFrom(hist, np)
    val a = blocks.agg(
      Exact.sum($"term").as("ap"),
      max($"f1").as("bf"), count(lit(1)).as("ns")).head()
    val thr = blocks.filter($"f1" === a.getAs[Double]("bf"))
      .agg(min($"p")).head().getDouble(0)
    spark.createDataFrame(Seq((
      np + nn, np, nn, a.getAs[Long]("ns"),
      Exact.r6(a.getAs[Double]("ap")),
      Exact.r6(a.getAs[Double]("bf")),
      Exact.r6(thr))))
      .toDF("n", "n_pos", "n_neg", "n_scores", "pr_auc", "best_f1",
        "best_f1_threshold")
  }

  /** Shared score-histogram + PR-block CTE chain (through the `a`
    * aggregate) — spliced into both the prSummary and confusion
    * oracles so the best-F1 threshold is derived identically. */
  private def prChainSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""$logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |h AS (
       |  SELECT p, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |tt AS (SELECT CAST(SUM(pos) AS BIGINT) AS np,
       |  CAST(SUM(neg) AS BIGINT) AS nn FROM h),
       |c AS (
       |  SELECT p, pos, neg,
       |    SUM(pos) OVER (ORDER BY p DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumPos,
       |    SUM(pos + neg) OVER (ORDER BY p DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumAll
       |  FROM h),
       |d AS (
       |  SELECT p, pos, cumPos, cumAll,
       |    CAST(cumPos AS DOUBLE) / CAST(cumAll AS DOUBLE) AS prec,
       |    LAG(CAST(cumPos AS DOUBLE) / CAST(cumAll AS DOUBLE), 1,
       |      CAST(1.0 AS DOUBLE)) OVER (ORDER BY p DESC) AS precPrev
       |  FROM c),
       |e AS (
       |  SELECT d.p,
       |    2.0 * CAST(d.cumPos AS DOUBLE)
       |      / (CAST(tt.np AS DOUBLE) + CAST(d.cumAll AS DOUBLE)) AS f1,
       |    (CAST(d.pos AS DOUBLE) / CAST(tt.np AS DOUBLE))
       |      * (d.prec + d.precPrev) / 2.0 AS term
       |  FROM d CROSS JOIN tt),
       |a AS (
       |  SELECT CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS ap,
       |    MAX(f1) AS bf, COUNT(*) AS ns
       |  FROM e)""".stripMargin
  }

  val prSummarySql: String = {
    s"""WITH $prChainSql
       |SELECT CAST(tt.np + tt.nn AS BIGINT) AS n, tt.np AS n_pos,
       |  tt.nn AS n_neg, CAST(a.ns AS BIGINT) AS n_scores,
       |  ROUND(a.ap, 6) AS pr_auc, ROUND(a.bf, 6) AS best_f1,
       |  ROUND((SELECT MIN(e.p) FROM e CROSS JOIN a a2 WHERE e.f1 = a2.bf),
       |    6) AS best_f1_threshold
       |FROM tt CROSS JOIN a""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_brier: Brier score with the Murphy decomposition over the
  // [[calibration]] bins — the scalar that the reliability CURVE
  // summarizes (BS measures probability accuracy; reliability says how
  // much of it is mis-calibration, resolution how much discriminating
  // power the score has, uncertainty the label-entropy floor neither can
  // beat). `decomp_gap` = BS − (REL − RES + UNC) is reported rather than
  // hidden: with continuous forecasts binned, the identity holds only up
  // to the within-bin forecast variance, and publishing the gap makes
  // the bin-granularity error visible instead of silently folded in.
  // Scale shape: one scoring scan → (a) O(1) corpus moments, (b) a
  // 10-row bin collapse; both partial-aggregable. Determinism: corpus
  // and bin sums are DECIMAL(28,12) casts; per-bin means are doubles of
  // exact sums; the 10 decomposition terms are DECIMAL-cast again before
  // the final (order-sensitive) sum.
  def brier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (f, w1, w2, b) = logregFit(spark, dir)
    val p = sig(lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2")
    val scored = f.select(p.as("p"), $"y").localCheckpoint()
    val m = scored.agg(count(lit(1)).as("n"),
      sum(when($"y" === 1.0, 1L).otherwise(0L)).as("npos"),
      Exact.sum(($"p" - $"y") * ($"p" - $"y")).as("sse")).head()
    val n = m.getAs[Long]("n")
    if (n == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Double, Double, Double, Double, Double)])
        .toDF("n", "n_pos", "brier", "reliability", "resolution",
          "uncertainty", "decomp_gap")
    val obar = m.getAs[Long]("npos").toDouble / n.toDouble
    val bs = m.getAs[Double]("sse") / n.toDouble
    val bins = scored
      .groupBy(least(floor($"p" * 10), lit(9)).cast("int").as("bin"))
      .agg(count(lit(1)).as("nk"), Exact.sum($"p").as("sp"),
        sum(when($"y" === 1.0, 1L).otherwise(0L)).as("pk"))
      .select($"nk".cast("double").as("nk"),
        ($"sp" / $"nk".cast("double")).as("pbar"),
        ($"pk".cast("double") / $"nk".cast("double")).as("okbar"))
    val t = bins.agg(
      (Exact.sum($"nk" * ($"pbar" - $"okbar") * ($"pbar" - $"okbar")) / n.toDouble).as("rel"),
      (Exact.sum($"nk" * ($"okbar" - obar) * ($"okbar" - obar)) / n.toDouble).as("res"))
      .head()
    val (rel, res) = (t.getAs[Double]("rel"), t.getAs[Double]("res"))
    val unc = obar * (1.0 - obar)
    spark.createDataFrame(Seq((
      n, m.getAs[Long]("npos"), Exact.r6(bs), Exact.r6(rel), Exact.r6(res), Exact.r6(unc),
      Exact.r6(bs - (rel - res + unc)))))
      .toDF("n", "n_pos", "brier", "reliability", "resolution",
        "uncertainty", "decomp_gap")
  }

  val brierSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS npos,
       |    ${Exact.sumSql("(p - y) * (p - y)")} AS sse
       |  FROM sc),
       |g AS (
       |  SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin,
       |    CAST(COUNT(*) AS DOUBLE) AS nk,
       |    ${Exact.sumSql("p")} AS sp,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS pk
       |  FROM sc GROUP BY 1),
       |k AS (
       |  SELECT nk, sp / nk AS pbar, CAST(pk AS DOUBLE) / nk AS okbar,
       |    CAST(m.npos AS DOUBLE) / m.n AS obar, m.n AS n, m.npos AS npos,
       |    m.sse AS sse
       |  FROM g CROSS JOIN m),
       |t AS (
       |  SELECT
       |    ${Exact.sumSql("nk * (pbar - okbar) * (pbar - okbar)")}
       |      / ANY_VALUE(n) AS rel,
       |    ${Exact.sumSql("nk * (okbar - obar) * (okbar - obar)")}
       |      / ANY_VALUE(n) AS res,
       |    ANY_VALUE(sse) / ANY_VALUE(n) AS bs,
       |    ANY_VALUE(obar) * (1.0 - ANY_VALUE(obar)) AS unc,
       |    ANY_VALUE(n) AS n, ANY_VALUE(npos) AS npos
       |  FROM k)
       |SELECT CAST(n AS BIGINT) AS n, CAST(npos AS BIGINT) AS n_pos,
       |  ROUND(bs, 6) AS brier, ROUND(rel, 6) AS reliability,
       |  ROUND(res, 6) AS resolution, ROUND(unc, 6) AS uncertainty,
       |  ROUND(bs - (rel - res + unc), 6) AS decomp_gap
       |FROM t""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_ks: Kolmogorov–Smirnov separation of the positive and
  // negative score distributions — max_s |CDF_pos(s) − CDF_neg(s)| with
  // the score where the max is attained. The distribution-level view
  // the scalar AUC compresses away: KS is the best achievable
  // (TPR − FPR), so its argmax IS the Youden-optimal gate threshold,
  // and a small KS with a decent AUC flags a score that ranks but
  // never separates. Same score-grain histogram + bounded-domain
  // cumulative window as [[auc]]; the max is over identical rational
  // doubles (order-insensitive), and the reported threshold is min(p)
  // over the exact-equality argmax set — never an engine-defined
  // arg_max tie-break.
  def ks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // ONE scoring scan (same discipline as [[prSummary]]): totals and
    // the cumulative both read the materialized histogram
    val hist = scoreHist(spark, dir).localCheckpoint()
    val (np, nn) = histTotals(hist)
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(Seq.empty[(Long, Long, Long, Double, Double)])
        .toDF("n_pos", "n_neg", "n_scores", "ks", "ks_threshold")
    val w = Window.orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diffs = hist
      .withColumn("cumPos", sum($"pos").over(w))
      .withColumn("cumNeg", sum($"neg").over(w))
      .select($"p",
        abs($"cumPos".cast("double") / np.toDouble
          - $"cumNeg".cast("double") / nn.toDouble).as("diff"))
    val a = diffs.agg(max($"diff").as("ks"), count(lit(1)).as("ns")).head()
    val ksV = a.getAs[Double]("ks")
    val thr = diffs.filter($"diff" === ksV).agg(min($"p")).head().getDouble(0)
    spark.createDataFrame(Seq((np, nn, a.getAs[Long]("ns"),
      Exact.r6(ksV),
      Exact.r6(thr))))
      .toDF("n_pos", "n_neg", "n_scores", "ks", "ks_threshold")
  }

  val ksSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |h AS (
       |  SELECT p, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |tt AS (SELECT CAST(SUM(pos) AS BIGINT) AS np,
       |  CAST(SUM(neg) AS BIGINT) AS nn FROM h),
       |c AS (
       |  SELECT p,
       |    SUM(pos) OVER (ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumPos,
       |    SUM(neg) OVER (ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumNeg
       |  FROM h),
       |d AS (
       |  SELECT c.p,
       |    ABS(CAST(c.cumPos AS DOUBLE) / CAST(tt.np AS DOUBLE)
       |      - CAST(c.cumNeg AS DOUBLE) / CAST(tt.nn AS DOUBLE)) AS diff
       |  FROM c CROSS JOIN tt),
       |a AS (SELECT MAX(diff) AS ks, COUNT(*) AS ns FROM d)
       |SELECT tt.np AS n_pos, tt.nn AS n_neg,
       |  CAST(a.ns AS BIGINT) AS n_scores, ROUND(a.ks, 6) AS ks,
       |  ROUND((SELECT MIN(d.p) FROM d CROSS JOIN a a2 WHERE d.diff = a2.ks),
       |    6) AS ks_threshold
       |FROM tt CROSS JOIN a""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_confusion: the confusion matrix AND derived operating
  // metrics at the best-F1 gate (threshold from [[prSummary]], derived
  // identically) — the numbers a deployed curation gate is actually
  // monitored on: TP/FP/TN/FN, precision, recall, accuracy, and MCC
  // (the single balanced scalar that stays honest under class skew).
  // Closing the model-metrics loop: auc/pr/ks say the score CAN
  // separate; this says what the CHOSEN gate does. Counting happens at
  // the score-histogram grain (one conditional sum over the bounded
  // table, never per row). MCC's denominator is left in identical
  // √(product-of-doubles) form in both engines; a zero factor (a gate
  // that predicts one class only) reports mcc = 0 by documented
  // convention, never NaN.
  def confusion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = scoreHist(spark, dir).localCheckpoint()
    val (np, nn) = histTotals(hist)
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Double, Long, Long, Long, Long, Double,
          Double, Double, Double)])
        .toDF("n", "n_pos", "threshold", "tp", "fp", "tn", "fn",
          "precision", "recall", "accuracy", "mcc")
    val blocks = prBlocksFrom(hist, np)
    val bf = blocks.agg(max($"f1")).head().getDouble(0)
    val thr = blocks.filter($"f1" === bf).agg(min($"p")).head().getDouble(0)
    val m = hist.agg(
      sum(when($"p" >= thr, $"pos").otherwise(0L)).as("tp"),
      sum(when($"p" >= thr, $"neg").otherwise(0L)).as("fp")).head()
    val (tp, fp) = (m.getAs[Long]("tp"), m.getAs[Long]("fp"))
    val (fn, tn) = (np - tp, nn - fp)
    val n = np + nn
    val denom = math.sqrt((tp + fp).toDouble * (tp + fn).toDouble
      * (tn + fp).toDouble * (tn + fn).toDouble)
    val mcc = if (denom == 0.0) 0.0
      else (tp.toDouble * tn.toDouble - fp.toDouble * fn.toDouble) / denom
    spark.createDataFrame(Seq((
      n, np, Exact.r6(thr), tp, fp, tn, fn,
      Exact.r6(if (tp + fp == 0L) 0.0 else tp.toDouble / (tp + fp).toDouble),
      Exact.r6(tp.toDouble / np.toDouble),
      Exact.r6((tp + tn).toDouble / n.toDouble), Exact.r6(mcc))))
      .toDF("n", "n_pos", "threshold", "tp", "fp", "tn", "fn",
        "precision", "recall", "accuracy", "mcc")
  }

  val confusionSql: String =
    s"""WITH $prChainSql,
       |th AS (SELECT MIN(e.p) AS thr FROM e CROSS JOIN a WHERE e.f1 = a.bf),
       |cm AS (
       |  SELECT
       |    SUM(CASE WHEN h.p >= th.thr THEN h.pos ELSE 0 END) AS tp,
       |    SUM(CASE WHEN h.p >= th.thr THEN h.neg ELSE 0 END) AS fp,
       |    ANY_VALUE(th.thr) AS thr
       |  FROM h CROSS JOIN th),
       |x AS (
       |  SELECT tt.np + tt.nn AS n, tt.np AS np, cm.thr,
       |    cm.tp AS tp, cm.fp AS fp,
       |    tt.nn - cm.fp AS tn, tt.np - cm.tp AS fn
       |  FROM cm CROSS JOIN tt)
       |SELECT CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
       |  ROUND(thr, 6) AS threshold,
       |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
       |  ROUND(CASE WHEN tp + fp = 0 THEN 0.0
       |    ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END, 6)
       |    AS precision,
       |  ROUND(CAST(tp AS DOUBLE) / CAST(np AS DOUBLE), 6) AS recall,
       |  ROUND(CAST(tp + tn AS DOUBLE) / CAST(n AS DOUBLE), 6) AS accuracy,
       |  ROUND(CASE WHEN SQRT(CAST(tp + fp AS DOUBLE)
       |      * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE)
       |      * CAST(tn + fn AS DOUBLE)) = 0.0 THEN 0.0
       |    ELSE (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
       |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
       |      / SQRT(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |        * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) END, 6)
       |    AS mcc
       |FROM x""".stripMargin

  // --------------------------------------------------------------------
  // llm_models_youden: the ROC-side optimal operating point — the
  // threshold maximizing Youden's J = TPR − FPR (ties at the max →
  // smallest threshold, the confusion convention). The
  // class-prevalence-FREE companion to confusion's F1 argmax: F1 moves
  // with the positive rate, J does not, so when the deployment
  // corpus's quality mix differs from the probe corpus (always, at
  // 100 TB), J is the threshold that transfers. Balanced accuracy
  // (TPR + TNR)/2 reported at the chosen point.
  // Scale shape: identical to confusion — one scoring pass collapses
  // to the score histogram; the cumulative window and argmax run on
  // that bounded table; two driver .head() calls read 1-row
  // aggregates. Determinism: TPR/FPR are exact integer ratios in
  // double; the argmax tie-breaks by min threshold in both engines.
  def youden(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = scoreHist(spark, dir).localCheckpoint()
    val (np, nn) = histTotals(hist)
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Double, Double, Double, Double, Double)])
        .toDF("n", "n_pos", "threshold", "tpr", "fpr", "youden_j",
          "balanced_acc")
    val w = Window.orderBy($"p".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = hist
      .withColumn("cumPos", sum($"pos").over(w))
      .withColumn("cumAll", sum($"pos" + $"neg").over(w))
      .select($"p",
        ($"cumPos".cast("double") / np.toDouble).as("tpr"),
        (($"cumAll" - $"cumPos").cast("double") / nn.toDouble).as("fpr"))
      .withColumn("j", $"tpr" - $"fpr")
    val bj = pts.agg(max($"j")).head().getDouble(0)
    val best = pts.filter($"j" === bj)
      .orderBy($"p".asc).limit(1).head()
    val (tpr, fpr) = (best.getAs[Double]("tpr"), best.getAs[Double]("fpr"))
    spark.createDataFrame(Seq((
      np + nn, np, Exact.r6(best.getAs[Double]("p")), Exact.r6(tpr), Exact.r6(fpr),
      Exact.r6(tpr - fpr), Exact.r6((tpr + (1.0 - fpr)) / 2.0))))
      .toDF("n", "n_pos", "threshold", "tpr", "fpr", "youden_j",
        "balanced_acc")
  }

  val youdenSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |h AS (
       |  SELECT p, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |tt AS (SELECT CAST(SUM(pos) AS BIGINT) AS np,
       |  CAST(SUM(neg) AS BIGINT) AS nn FROM h),
       |c AS (
       |  SELECT p,
       |    SUM(pos) OVER (ORDER BY p DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumPos,
       |    SUM(pos + neg) OVER (ORDER BY p DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumAll
       |  FROM h),
       |pts AS (
       |  SELECT c.p,
       |    CAST(c.cumPos AS DOUBLE) / CAST(tt.np AS DOUBLE) AS tpr,
       |    CAST(c.cumAll - c.cumPos AS DOUBLE) / CAST(tt.nn AS DOUBLE)
       |      AS fpr
       |  FROM c CROSS JOIN tt),
       |jt AS (SELECT p, tpr, fpr, tpr - fpr AS j FROM pts),
       |bj AS (SELECT MAX(j) AS bj FROM jt),
       |best AS (
       |  SELECT jt.p, jt.tpr, jt.fpr, jt.j FROM jt CROSS JOIN bj
       |  WHERE jt.j = bj.bj ORDER BY jt.p ASC LIMIT 1)
       |SELECT CAST(tt.np + tt.nn AS BIGINT) AS n,
       |  CAST(tt.np AS BIGINT) AS n_pos,
       |  ROUND(b.p, 6) AS threshold, ROUND(b.tpr, 6) AS tpr,
       |  ROUND(b.fpr, 6) AS fpr, ROUND(b.j, 6) AS youden_j,
       |  ROUND((b.tpr + (1.0 - b.fpr)) / 2.0, 6) AS balanced_acc
       |FROM best b CROSS JOIN tt""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_learning_curve: the data-scaling audit — fit the SAME
  // 3-step probe on hash-selected 25/50/75/100% training slices and
  // evaluate each fit's sign-accuracy on the FULL corpus. The "is more
  // data still buying accuracy" question every curation budget hangs
  // on: a flat curve says the probe saturated and labeling/compute
  // should go elsewhere; a rising curve says the next data doubling
  // still pays. Slices nest (bucket < 25 ⊂ < 50 ⊂ …) via the same h60
  // hash-bucket device as the split/decontaminate ops, so the curve is
  // a real monotone-information comparison, not resampling noise.
  // Scale shape: 4 fits × (count + 3 gradient passes) + 4 evaluation
  // passes, every one a narrow scan with O(1) aggregate state over the
  // one materialized feature table. Determinism: identical to logreg
  // (Elliott link, DECIMAL gradient sums, sign decision rule).
  def learningCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // per-fraction fits stay live (they ARE the query's semantics);
    // only the scan+tokenize base comes from the shared artifact. The
    // narrow per-call materialize STAYS: the ~21 driver-loop actions
    // below each re-read their input, and reading a checkpointed
    // 4-column table beats re-projecting h60 buckets from the base per
    // action (measured: dropping it cost 1.32 -> 1.84 s isolated).
    val f = lrBase(spark, dir)
      .select((TextAnalysis.h60($"doc_id".cast("string")) % 100).as("bucket"),
        $"x1", $"x2", $"y").localCheckpoint()
    val nFull = f.count()
    if (nFull == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Double, Double, Double, Double)])
        .toDF("pct_train", "n_train", "accuracy", "w_chars", "w_words",
          "intercept")
    val rows = Seq(25L, 50L, 75L, 100L).flatMap { frac =>
      val tr = f.filter($"bucket" < frac)
      val nTr = tr.count()
      if (nTr == 0L) None
      else {
        val (w1, w2, b) = fitOn(tr)
        val zf = lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2"
        val acc = f.agg(
          sum(when((zf >= 0.0) === ($"y" === 1.0), 1L).otherwise(0L))
            .as("ok")).head().getAs[Long]("ok").toDouble / nFull.toDouble
        Some((frac, nTr, Exact.r6(acc), Exact.r6(w1), Exact.r6(w2), Exact.r6(b)))
      }
    }
    spark.createDataFrame(rows)
      .toDF("pct_train", "n_train", "accuracy", "w_chars", "w_words",
        "intercept")
  }

  val learningCurveSql: String = {
    // per-fraction unrolled chain with suffixed CTE names, trained on
    // the hash-bucket slice and evaluated on the full feature table
    def step(frac: Long, prevW: String, g: String, w: String): String = {
      val z = s"$prevW.b + $prevW.w1 * f.x1 + $prevW.w2 * f.x2"
      s"""$g AS (
         |  SELECT
         |    CAST(SUM(CAST((${sigSql(z)} - f.y) * f.x1 AS DECIMAL(28,12))) AS DOUBLE) AS g1,
         |    CAST(SUM(CAST((${sigSql(z)} - f.y) * f.x2 AS DECIMAL(28,12))) AS DOUBLE) AS g2,
         |    CAST(SUM(CAST((${sigSql(z)} - f.y) AS DECIMAL(28,12))) AS DOUBLE) AS gb,
         |    COUNT(*) AS n
         |  FROM (SELECT * FROM fb WHERE bucket < $frac) f
         |  CROSS JOIN $prevW $prevW),
         |$w AS (
         |  SELECT $prevW.w1 - $g.g1 / $g.n AS w1,
         |    $prevW.w2 - $g.g2 / $g.n AS w2,
         |    $prevW.b - $g.gb / $g.n AS b,
         |    $g.n AS n
         |  FROM $g CROSS JOIN $prevW $prevW)""".stripMargin
    }
    def chain(frac: Long): String =
      s"""w0_$frac AS (SELECT CAST(0.0 AS DOUBLE) AS w1,
         |  CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS b),
         |${step(frac, s"w0_$frac", s"g1s_$frac", s"w1s_$frac")},
         |${step(frac, s"w1s_$frac", s"g2s_$frac", s"w2s_$frac")},
         |${step(frac, s"w2s_$frac", s"g3s_$frac", s"w3s_$frac")},
         |m_$frac AS (
         |  SELECT CAST($frac AS BIGINT) AS pct_train,
         |    CAST(ANY_VALUE(w.n) AS BIGINT) AS n_train,
         |    ROUND(CAST(SUM(CASE WHEN ((w.b + w.w1 * f.x1 + w.w2 * f.x2)
         |        >= 0.0) = (f.y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
         |      / COUNT(*), 6) AS accuracy,
         |    ROUND(ANY_VALUE(w.w1), 6) AS w_chars,
         |    ROUND(ANY_VALUE(w.w2), 6) AS w_words,
         |    ROUND(ANY_VALUE(w.b), 6) AS intercept
         |  FROM fb f CROSS JOIN w3s_$frac w)""".stripMargin
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |fb AS (
       |  SELECT ${TextAnalysis.h60Sql("CAST(d.doc_id AS VARCHAR)")} % 100
       |      AS bucket,
       |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
       |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
       |      / CAST(100.0 AS DOUBLE) AS x2,
       |    CASE WHEN q.quality >= 0.5 THEN CAST(1.0 AS DOUBLE)
       |      ELSE CAST(0.0 AS DOUBLE) END AS y
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id),
       |${chain(25L)},
       |${chain(50L)},
       |${chain(75L)},
       |${chain(100L)}
       |SELECT * FROM m_25
       |UNION ALL SELECT * FROM m_50
       |UNION ALL SELECT * FROM m_75
       |UNION ALL SELECT * FROM m_100
       |ORDER BY pct_train""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_threshold_sweep: the full operating table of the quality
  // gate at nine fixed thresholds 0.1 … 0.9 — TP/FP counts, precision,
  // recall, F1 per row. The product-facing complement of
  // [[confusion]]'s single argmax point: a gate threshold is usually
  // negotiated against downstream capacity ("we can afford 40% of the
  // corpus"), and that negotiation needs the whole curve, not the F1
  // optimum. Computed as one conditional-sum pass of the 9-row literal
  // ladder against the bounded score histogram — the corpus is scanned
  // once for the histogram, then never again. Ratios guarded so a
  // threshold that predicts nothing reports 0, never NaN.
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = scoreHist(spark, dir).localCheckpoint()
    val (np, nn) = histTotals(hist)
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(
        Seq.empty[(Double, Long, Long, Double, Double, Double)])
        .toDF("threshold", "tp", "fp", "precision", "recall", "f1")
    val ladder = (1 to 9).map(_ / 10.0).toDF("threshold")
    ladder.crossJoin(hist)
      .groupBy($"threshold")
      .agg(sum(when($"p" >= $"threshold", $"pos").otherwise(0L)).as("tp"),
        sum(when($"p" >= $"threshold", $"neg").otherwise(0L)).as("fp"))
      .select($"threshold", $"tp", $"fp",
        round(when($"tp" + $"fp" === 0L, 0.0)
          .otherwise($"tp".cast("double") / ($"tp" + $"fp").cast("double")),
          6).as("precision"),
        round($"tp".cast("double") / lit(np.toDouble), 6).as("recall"),
        round(lit(2.0) * $"tp".cast("double")
          / (lit(np.toDouble) + ($"tp" + $"fp").cast("double")), 6)
          .as("f1"))
      .orderBy($"threshold")
  }

  val thresholdSweepSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |h AS (
       |  SELECT p, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |tt AS (SELECT CAST(SUM(pos) AS BIGINT) AS np FROM h),
       |ladder AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7,
       |  0.8, 0.9]) AS DOUBLE) AS threshold),
       |s AS (
       |  SELECT l.threshold,
       |    SUM(CASE WHEN h.p >= l.threshold THEN h.pos ELSE 0 END) AS tp,
       |    SUM(CASE WHEN h.p >= l.threshold THEN h.neg ELSE 0 END) AS fp
       |  FROM ladder l CROSS JOIN h GROUP BY l.threshold)
       |SELECT s.threshold, CAST(s.tp AS BIGINT) AS tp,
       |  CAST(s.fp AS BIGINT) AS fp,
       |  ROUND(CASE WHEN s.tp + s.fp = 0 THEN 0.0
       |    ELSE CAST(s.tp AS DOUBLE) / CAST(s.tp + s.fp AS DOUBLE) END, 6)
       |    AS precision,
       |  ROUND(CAST(s.tp AS DOUBLE) / CAST(tt.np AS DOUBLE), 6) AS recall,
       |  ROUND(2.0 * CAST(s.tp AS DOUBLE)
       |    / (CAST(tt.np AS DOUBLE) + CAST(s.tp + s.fp AS DOUBLE)), 6)
       |    AS f1
       |FROM s CROSS JOIN tt
       |ORDER BY threshold""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_mcnemar: paired-detector comparison — McNemar's test on
  // the correctness of the trained logreg probe (z >= 0) vs the Gopher
  // hard-rule gate, both judged against the quality label on the SAME
  // documents. The question a gate migration actually asks ("is the
  // probe BETTER than the rules, on paired data?") — marginal
  // accuracies alone can't answer it because the detectors share every
  // document; only the discordant pairs (probe-right/rules-wrong vs
  // rules-right/probe-wrong) carry signal, and that is exactly what
  // the statistic (|b-c|-1)²/(b+c), continuity-corrected and floored
  // at 0, consumes. Distinct from llm_ta_rater_agreement, which
  // measures AGREEMENT between gates ignoring the label.
  // Scale shape: one materialized corpus scan feeds the 3-step fit
  // (O(d) aggregate state per pass) and the single 2×2 conditional
  // aggregate — nothing corpus-sized shuffles. Determinism: the fit is
  // the shared [[fitOn]] arithmetic; the decision gates (z >= 0,
  // keep_g) and the chi² both run on raw doubles of integer counts,
  // identical forms in both engines; `significant` gates the RAW chi²
  // against the literal 3.8416 (never a folded 1.96*1.96).
  def mcnemar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // gopher emits exactly one keep flag per document, so the join is
    // 1:1 covering and the joined (x1,x2,y) multiset equals the corpus
    // — the shared lrWeights fit is bit-identical to the pre-r15
    // fit-after-join (verified hash-exact at sf0.01 and sf0.1)
    val feats = lrBase(spark, dir)
      .select($"doc_id", $"x1", $"x2", $"y")
      .join(TextAnalysis.taGopherRules(spark, dir)
        .select($"doc_id", $"keep".as("keep_g")), "doc_id")
      .select($"x1", $"x2", $"y", $"keep_g")
    val f = feats.localCheckpoint()
    if (f.isEmpty)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Long, Long, Long, Double, Double, Double, Long)])
        .toDF("n", "n_both", "n_probe_only", "n_gopher_only", "n_neither",
          "acc_probe", "acc_gopher", "chi2", "significant")
    val (w1, w2, b) = lrWeights(spark, dir)

    val z = lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2"
    val m = f.select(
        ((z >= 0.0) === ($"y" === 1.0)).as("a_ok"),
        ($"keep_g" === ($"y" === 1.0)).as("g_ok"))
      .agg(count(lit(1)).as("n"),
        sum(when($"a_ok" && $"g_ok", 1L).otherwise(0L)).as("n_both"),
        sum(when($"a_ok" && !$"g_ok", 1L).otherwise(0L)).as("n_probe_only"),
        sum(when(!$"a_ok" && $"g_ok", 1L).otherwise(0L)).as("n_gopher_only"),
        sum(when(!$"a_ok" && !$"g_ok", 1L).otherwise(0L)).as("n_neither"))
      .head()
    val n = m.getAs[Long]("n")
    val (nb, npo, ngo, nn) = (m.getAs[Long]("n_both"),
      m.getAs[Long]("n_probe_only"), m.getAs[Long]("n_gopher_only"),
      m.getAs[Long]("n_neither"))
    val disc = npo + ngo
    val chi2 =
      if (disc == 0L) 0.0
      else {
        val d = math.max(math.abs((npo - ngo).toDouble) - 1.0, 0.0)
        d * d / disc.toDouble
      }
    spark.createDataFrame(Seq((n, nb, npo, ngo, nn,
        Exact.r6((nb + npo).toDouble / n), Exact.r6((nb + ngo).toDouble / n),
        Exact.r6(chi2), if (chi2 > 3.8416) 1L else 0L)))
      .toDF("n", "n_both", "n_probe_only", "n_gopher_only", "n_neither",
        "acc_probe", "acc_gopher", "chi2", "significant")
  }

  val mcnemarSql: String = {
    val pre =
      s"""
         |gr AS (SELECT doc_id, keep FROM (${TextAnalysis.taGopherRulesSql})),""".stripMargin
    val fBody =
      """  SELECT
        |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
        |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
        |      / CAST(100.0 AS DOUBLE) AS x2,
        |    CASE WHEN q.quality >= 0.5 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS y,
        |    gr.keep AS keep_g
        |  FROM documents d JOIN q ON d.doc_id = q.doc_id
        |  JOIN gr ON d.doc_id = gr.doc_id""".stripMargin
    s"""WITH ${logregChainOverSql(pre, fBody)},
       |sc AS (
       |  SELECT
       |    ((w.b + w.w1 * f.x1 + w.w2 * f.x2) >= 0.0) = (f.y = 1.0) AS a_ok,
       |    (f.keep_g = (f.y = 1.0)) AS g_ok
       |  FROM f CROSS JOIN w3s w),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN a_ok AND g_ok THEN 1 ELSE 0 END) AS n_both,
       |    SUM(CASE WHEN a_ok AND NOT g_ok THEN 1 ELSE 0 END) AS n_probe_only,
       |    SUM(CASE WHEN NOT a_ok AND g_ok THEN 1 ELSE 0 END) AS n_gopher_only,
       |    SUM(CASE WHEN NOT a_ok AND NOT g_ok THEN 1 ELSE 0 END) AS n_neither
       |  FROM sc),
       |x AS (
       |  SELECT *, CASE WHEN n_probe_only + n_gopher_only = 0 THEN 0.0
       |    ELSE GREATEST(ABS(CAST(n_probe_only - n_gopher_only AS DOUBLE))
       |           - 1.0, 0.0)
       |       * GREATEST(ABS(CAST(n_probe_only - n_gopher_only AS DOUBLE))
       |           - 1.0, 0.0)
       |       / CAST(n_probe_only + n_gopher_only AS DOUBLE) END AS chi2_raw
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n, CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_probe_only AS BIGINT) AS n_probe_only,
       |  CAST(n_gopher_only AS BIGINT) AS n_gopher_only,
       |  CAST(n_neither AS BIGINT) AS n_neither,
       |  ROUND(CAST(n_both + n_probe_only AS DOUBLE) / n, 6) AS acc_probe,
       |  ROUND(CAST(n_both + n_gopher_only AS DOUBLE) / n, 6) AS acc_gopher,
       |  ROUND(chi2_raw, 6) AS chi2,
       |  CAST(CASE WHEN chi2_raw > 3.8416 THEN 1 ELSE 0 END AS BIGINT)
       |    AS significant
       |FROM x""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_psi: Population Stability Index of the quality-probe
  // score distribution per source vs the corpus baseline — the
  // model-ops drift monitor (the standard deployment-gate statistic:
  // PSI < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 shifted). A
  // source whose SCORE distribution drifts from the corpus is one the
  // gate treats systematically differently — the per-tenant fairness /
  // mix-shift audit that js_drift (term space) and calibration (score
  // vs label) don't give. PSI = Σ_bins (p_src − p_corpus)·ln(p_src/
  // p_corpus) over the same 10 equal-width score bins as calibration,
  // with both shares floored at the literal 1e-4 (the standard
  // zero-bin smoothing, identical in both engines).
  // Scale shape: the one materialized feature scan feeds the shared
  // 3-step fit (O(d) state), then ONE scoring pass collapses to the
  // (source × 10-bin) histogram; the dense grid, corpus marginals and
  // PSI are arithmetic on that source-bounded table. Determinism:
  // p < 1 by the Elliott link so floor(p·10) needs no edge bin; shares
  // are integer-over-integer doubles; each (Δp·ln-ratio) term is
  // DECIMAL(28,12)-routed; the verdict gates RAW psi vs 0.1/0.25
  // literals. PSI ≥ 0 by construction (sign(Δp) = sign(ln-ratio),
  // preserved under the common floor) — spec-checked.
  /** The scored (source, bin) rows under the shared fit — split out so
    * WaveTenSpec can recompute the PSI naively from the same binning. */
  private[graft] def psiScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = lrBase(spark, dir).select($"source", $"x1", $"x2", $"y")
    if (f.isEmpty)
      return spark.createDataFrame(Seq.empty[(String, Int)])
        .toDF("source", "bin")
    // the shared full-corpus fit: identical multiset, identical
    // order-insensitive gradient sums → identical weights bits
    val (w1, w2, b) = lrWeights(spark, dir)
    val p = sig(lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2")
    f.select($"source", floor(p * 10).cast("int").as("bin"))
  }

  def psi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = psiScored(spark, dir)
    if (scored.isEmpty)
      return spark.createDataFrame(Seq.empty[(String, Long, Double, String)])
        .toDF("source", "n_docs", "psi", "verdict")
    val srcBin = scored.groupBy($"source", $"bin").agg(count(lit(1)).as("c"))
    val corpus = srcBin.groupBy($"bin").agg(sum($"c").as("cc"))
    val srcTot = srcBin.groupBy($"source").agg(sum($"c").as("ns"))
    val tot = srcBin.agg(sum($"c").as("n"))
    val bins = spark.range(0, 10).select($"id".cast("int").as("bin"))
    val grid = srcTot.crossJoin(broadcast(bins))
      .join(broadcast(srcBin), Seq("source", "bin"), "left")
      .join(broadcast(corpus), Seq("bin"), "left")
      .crossJoin(broadcast(tot))
      .select($"source", $"ns",
        greatest(coalesce($"c", lit(0L)).cast("double") / $"ns", lit(1e-4))
          .as("ps"),
        greatest(coalesce($"cc", lit(0L)).cast("double") / $"n", lit(1e-4))
          .as("pc"))
    grid
      .select($"source", $"ns",
        (($"ps" - $"pc") * log($"ps" / $"pc"))
          .cast(DecimalType(28, 12)).as("t"))
      .groupBy($"source")
      .agg(max($"ns").as("n_docs"), sum($"t").cast("double").as("psi_raw"))
      .select($"source", $"n_docs", round($"psi_raw", 6).as("psi"),
        when($"psi_raw" < 0.1, lit("stable"))
          .when($"psi_raw" < 0.25, lit("moderate"))
          .otherwise(lit("shifted")).as("verdict"))
      .orderBy($"source")
  }

  val psiSql: String = {
    val fBody =
      """  SELECT d.source AS source,
        |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
        |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
        |      / CAST(100.0 AS DOUBLE) AS x2,
        |    CASE WHEN q.quality >= 0.5 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM documents d JOIN q ON d.doc_id = q.doc_id""".stripMargin
    s"""WITH ${logregChainOverSql("", fBody)},
       |sc AS (
       |  SELECT f.source,
       |    CAST(FLOOR(${sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")} * 10)
       |      AS INT) AS bin
       |  FROM f CROSS JOIN w3s w),
       |sb AS (SELECT source, bin, COUNT(*) AS c FROM sc GROUP BY 1, 2),
       |ct AS (SELECT bin, SUM(c) AS cc FROM sb GROUP BY 1),
       |st AS (SELECT source, SUM(c) AS ns FROM sb GROUP BY 1),
       |tot AS (SELECT SUM(c) AS n FROM sb),
       |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
       |grid AS (
       |  SELECT s.source, s.ns,
       |    GREATEST(CAST(COALESCE(sb.c, 0) AS DOUBLE) / s.ns,
       |      CAST(0.0001 AS DOUBLE)) AS ps,
       |    GREATEST(CAST(COALESCE(ct.cc, 0) AS DOUBLE) / t.n,
       |      CAST(0.0001 AS DOUBLE)) AS pc
       |  FROM st s CROSS JOIN bins b
       |  LEFT JOIN sb ON sb.source = s.source AND sb.bin = b.bin
       |  LEFT JOIN ct ON ct.bin = b.bin
       |  CROSS JOIN tot t),
       |a AS (
       |  SELECT source, MAX(ns) AS n_docs,
       |    CAST(SUM(CAST((ps - pc) * LN(ps / pc) AS DECIMAL(28,12)))
       |      AS DOUBLE) AS psi_raw
       |  FROM grid GROUP BY 1)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  ROUND(psi_raw, 6) AS psi,
       |  CASE WHEN psi_raw < 0.1 THEN 'stable'
       |    WHEN psi_raw < 0.25 THEN 'moderate'
       |    ELSE 'shifted' END AS verdict
       |FROM a ORDER BY source""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_hosmer: Hosmer–Lemeshow goodness-of-fit test of the
  // quality probe — per equal-width score bin, observed vs expected
  // positives and the HL chi² term (O−E)²/(E·(1−E/n)); the TOTAL gates
  // a calibrated/miscalibrated verdict at χ²₀.₉₅ with df = g−2 where
  // g is the OCCUPIED bin count (literal critical-value table, both
  // engines). The hypothesis-test companion to llm_models_calibration:
  // the reliability curve SHOWS the deviation, HL says whether it is
  // statistically real at this corpus size — the number a gate
  // recalibration is triggered on.
  // Scale shape: one scoring pass over the materialized feature table
  // collapses to the ≤10-row bin table (partial-aggregable); the chi²
  // and verdict are arithmetic on that bounded table. Determinism:
  // bin = floor(p·10) on bit-identical p (Elliott link, p ∈ (0,1));
  // Σp routes through DECIMAL(28,12); E ∈ (0,n) strictly (0 < p < 1),
  // so the denominator is never 0; the verdict gates the RAW total vs
  // the df-selected literal critical value.
  def hosmer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scored = aucScored(spark, dir)
    if (scored.isEmpty)
      return spark.createDataFrame(
        Seq.empty[(Int, Long, Long, Double, Double, Double, String)])
        .toDF("bin", "n", "obs_pos", "exp_pos", "hl_term", "hl_total",
          "verdict")
    val bins = scored
      .groupBy(floor($"p" * 10).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum($"y".cast("long")).as("obs_pos"),
        Exact.sum($"p").as("exp_pos"))
    val terms = bins.select($"bin", $"n", $"obs_pos", $"exp_pos",
      (($"obs_pos".cast("double") - $"exp_pos")
        * ($"obs_pos".cast("double") - $"exp_pos")
        / ($"exp_pos" * (lit(1.0) - $"exp_pos" / $"n"))).as("term"))
    // HL df = g − 2 where g is the OCCUPIED bin count (groups only
    // form where floor(p·10) has rows — data-dependent, 10 on this
    // fixture but not guaranteed). χ²₀.₉₅ literal table for df 1..8;
    // g < 3 (df < 1) leaves the test undefined → 'calibrated' by
    // convention (too few bins to reject). Oracle mirrors exactly.
    val tot = terms
      .agg(Exact.sum($"term").as("hl"),
        count(lit(1)).as("g"))
      .select($"hl", $"g",
        when($"g" - 2 === 1, 3.8415).when($"g" - 2 === 2, 5.9915)
          .when($"g" - 2 === 3, 7.8147).when($"g" - 2 === 4, 9.4877)
          .when($"g" - 2 === 5, 11.0705).when($"g" - 2 === 6, 12.5916)
          .when($"g" - 2 === 7, 14.0671).otherwise(15.5073).as("crit"))
    terms.crossJoin(broadcast(tot))
      .select($"bin", $"n", $"obs_pos",
        round($"exp_pos", 6).as("exp_pos"),
        round($"term", 6).as("hl_term"),
        round($"hl", 6).as("hl_total"),
        when($"g" >= 3 && $"hl" > $"crit", lit("miscalibrated"))
          .otherwise(lit("calibrated")).as("verdict"))
      .orderBy($"bin")
  }

  val hosmerSql: String =
    s"""WITH $logregChainSql,
       |sc AS (
       |  SELECT ${sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")} AS p, f.y
       |  FROM f CROSS JOIN w3s w),
       |bins AS (
       |  SELECT CAST(FLOOR(p * 10) AS INT) AS bin, COUNT(*) AS n,
       |    CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS obs_pos,
       |    CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) AS exp_pos
       |  FROM sc GROUP BY 1),
       |terms AS (
       |  SELECT bin, n, obs_pos, exp_pos,
       |    (CAST(obs_pos AS DOUBLE) - exp_pos)
       |      * (CAST(obs_pos AS DOUBLE) - exp_pos)
       |      / (exp_pos * (1.0 - exp_pos / n)) AS term
       |  FROM bins),
       |x AS (
       |  SELECT CAST(SUM(CAST(term AS DECIMAL(28,12))) AS DOUBLE) AS hl,
       |    COUNT(*) AS g,
       |    CASE COUNT(*) - 2 WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915
       |      WHEN 3 THEN 7.8147 WHEN 4 THEN 9.4877 WHEN 5 THEN 11.0705
       |      WHEN 6 THEN 12.5916 WHEN 7 THEN 14.0671
       |      ELSE 15.5073 END AS crit
       |  FROM terms)
       |SELECT t.bin, CAST(t.n AS BIGINT) AS n,
       |  CAST(t.obs_pos AS BIGINT) AS obs_pos,
       |  ROUND(t.exp_pos, 6) AS exp_pos,
       |  ROUND(t.term, 6) AS hl_term,
       |  ROUND(x.hl, 6) AS hl_total,
       |  CASE WHEN x.g >= 3 AND x.hl > x.crit THEN 'miscalibrated'
       |    ELSE 'calibrated' END AS verdict
       |FROM terms t CROSS JOIN x
       |ORDER BY t.bin""".stripMargin

  // --------------------------------------------------------------------
  // llm_models_gains: cumulative gains table of the quality probe at
  // capacity cuts {1,5,10,25,50}% — "if the pipeline can only afford
  // to keep the top k% of documents, what does the gate capture":
  // per cut, the kept count (first score-histogram crossing ≥ the
  // ceil(k·N/100) target — ties at one score are kept all-or-nothing,
  // so kept ≥ target by at most one score class), the positives
  // captured, precision, recall, and lift over the base rate. The
  // capacity-first view of the gate: threshold_sweep prices fixed
  // thresholds, confusion prices the F1-argmax point; a budgeted
  // curation run is planned from THIS table.
  // Scale shape: one scoring pass → the score histogram (the pr/ks
  // device), materialized; the descending cumulative window and the
  // 5-literal-cut join run over that bounded table. Determinism: all
  // counts integer; the crossing is min_by over a strictly-increasing
  // cumulative key; targets are integer ceil-division in both engines.
  def gains(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = scoreHist(spark, dir).localCheckpoint()
    if (hist.isEmpty)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Long, Long, Double, Double, Double, Double)])
        .toDF("cut_pct", "target", "n_kept", "pos_captured", "threshold",
          "precision", "recall", "lift")
    val w = Window.orderBy($"p".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("ck", sum($"pos" + $"neg").over(w))
      .withColumn("cp", sum($"pos").over(w))
      .select($"p", $"ck", $"cp")
    val tot = hist.agg(sum($"pos" + $"neg").as("n"), sum($"pos").as("np"))
    val cuts = Seq(1L, 5L, 10L, 25L, 50L).toDF("cut_pct")
      .crossJoin(broadcast(tot))
      .select($"cut_pct", $"n", $"np",
        expr("(n * cut_pct + 99) div 100").as("target"))
    cum.join(broadcast(cuts), $"ck" >= $"target")
      .groupBy($"cut_pct", $"target", $"n", $"np")
      .agg(min($"ck").as("n_kept"),
        min_by($"cp", $"ck").as("pos_captured"),
        min_by($"p", $"ck").as("thr"))
      .select($"cut_pct", $"target", $"n_kept", $"pos_captured",
        round($"thr", 6).as("threshold"),
        round($"pos_captured".cast("double") / $"n_kept", 6)
          .as("precision"),
        round(when($"np" === 0, 0.0)
          .otherwise($"pos_captured".cast("double") / $"np"), 6)
          .as("recall"),
        round(when($"np" === 0, 0.0)
          .otherwise(($"pos_captured".cast("double") / $"n_kept")
            / ($"np".cast("double") / $"n")), 6).as("lift"))
      .orderBy($"cut_pct")
  }

  val gainsSql: String =
    s"""WITH $logregChainSql,
       |sc AS (
       |  SELECT ${sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")} AS p, f.y
       |  FROM f CROSS JOIN w3s w),
       |hist AS (
       |  SELECT p, SUM(CAST(y AS BIGINT)) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |cum AS (
       |  SELECT p,
       |    SUM(pos + neg) OVER (ORDER BY p DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ck,
       |    SUM(pos) OVER (ORDER BY p DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
       |  FROM hist),
       |tot AS (SELECT SUM(pos + neg) AS n, SUM(pos) AS np FROM hist),
       |cuts AS (
       |  SELECT c.cut_pct, t.n, t.np,
       |    (t.n * c.cut_pct + 99) // 100 AS target
       |  FROM (SELECT unnest([1, 5, 10, 25, 50]) AS cut_pct) c
       |  CROSS JOIN tot t),
       |x AS (
       |  SELECT c.cut_pct, c.target, c.n, c.np,
       |    MIN(m.ck) AS n_kept,
       |    MIN_BY(m.cp, m.ck) AS pos_captured,
       |    MIN_BY(m.p, m.ck) AS thr
       |  FROM cum m JOIN cuts c ON m.ck >= c.target
       |  GROUP BY c.cut_pct, c.target, c.n, c.np)
       |SELECT CAST(cut_pct AS BIGINT) AS cut_pct,
       |  CAST(target AS BIGINT) AS target,
       |  CAST(n_kept AS BIGINT) AS n_kept,
       |  CAST(pos_captured AS BIGINT) AS pos_captured,
       |  ROUND(thr, 6) AS threshold,
       |  ROUND(CAST(pos_captured AS DOUBLE) / n_kept, 6) AS precision,
       |  ROUND(CASE WHEN np = 0 THEN 0.0
       |    ELSE CAST(pos_captured AS DOUBLE) / np END, 6) AS recall,
       |  ROUND(CASE WHEN np = 0 THEN 0.0
       |    ELSE (CAST(pos_captured AS DOUBLE) / n_kept)
       |      / (CAST(np AS DOUBLE) / n) END, 6) AS lift
       |FROM x ORDER BY cut_pct""".stripMargin

  // --------------------------------------------------------------------
  // llm_models_bootstrap_auc: Poisson-bootstrap confidence interval on
  // the probe's AUC — B = 16 deterministic hash-replicates (the
  // llm_sample_bootstrap weight device: w ~ Poisson(1) from
  // h60(doc_id '#b' rep), Sampling.PoisCdf literals), each replicate's
  // AUC computed by the weighted Mann-Whitney histogram form, then
  // mean / sd / the exact ⌈0.05B⌉-th and ⌈0.95B⌉-th order statistics
  // (= min and max at B = 16) over the replicate AUCs. The error bar on the
  // headline metric: llm_models_auc says 0.87, this says whether that
  // is 0.87 ± 0.005 or ± 0.08 — the difference between a defensible
  // gate and noise at this corpus size.
  // Scale shape: ONE scoring pass explodes ×B (linear, the standard
  // bootstrap cost) and collapses to the (rep × score-class) weighted
  // histogram — partial-aggregable; the per-replicate cumulative runs
  // over that bounded table partitioned by rep; the final stats are
  // arithmetic on B rows. Determinism: weights/counts integer; the
  // per-rep AUC is the exact integer num over 2·np·nn as in
  // llm_models_auc; order stats index a total (auc, rep) sort.
  private val BootB = 16

  /** The scored (doc_id, p, y) corpus under the shared fit — split out
    * so WaveTenSpec can recompute the replicate weights and AUCs. */
  private[graft] def bootScored(spark: SparkSession,
                                dir: String): DataFrame = {
    import spark.implicits._
    val f = lrBase(spark, dir).select($"doc_id", $"x1", $"x2", $"y")
    if (f.isEmpty)
      return spark.createDataFrame(Seq.empty[(Long, Double, Double)])
        .toDF("doc_id", "p", "y")
    val (w1, w2, b) = lrWeights(spark, dir)
    f.select($"doc_id",
      sig(lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2").as("p"), $"y")
  }

  /** The (rep × score-class) weighted histogram — split out so
    * PlanSpec can assert the explode/partial-agg shape. */
  private[graft] def bootRepHist(spark: SparkSession,
                                 dir: String): DataFrame = {
    import spark.implicits._
    val u = (TextAnalysis.h60(concat($"doc_id".cast("string"), lit("#b"),
      $"rep".cast("string"))) % 1000000).cast("double") / 1000000.0
    val wCol = Sampling.PoisCdf.zipWithIndex
      .foldRight(lit(Sampling.PoisCdf.size): org.apache.spark.sql.Column) {
        case ((cdf, k), els) => when(u < lit(cdf.toDouble), k).otherwise(els)
      }
    bootScored(spark, dir)
      .select($"p", $"y", $"doc_id",
        explode(sequence(lit(0), lit(BootB - 1))).as("rep"))
      .select($"rep", $"p", $"y", wCol.cast("long").as("w"))
      .groupBy($"rep", $"p")
      .agg(sum(when($"y" === 1.0, $"w").otherwise(0L)).as("pos"),
        sum(when($"y" === 0.0, $"w").otherwise(0L)).as("neg"))
  }

  def bootstrapAuc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = bootRepHist(spark, dir)
    if (hist.isEmpty)
      return spark.createDataFrame(
        Seq.empty[(Long, Double, Double, Double, Double)])
        .toDF("n_reps", "boot_mean", "boot_sd", "boot_p5", "boot_p95")
    val wd = Window.partitionBy($"rep").orderBy($"p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val terms = hist
      .withColumn("cumNeg", sum($"neg").over(wd))
      .select($"rep", $"pos", $"neg",
        ($"pos" * (($"cumNeg" - $"neg") * 2L + $"neg"))
          .cast(DecimalType(38, 0)).as("t"))
    val reps = terms.groupBy($"rep")
      .agg(sum($"t").as("num"),
        sum($"pos").as("np"), sum($"neg").as("nn"))
      .select($"rep",
        when($"np" === 0 || $"nn" === 0, 0.0)
          .otherwise($"num".cast("double")
            / ($"np" * $"nn" * 2L).cast("double")).as("auc"))
      .collect().map(r => r.getDouble(1)).sorted
    val bN = reps.length
    // double division AFTER the exact decimal fold — the same
    // (CAST(SUM(decimal) AS DOUBLE) / n) order the oracle runs
    val mean = reps.map(Exact.dec(_, 12)).sum.toDouble / bN
    val sd =
      if (bN <= 1) 0.0
      else math.sqrt(math.max(
        reps.map(a => Exact.dec((a - mean) * (a - mean), 12)).sum.toDouble
          / (bN - 1), 0.0))
    spark.createDataFrame(Seq((bN.toLong, Exact.r6(mean), Exact.r6(sd),
      Exact.r6(reps(math.ceil(0.05 * bN).toInt - 1)),
      Exact.r6(reps(math.ceil(0.95 * bN).toInt - 1)))))
      .toDF("n_reps", "boot_mean", "boot_sd", "boot_p5", "boot_p95")
  }

  val bootstrapAucSql: String = {
    val fBody =
      """  SELECT d.doc_id AS doc_id,
        |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
        |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
        |      / CAST(100.0 AS DOUBLE) AS x2,
        |    CASE WHEN q.quality >= 0.5 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM documents d JOIN q ON d.doc_id = q.doc_id""".stripMargin
    val u = s"CAST(${TextAnalysis.h60Sql(
      "CAST(f.doc_id AS VARCHAR) || '#b' || f.rep")} % 1000000 AS DOUBLE)" +
      " / CAST(1000000.0 AS DOUBLE)"
    val wExpr = Sampling.PoisCdf.zipWithIndex.reverse
      .foldLeft(s"${Sampling.PoisCdf.size}") { case (els, (cdf, k)) =>
        s"CASE WHEN u < CAST($cdf AS DOUBLE) THEN $k ELSE $els END"
      }
    s"""WITH ${logregChainOverSql("", fBody)},
       |sc AS (
       |  SELECT f.doc_id,
       |    ${sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")} AS p, f.y
       |  FROM f CROSS JOIN w3s w),
       |ru AS (
       |  SELECT f.rep, f.p, f.y, $u AS u
       |  FROM (SELECT sc.*, unnest(range(0, $BootB)) AS rep FROM sc) f),
       |ww AS (SELECT rep, p, y, CAST($wExpr AS BIGINT) AS w FROM ru),
       |hist AS (
       |  SELECT rep, p,
       |    SUM(CASE WHEN y = 1.0 THEN w ELSE 0 END) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN w ELSE 0 END) AS neg
       |  FROM ww GROUP BY 1, 2),
       |terms AS (
       |  SELECT rep, pos, neg,
       |    CAST(pos * ((SUM(neg) OVER (PARTITION BY rep ORDER BY p
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - neg)
       |      * 2 + neg) AS DECIMAL(38,0)) AS t
       |  FROM hist),
       |reps AS (
       |  SELECT rep,
       |    CASE WHEN SUM(pos) = 0 OR SUM(neg) = 0 THEN 0.0
       |      ELSE CAST(SUM(t) AS DOUBLE)
       |        / CAST(SUM(pos) * SUM(neg) * 2 AS DOUBLE) END AS auc
       |  FROM terms GROUP BY rep),
       |ranked AS (
       |  SELECT auc, ROW_NUMBER() OVER (ORDER BY auc, rep) AS rn,
       |    COUNT(*) OVER () AS bn
       |  FROM reps),
       |m AS (
       |  SELECT COUNT(*) AS bn,
       |    CAST(SUM(CAST(auc AS DECIMAL(28,12))) AS DOUBLE)
       |      / COUNT(*) AS mean
       |  FROM reps),
       |s AS (
       |  SELECT CASE WHEN m.bn <= 1 THEN 0.0
       |    ELSE SQRT(GREATEST(CAST(SUM(CAST((r.auc - m.mean)
       |      * (r.auc - m.mean) AS DECIMAL(28,12))) AS DOUBLE)
       |      / (m.bn - 1), 0.0)) END AS sd
       |  FROM reps r CROSS JOIN m GROUP BY m.bn)
       |SELECT CAST(m.bn AS BIGINT) AS n_reps,
       |  ROUND(m.mean, 6) AS boot_mean,
       |  ROUND(s.sd, 6) AS boot_sd,
       |  ROUND((SELECT auc FROM ranked
       |    WHERE rn = CAST(CEIL(0.05 * bn) AS BIGINT)), 6) AS boot_p5,
       |  ROUND((SELECT auc FROM ranked
       |    WHERE rn = CAST(CEIL(0.95 * bn) AS BIGINT)), 6) AS boot_p95
       |FROM m CROSS JOIN s""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_cost_curve: cost-sensitive operating points — for each
  // false-negative:false-positive cost ratio in {1, 2, 5, 10}, the
  // threshold that MINIMIZES total cost fp + ratio·fn over every
  // possible cut of the score distribution, with its confusion counts
  // and normalized cost. The decision-theoretic complement of
  // [[thresholdSweep]] (the curve at fixed thresholds) and [[youden]]/
  // [[confusion]] (statistically-optimal single points): a curation
  // gate where letting bad documents through costs 10× more than
  // discarding good ones operates at a DIFFERENT threshold than the
  // F1 optimum, and this table says which one. The candidate cuts are
  // every distinct score plus the predict-nothing sentinel (1.0 —
  // sigmoid scores are < 1), so the minimum is exact, not grid-bound.
  // Scale shape: one scoring scan collapses to the bounded score
  // histogram; cumulative cuts, the ×4 ratio grid, argmin, and the
  // count re-attach all run at score grain. Determinism: integer
  // costs; the threshold is MIN(p) over the exact-equality argmin set
  // (identical doubles ⇒ identical set in both engines).
  def costCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val hist = scoreHist(spark, dir).localCheckpoint()
    val (np, nn) = histTotals(hist)
    if (np == 0L || nn == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Double, Long, Long, Long, Long, Long, Double)])
        .toDF("cost_ratio", "threshold", "tp", "fp", "tn", "fn",
          "total_cost", "cost_per_item")
    val w = Window.orderBy($"p".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cuts = hist
      .withColumn("tp", sum($"pos").over(w))
      .withColumn("fp", sum($"neg").over(w))
      .select($"p", $"tp", $"fp")
      .unionAll(Seq((1.0, 0L, 0L)).toDF("p", "tp", "fp"))
      .withColumn("fn", lit(np) - $"tp")
      .withColumn("tn", lit(nn) - $"fp")
    val ratios = Seq(1L, 2L, 5L, 10L).toDF("cost_ratio")
    val costs = cuts.crossJoin(broadcast(ratios))
      .withColumn("cost", $"fp" + $"cost_ratio" * $"fn")
    val best = costs.groupBy($"cost_ratio").agg(min($"cost").as("best_cost"))
    val sel = costs.join(broadcast(best), "cost_ratio")
      .filter($"cost" === $"best_cost")
      .groupBy($"cost_ratio").agg(min($"p").as("thr"))
    sel.join(cuts, sel("thr") === cuts("p"))
      .select($"cost_ratio", round($"thr", 6).as("threshold"),
        $"tp", $"fp", $"tn", $"fn",
        ($"fp" + $"cost_ratio" * $"fn").as("total_cost"),
        round(($"fp" + $"cost_ratio" * $"fn").cast("double")
          / (np + nn).toDouble, 6).as("cost_per_item"))
      .orderBy($"cost_ratio")
  }

  val costCurveSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |sc AS (SELECT $p AS p, f.y AS y FROM f CROSS JOIN w3s w),
       |h AS (
       |  SELECT p, CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS pos,
       |    SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS neg
       |  FROM sc GROUP BY p),
       |tt AS (SELECT CAST(SUM(pos) AS BIGINT) AS np,
       |  CAST(SUM(neg) AS BIGINT) AS nn FROM h),
       |cc0 AS (SELECT p,
       |    CAST(SUM(pos) OVER (ORDER BY p DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
       |    CAST(SUM(neg) OVER (ORDER BY p DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
       |  FROM h
       |  UNION ALL SELECT CAST(1.0 AS DOUBLE), CAST(0 AS BIGINT),
       |    CAST(0 AS BIGINT)),
       |ccx AS (SELECT cc0.p, cc0.tp, cc0.fp, tt.np - cc0.tp AS fn,
       |    tt.nn - cc0.fp AS tn
       |  FROM cc0 CROSS JOIN tt),
       |gg AS (SELECT CAST(unnest([1, 2, 5, 10]) AS BIGINT) AS cost_ratio),
       |ccosts AS (SELECT gg.cost_ratio, ccx.p, ccx.tp, ccx.fp, ccx.tn,
       |    ccx.fn, ccx.fp + gg.cost_ratio * ccx.fn AS cost
       |  FROM ccx CROSS JOIN gg),
       |bb AS (SELECT cost_ratio, MIN(cost) AS best_cost
       |  FROM ccosts GROUP BY cost_ratio),
       |ss AS (SELECT c.cost_ratio, MIN(c.p) AS thr
       |  FROM ccosts c JOIN bb ON c.cost_ratio = bb.cost_ratio
       |    AND c.cost = bb.best_cost
       |  GROUP BY c.cost_ratio)
       |SELECT ss.cost_ratio, ROUND(ss.thr, 6) AS threshold,
       |  x.tp, x.fp, x.tn, x.fn,
       |  CAST(x.fp + ss.cost_ratio * x.fn AS BIGINT) AS total_cost,
       |  ROUND(CAST(x.fp + ss.cost_ratio * x.fn AS DOUBLE)
       |    / (tt.np + tt.nn), 6) AS cost_per_item
       |FROM ss JOIN ccx x ON ss.thr = x.p CROSS JOIN tt
       |ORDER BY cost_ratio""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_fairness_audit: per-language operating metrics of the
  // trained quality probe at its natural z ≥ 0 gate (= p ≥ 0.5, the
  // prevalence-free decision) — the dataset-bias audit a curation gate
  // must pass before deployment: a classifier with equal global
  // accuracy can still select one language at twice the rate of
  // another (demographic-parity gap) or miss true-quality docs of one
  // language disproportionately (TPR gap = equalized-odds violation).
  // Per lang: n, positives, selected count, selection rate, TPR, FPR,
  // and the parity gap vs the corpus-wide selection rate. The fit is
  // the EXACT [[logregFit]] weights (the lang rider is inert for the
  // gradient — same rows, same sums), so this audits the same model
  // every other models_* metric scores.
  // Scale shape: one scoring scan partial-aggregates to the bounded
  // lang grain; the corpus-wide rate reduces over THAT table and
  // broadcasts back. Determinism: all cells are exact integer counts;
  // every reported rate is a ratio of integers in double; zero
  // denominators (a lang with no positives / no negatives) report 0.0
  // by the confusion convention.
  def fairnessAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = lrBase(spark, dir).select($"lang", $"x1", $"x2", $"y")
    val (w1, w2, b) = lrWeights(spark, dir)
    val z = lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2"
    val g = f.select($"lang", $"y", when(z >= 0.0, 1L).otherwise(0L).as("yhat"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum(when($"y" === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum($"yhat").as("n_sel"),
        sum(when($"yhat" === 1L && $"y" === 1.0, 1L).otherwise(0L)).as("tp"),
        sum(when($"yhat" === 1L && $"y" === 0.0, 1L).otherwise(0L)).as("fp")).localCheckpoint()
    val t = g.agg(sum($"n").as("tn"), sum($"n_sel").as("ts")).head()
    val overallSel = t.getAs[Long]("ts").toDouble / t.getAs[Long]("tn")
    g.select($"lang", $"n", $"n_pos", $"n_sel",
        round($"n_sel".cast("double") / $"n", 6).as("sel_rate"),
        round(when($"n_pos" > 0, $"tp".cast("double") / $"n_pos")
          .otherwise(0.0), 6).as("tpr"),
        round(when($"n" - $"n_pos" > 0,
          $"fp".cast("double") / ($"n" - $"n_pos"))
          .otherwise(0.0), 6).as("fpr"),
        round($"n_sel".cast("double") / $"n" - overallSel, 6)
          .as("parity_gap"))
      .orderBy($"lang")
  }

  val fairnessAuditSql: String = {
    val fBody =
      """  SELECT d.lang AS lang,
        |    d.n_chars / CAST(1000.0 AS DOUBLE) AS x1,
        |    (LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1)
        |      / CAST(100.0 AS DOUBLE) AS x2,
        |    CASE WHEN q.quality >= 0.5 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM documents d JOIN q ON d.doc_id = q.doc_id""".stripMargin
    s"""WITH ${logregChainOverSql("", fBody)},
       |sc AS (
       |  SELECT f.lang, f.y,
       |    CASE WHEN (w.b + w.w1 * f.x1 + w.w2 * f.x2) >= 0.0
       |      THEN 1 ELSE 0 END AS yhat
       |  FROM f CROSS JOIN w3s w),
       |g AS (
       |  SELECT lang, COUNT(*) AS n,
       |    SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS n_pos,
       |    SUM(yhat) AS n_sel,
       |    SUM(CASE WHEN yhat = 1 AND y = 1.0 THEN 1 ELSE 0 END) AS tp,
       |    SUM(CASE WHEN yhat = 1 AND y = 0.0 THEN 1 ELSE 0 END) AS fp
       |  FROM sc GROUP BY lang),
       |t AS (SELECT CAST(SUM(n_sel) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
       |    AS osel FROM g)
       |SELECT g.lang AS lang, CAST(g.n AS BIGINT) AS n,
       |  CAST(g.n_pos AS BIGINT) AS n_pos,
       |  CAST(g.n_sel AS BIGINT) AS n_sel,
       |  ROUND(CAST(g.n_sel AS DOUBLE) / g.n, 6) AS sel_rate,
       |  ROUND(CASE WHEN g.n_pos > 0
       |      THEN CAST(g.tp AS DOUBLE) / g.n_pos ELSE 0.0 END, 6) AS tpr,
       |  ROUND(CASE WHEN g.n - g.n_pos > 0
       |      THEN CAST(g.fp AS DOUBLE) / (g.n - g.n_pos) ELSE 0.0 END, 6)
       |    AS fpr,
       |  ROUND(CAST(g.n_sel AS DOUBLE) / g.n - t.osel, 6) AS parity_gap
       |FROM g CROSS JOIN t ORDER BY lang""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_models_ece: expected + maximum calibration error of the trained
  // quality probe — the single-number summary of [[calibration]]'s
  // reliability curve (ECE = Σ (n_b/N)·|mean_pred_b − pos_rate_b| over
  // the same 10 equal-width bins; MCE = the worst bin's gap). THE
  // monitoring scalar for a deployed probability gate: calibration
  // shows the curve once, ECE is what a pipeline dashboard thresholds
  // every snapshot. Binning is byte-identical to [[calibration]]
  // (same fit, same Elliott link, same floor(p·10) index), so the two
  // queries can never disagree about which bin a document is in.
  // Scale shape: one scoring scan partial-aggregates to ≤ 10 bins;
  // the ECE reduce runs on that table. Determinism: per-bin means are
  // DECIMAL-routed rational doubles; the cross-bin weighted-gap sum is
  // DECIMAL-routed again (order-insensitive); MCE is a max (order-free).
  def ece(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (f, w1, w2, b) = logregFit(spark, dir)
    val p = sig(lit(b) + lit(w1) * $"x1" + lit(w2) * $"x2")
    val bins = f.select(p.as("p"), $"y")
      .select(least(floor($"p" * 10).cast("int"), lit(9)).as("bin"),
        $"p", $"y")
      .groupBy($"bin")
      .agg(count(lit(1)).as("nb"),
        Exact.sum($"p").as("sp"), Exact.sum($"y").as("sy"))
    bins.agg(sum($"nb").as("n"), count(lit(1)).as("n_bins"),
        Exact.sum($"nb" * abs($"sp" / $"nb" - $"sy" / $"nb")).as("gsum"),
        max(abs($"sp" / $"nb" - $"sy" / $"nb")).as("mx"))
      .select($"n", $"n_bins",
        round($"gsum" / $"n", 6).as("ece"),
        round($"mx", 6).as("mce"))
  }

  val eceSql: String = {
    val p = sigSql("w.b + w.w1 * f.x1 + w.w2 * f.x2")
    s"""WITH $logregChainSql,
       |s AS (
       |  SELECT LEAST(CAST(FLOOR($p * 10) AS INT), 9) AS bin,
       |    $p AS p, f.y AS y
       |  FROM f CROSS JOIN w3s w),
       |bi AS (SELECT bin, COUNT(*) AS nb,
       |    CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) AS sp,
       |    CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy
       |  FROM s GROUP BY bin),
       |a AS (SELECT CAST(SUM(nb) AS BIGINT) AS n,
       |    COUNT(*) AS n_bins,
       |    CAST(SUM(CAST(nb * ABS(sp / nb - sy / nb) AS DECIMAL(28,12)))
       |      AS DOUBLE) AS gsum,
       |    MAX(ABS(sp / nb - sy / nb)) AS mx
       |  FROM bi)
       |SELECT n, CAST(n_bins AS BIGINT) AS n_bins,
       |  ROUND(gsum / n, 6) AS ece, ROUND(mx, 6) AS mce
       |FROM a""".stripMargin
  }

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "llm_models_ece" -> (ece _, eceSql),
    "llm_models_cost_curve" -> (costCurve _, costCurveSql),
    "llm_models_bootstrap_auc" -> (bootstrapAuc _, bootstrapAucSql),
    "llm_models_gains" -> (gains _, gainsSql),
    "llm_models_hosmer" -> (hosmer _, hosmerSql),
    "llm_models_psi" -> (psi _, psiSql),
    "llm_models_mcnemar" -> (mcnemar _, mcnemarSql),
    "llm_models_fairness_audit" -> (fairnessAudit _, fairnessAuditSql),
    "llm_models_auc" -> (auc _, aucSql),
    "llm_ta_ridge" -> (ridge _, ridgeSql),
    "llm_ta_logreg" -> (logreg _, logregSql),
    "llm_models_calibration" -> (calibration _, calibrationSql),
    "llm_models_pr" -> (prSummary _, prSummarySql),
    "llm_models_brier" -> (brier _, brierSql),
    "llm_models_ks" -> (ks _, ksSql),
    "llm_models_confusion" -> (confusion _, confusionSql),
    "llm_models_youden" -> (youden _, youdenSql),
    "llm_models_learning_curve" -> (learningCurve _, learningCurveSql),
    "llm_models_threshold_sweep" -> (thresholdSweep _, thresholdSweepSql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
