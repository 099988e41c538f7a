package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables
import TextAnalysis.{h60, h60Sql}

/** Deterministic sampling operators for a training-data pipeline, over
  * `documents`. Random sampling (`Dataset.sample`) is not reproducible
  * across engines or re-runs; content-hash sampling is — the sample is
  * a pure function of the data, so a 100 TB re-run (or a second engine)
  * selects the same rows, which is what ablation / holdout splits need.
  *
  * Scale design: both operators are narrow per-row work plus (for the
  * stratified form) one shuffle on the stratum key — no global sort,
  * no driver-side state. The hash is the repo-wide md5-derived 60-bit
  * primitive ([[TextAnalysis.h60]]), reproducible in ANSI SQL.
  */
object Sampling {

  // --------------------------------------------------------------------
  // llm_sample_hash: deterministic ~5% sample — keep a row iff
  // h60(text) mod 100 < 5. The standard "stable holdout" selector: the
  // decision depends only on content, never on partitioning or order.
  def sampleHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", (h60($"text") % 100).as("bucket"))
      .filter($"bucket" < 5)
      .orderBy($"doc_id")
  }

  val sampleHashSql: String =
    s"""SELECT doc_id, source, ${h60Sql("text")} % 100 AS bucket
       |FROM documents
       |WHERE ${h60Sql("text")} % 100 < 5
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_stratified: deterministic top-2 per source stratum,
  // ranked by content hash (doc_id tie-break) — per-group quota
  // sampling with one shuffle on the stratum key. At 100 TB the same
  // plan holds: rank within stratum is a window, partial nothing, no
  // skew beyond the strata themselves.
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"h", $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", h60($"text").as("h"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"source", $"doc_id", $"rn")
      .orderBy($"source", $"rn")
  }

  val sampleStratifiedSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, ${h60Sql("text")} AS h FROM documents),
       |r AS (
       |  SELECT source, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |  FROM t)
       |SELECT source, doc_id, CAST(rn AS INT) AS rn
       |FROM r WHERE rn <= 2 ORDER BY source, rn""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_weighted: quality-proportional downsampling — keep a
  // document with probability equal to its quality score, decided by
  // the content hash (h60(text) mod 10⁶ < quality × 10⁶). How a
  // pipeline up-weights high-quality data WITHOUT randomness: the
  // accept decision is a pure function of content, so re-runs and
  // other engines select identical rows, and the acceptance rate per
  // quality stratum converges to the score itself. Narrow scoring
  // scans plus one doc_id equi-join.
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = TextAnalysis.taQuality(spark, dir).select($"doc_id", $"quality")
    Tables.documents(spark, dir)
      .select($"doc_id", (h60($"text") % 1000000L).as("draw"))
      .join(q, "doc_id")
      .filter($"draw" < $"quality" * 1000000.0)
      .select($"doc_id", $"draw", $"quality")
      .orderBy($"doc_id")
  }

  val sampleWeightedSql: String =
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |d AS (SELECT doc_id, ${h60Sql("text")} % 1000000 AS draw FROM documents)
       |SELECT d.doc_id, d.draw, q.quality
       |FROM d JOIN q ON d.doc_id = q.doc_id
       |WHERE d.draw < q.quality * 1000000.0
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_mixture: temperature-based mixture reweighting — the
  // α-sampling scheme multilingual LLM pipelines use (mT5 / XLM-R,
  // α = 0.5): a source with raw share p gets temperature share
  // p^α / Σ p^α, flattening the source distribution so head sources
  // stop drowning tail ones. Emits the per-source mixing plan: raw
  // share, temperature share, and the acceptance rate (scaled so the
  // most up-weighted source keeps everything) that realizes the
  // mixture by pure downsampling.
  //
  // Determinism: p^0.5 = sqrt is correctly rounded IEEE in any
  // engine; the normalizer sums sqrt terms as DECIMAL(28,12) (order-
  // insensitive, k-means-centroid pattern), then all ratios are
  // double ops on identical inputs. Scale shape: one partial-
  // aggregable groupBy on source; everything after operates on the
  // source-cardinality table (tiny by definition of a mixture), so
  // the broadcast scalar joins cost nothing.
  private def mixtureOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // source-cardinality table with two consumers (total, scored) —
    // materialized once so the corpus groupBy behind it runs once,
    // not per consumer (shared-subplan audit, round 6)
    val perSrc = Tables.documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .localCheckpoint()
    val total = perSrc.agg(sum($"n_docs").as("n_total"))
    val scored = perSrc.crossJoin(broadcast(total))
      .select($"source", $"n_docs",
        ($"n_docs".cast("double") / $"n_total").as("p_raw"))
      .select($"source", $"n_docs", $"p_raw",
        sqrt($"p_raw").cast("decimal(28,12)").as("s_dec"))
    val z = scored.agg(sum($"s_dec").cast("double").as("z"))
    scored.crossJoin(broadcast(z))
      .select($"source", $"n_docs", $"p_raw",
        ($"s_dec".cast("double") / $"z").as("p_temp"))
  }

  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = mixtureOf(spark, dir)
      .select($"source", $"n_docs", $"p_raw", $"p_temp",
        ($"p_temp" / $"p_raw").as("boost"))
    val mx = m.agg(max($"boost").as("max_boost"))
    m.crossJoin(broadcast(mx))
      .select($"source", $"n_docs", round($"p_raw", 6).as("p_raw"),
        round($"p_temp", 6).as("p_temp"),
        round($"boost" / $"max_boost", 6).as("accept_rate"))
      .orderBy($"source")
  }

  private val mixtureCte: String =
    s"""ps AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |tt AS (SELECT SUM(n_docs) AS n_total FROM ps),
       |sc AS (SELECT source, n_docs,
       |    CAST(n_docs AS DOUBLE) / n_total AS p_raw,
       |    CAST(sqrt(CAST(n_docs AS DOUBLE) / n_total) AS DECIMAL(28,12)) AS s_dec
       |  FROM ps CROSS JOIN tt),
       |zz AS (SELECT CAST(SUM(s_dec) AS DOUBLE) AS z FROM sc),
       |mix AS (SELECT source, n_docs, p_raw,
       |    CAST(s_dec AS DOUBLE) / z AS p_temp
       |  FROM sc CROSS JOIN zz),
       |bo AS (SELECT source, n_docs, p_raw, p_temp, p_temp / p_raw AS boost FROM mix),
       |mb AS (SELECT MAX(boost) AS max_boost FROM bo),
       |rates AS (SELECT source, n_docs, p_raw, p_temp,
       |    boost / max_boost AS accept_rate FROM bo CROSS JOIN mb)""".stripMargin

  val sampleMixtureSql: String =
    s"""WITH $mixtureCte
       |SELECT source, n_docs, ROUND(p_raw, 6) AS p_raw,
       |  ROUND(p_temp, 6) AS p_temp, ROUND(accept_rate, 6) AS accept_rate
       |FROM rates ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_resample: realize the temperature mixture — keep a doc
  // iff h60(text) mod 10⁶ < accept_rate × 10⁶, with the per-source
  // rate from the mixing plan above. The corpus side is one narrow
  // scan plus a broadcast join on source (the rate table is source-
  // cardinality); selection is content-deterministic like every
  // sampler here, so engines and re-runs agree row-for-row.
  def sampleResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = sampleMixture(spark, dir)
      .select($"source", $"accept_rate")
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", (h60($"text") % 1000000L).as("draw"))
      .join(broadcast(rates), "source")
      .filter($"draw" < $"accept_rate" * 1000000.0)
      .select($"doc_id", $"source", $"draw")
      .orderBy($"doc_id")
  }

  val sampleResampleSql: String =
    s"""WITH $mixtureCte,
       |rr AS (SELECT source, ROUND(accept_rate, 6) AS accept_rate FROM rates),
       |d AS (SELECT doc_id, source, ${h60Sql("text")} % 1000000 AS draw FROM documents)
       |SELECT d.doc_id, d.source, d.draw
       |FROM d JOIN rr ON d.source = rr.source
       |WHERE d.draw < rr.accept_rate * 1000000.0
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_lang_balance: language rebalancing — downsample every
  // language to the size of the SMALLEST one (uniform target), the
  // blunt-but-standard counterweight to English dominance in web
  // corpora (the α→0 limit of the temperature mixture above, keyed on
  // `lang` instead of `source`). Per-language rate = min_count /
  // count_l; accept iff h60(text) mod 10⁶ < rate × 10⁶ — content-
  // deterministic like every sampler here.
  //
  // Scale shape: the rate table is language-cardinality (tiny,
  // broadcast); the corpus side is one narrow scan + broadcast join —
  // no shuffle of the corpus at any size. Expected kept rows per
  // language converge to min_count each.
  def sampleLangBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", (h60($"text") % 1000000L).as("draw"))
    // language-cardinality, two consumers (min, rates) — once
    val counts = d.groupBy($"lang").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val minc = counts.agg(min($"c").as("cmin"))
    val rates = counts.crossJoin(broadcast(minc))
      .select($"lang", round($"cmin".cast("double") / $"c", 6).as("rate"))
    d.join(broadcast(rates), "lang")
      .filter($"draw" < $"rate" * 1000000.0)
      .select($"doc_id", $"lang", $"draw", $"rate")
      .orderBy($"doc_id")
  }

  val sampleLangBalanceSql: String =
    s"""WITH d AS (SELECT doc_id, lang, ${h60Sql("text")} % 1000000 AS draw
       |  FROM documents),
       |ct AS (SELECT lang, COUNT(*) AS c FROM d GROUP BY lang),
       |mn AS (SELECT MIN(c) AS cmin FROM ct),
       |rates AS (SELECT lang, ROUND(CAST(cmin AS DOUBLE) / c, 6) AS rate
       |  FROM ct CROSS JOIN mn)
       |SELECT d.doc_id, d.lang, d.draw, r.rate
       |FROM d JOIN rates r ON d.lang = r.lang
       |WHERE d.draw < r.rate * 1000000.0
       |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_neyman: variance-aware stratified allocation (Neyman
  // 1934): given a total audit budget of B draws, allocate per-source
  // sample sizes n_h proportional to N_h.sd_h — the allocation that
  // minimizes the estimator variance of a stratified mean, and the
  // statistically-correct upgrade of llm_sample_stratified's equal
  // quota when strata differ in spread (a homogeneous boilerplate
  // source needs few draws; a high-variance scraped source needs
  // many). Spread is measured on n_chars (the audit variable).
  //
  // Cross-engine exactness: the sample variance runs on the EXACT
  // integer identity (n.sxx - sx^2) / (n(n-1)) — integer sums of
  // int64 chars stay below 2^53, so the double conversion is exact
  // and the single division + sqrt are correctly rounded IEEE. The
  // weight total routes through DECIMAL(28,12) (the epochPlan
  // pattern); allocations use floor(), which is exact on any double.
  // Degenerate conventions: a single-doc or constant stratum has
  // sd = 0; if EVERY stratum is constant (wsum = 0) the allocation
  // falls back to proportional, so the planner is total.
  //
  // Scale shape: one partial-aggregable groupBy(source) over a
  // two-column projection; everything after operates on the
  // |sources|-row table (1-row totals via crossJoin broadcast).
  private[graft] val NeymanBudget = 100L

  def sampleNeyman(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = Tables.documents(spark, dir)
      .select($"source", $"n_chars".cast("long").as("x"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_h"),
        coalesce(sum($"x"), lit(0L)).as("sx"),
        coalesce(sum($"x" * $"x"), lit(0L)).as("sxx"))
    val sd = when($"n_h" <= 1, lit(0.0)).otherwise(
      sqrt(($"n_h" * $"sxx" - $"sx" * $"sx").cast("double")
        / ($"n_h" * ($"n_h" - 1)).cast("double")))
    val w = per.select($"source", $"n_h", $"sx", $"sxx",
      ($"n_h".cast("double") * sd).as("wh"), sd.as("sd"))
    val tot = w.agg(
      coalesce(sum($"wh".cast("decimal(28,12)")).cast("double"), lit(0.0))
        .as("wsum"),
      coalesce(sum($"n_h"), lit(0L)).as("n_tot"))
    val share = when($"wsum" === 0,
        $"n_h".cast("double") / $"n_tot")
      .otherwise($"wh" / $"wsum")
    w.crossJoin(tot)
      .select($"source", $"n_h",
        round($"sx".cast("double") / $"n_h", 6).as("mean_chars"),
        round($"sd", 6).as("sd_chars"),
        round(share, 6).as("alloc_share"),
        floor(lit(NeymanBudget) * share).cast("long").as("neyman_n"),
        floor(lit(NeymanBudget)
          * ($"n_h".cast("double") / $"n_tot")).cast("long").as("prop_n"))
      .orderBy($"source")
  }

  val sampleNeymanSql: String =
    s"""WITH per AS (SELECT source, COUNT(*) AS n_h,
       |    CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS sx,
       |    CAST(COALESCE(SUM(n_chars * n_chars), 0) AS BIGINT) AS sxx
       |  FROM documents GROUP BY source),
       |w AS (SELECT source, n_h, sx, sxx,
       |    CAST(n_h AS DOUBLE) * (CASE WHEN n_h <= 1 THEN 0.0
       |      ELSE SQRT(CAST(n_h * sxx - sx * sx AS DOUBLE)
       |        / CAST(n_h * (n_h - 1) AS DOUBLE)) END) AS wh,
       |    CASE WHEN n_h <= 1 THEN 0.0
       |      ELSE SQRT(CAST(n_h * sxx - sx * sx AS DOUBLE)
       |        / CAST(n_h * (n_h - 1) AS DOUBLE)) END AS sd
       |  FROM per),
       |tot AS (SELECT
       |    COALESCE(CAST(SUM(CAST(wh AS DECIMAL(28,12))) AS DOUBLE), 0.0)
       |      AS wsum,
       |    CAST(COALESCE(SUM(n_h), 0) AS BIGINT) AS n_tot FROM w),
       |x AS (SELECT w.*, wsum, n_tot,
       |    CASE WHEN wsum = 0 THEN CAST(n_h AS DOUBLE) / n_tot
       |      ELSE wh / wsum END AS share
       |  FROM w CROSS JOIN tot)
       |SELECT source, n_h,
       |  ROUND(CAST(sx AS DOUBLE) / n_h, 6) AS mean_chars,
       |  ROUND(sd, 6) AS sd_chars,
       |  ROUND(share, 6) AS alloc_share,
       |  CAST(FLOOR($NeymanBudget * share) AS BIGINT) AS neyman_n,
       |  CAST(FLOOR($NeymanBudget * (CAST(n_h AS DOUBLE) / n_tot)) AS BIGINT)
       |    AS prop_n
       |FROM x ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_dsir: data selection by importance resampling (the
  // hashed-feature DSIR recipe, Xie et al. 2023): score every document
  // by how target-like its token distribution is, where "target" is a
  // domain slice of the corpus itself (here lang = 'en') and the
  // features are hashed token buckets — bounded feature space at ANY
  // vocabulary size, the property that makes the method run at 100 TB.
  //
  //  - bucket(term) = h60(term) mod 64 (the hashing trick; same
  //    md5-derived primitive as every sampler here — reproducible in
  //    ANSI SQL, no model download),
  //  - per-bucket unigram LMs with add-1 smoothing: p_target(b) and
  //    p_raw(b),
  //  - doc weight = Σ_b n_b(doc) · ln(p_target(b) / p_raw(b)) — the
  //    importance log-ratio of the doc under target vs raw,
  //  - output = top-64 docs by weight (the resampling step; hash-rank
  //    tie-break is unnecessary since weights embed content).
  //
  // Scale shape: both LMs are 64-row tables (broadcast); the only
  // shuffles are the partial-aggregable (doc_id, bucket) counts and
  // the final top-k. Per-bucket products are single doubles; the
  // per-doc sum folds in DECIMAL so aggregation order can't move the
  // 6th decimal.
  private val DsirBuckets = 64
  private val DsirTopK = 64

  def sampleDsir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source",
        explode(split($"text", " ")).as("term"))
      .select($"doc_id", $"lang", $"source",
        (h60($"term") % DsirBuckets).as("b"))
    val docB = toks.groupBy($"doc_id", $"lang", $"source", $"b")
      .agg(count(lit(1)).as("n"))
    val rawB = toks.groupBy($"b").agg(count(lit(1)).as("cr"))
    val tgtB = toks.filter($"lang" === "en")
      .groupBy($"b").agg(count(lit(1)).as("ct"))
    val totals = toks.agg(count(lit(1)).as("tr"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("tt"))
    val spine = spark.range(DsirBuckets).select($"id".as("b"))
    // KNOWN HASH FRAGILITY (documented, accepted): the importance
    // log-ratio goes through libm ln() on both engines, which is not
    // correctly rounded — a one-ulp JVM/DuckDB divergence inside the
    // 64-row table could move a 6th decimal across a rounding
    // boundary. 64 fixed smoothed count-ratios make the exposure tiny
    // (and it has never fired at sf0.01/sf0.1 on this platform); the
    // log-free alternative would rank by the PRODUCT of probability
    // ratios in DECIMAL, which overflows fixed precision at real doc
    // lengths — so the log form stays, with this note as the contract.
    val lr = spine
      .join(rawB, Seq("b"), "left")
      .join(tgtB, Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select($"b",
        log(((coalesce($"ct", lit(0L)) + 1).cast("double")
            / ($"tt" + DsirBuckets))
          / ((coalesce($"cr", lit(0L)) + 1).cast("double")
            / ($"tr" + DsirBuckets))).as("lr"))
    // top-k = orderBy+limit (TakeOrderedAndProject: per-partition
    // top-64 then a k-row merge — no global sort); the rank window
    // then runs over the 64 survivors only.
    val w = Window.orderBy($"dsir_weight".desc, $"doc_id".asc)
    docB.join(broadcast(lr), "b")
      .groupBy($"doc_id", $"lang", $"source")
      .agg(sum($"n").as("n_toks"),
        round(sum(($"n" * $"lr").cast("decimal(28,12)")).cast("double"), 6)
          .as("dsir_weight"))
      .orderBy($"dsir_weight".desc, $"doc_id".asc)
      .limit(DsirTopK)
      .withColumn("rank", row_number().over(w))
      .select($"rank", $"doc_id", $"lang", $"source", $"n_toks",
        $"dsir_weight")
      .orderBy($"rank")
  }

  val sampleDsirSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, lang, source,
       |    ${h60Sql("term")} % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang, source,
       |      unnest(string_split(text, ' ')) AS term FROM documents)),
       |doc_b AS (SELECT doc_id, lang, source, b, COUNT(*) AS n
       |  FROM tk GROUP BY 1, 2, 3, 4),
       |raw_b AS (SELECT b, COUNT(*) AS cr FROM tk GROUP BY b),
       |tgt_b AS (SELECT b, COUNT(*) AS ct FROM tk WHERE lang = 'en'
       |  GROUP BY b),
       |totals AS (SELECT COUNT(*) AS tr,
       |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt FROM tk),
       |spine AS (SELECT unnest(range(0, $DsirBuckets)) AS b),
       |lr AS (
       |  SELECT spine.b,
       |    LN((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / (tt + $DsirBuckets))
       |      / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) / (tr + $DsirBuckets)))
       |      AS lr
       |  FROM spine
       |  LEFT JOIN raw_b ON spine.b = raw_b.b
       |  LEFT JOIN tgt_b ON spine.b = tgt_b.b
       |  CROSS JOIN totals),
       |wts AS (
       |  SELECT doc_id, lang, source, CAST(SUM(n) AS BIGINT) AS n_toks,
       |    ROUND(CAST(SUM(CAST(n * lr AS DECIMAL(28,12))) AS DOUBLE), 6)
       |      AS dsir_weight
       |  FROM doc_b JOIN lr ON doc_b.b = lr.b
       |  GROUP BY 1, 2, 3),
       |ranked AS (SELECT *, ROW_NUMBER() OVER
       |    (ORDER BY dsir_weight DESC, doc_id ASC) AS rank FROM wts)
       |SELECT CAST(rank AS INT) AS rank, doc_id, lang, source, n_toks,
       |  dsir_weight
       |FROM ranked WHERE rank <= $DsirTopK ORDER BY rank""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_es_topk: weighted sampling WITHOUT replacement via the
  // Efraimidis–Spirakis key (key = ln(u)/w with u uniform, take the k
  // largest keys — equivalent to ranking by u^(1/w)): each document's
  // inclusion probability is proportional to its quality weight, but no
  // document can be drawn twice, which is what a "pick the best-weighted
  // k docs, with diversity" selection stage needs (plain weighted
  // acceptance, llm_sample_weighted, samples WITH replacement in
  // expectation terms and cannot hit an exact k). Deterministic: u is
  // the content hash mapped to (0,1], so the draw is a pure function of
  // the data. Scale: narrow scan + global top-k = TakeOrdered, no full
  // sort. ln() is libm-correctly-rounded on every surface we've measured
  // (SURVEY §5.1 pin, third ln surface alongside tfidf/dsir); keys are
  // compared raw, rounded only in the projection.
  private val EsK = 25

  def sampleEsTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = TextAnalysis.taQuality(spark, dir).select($"doc_id", $"quality")
    Tables.documents(spark, dir)
      .select($"doc_id",
        (((h60($"text") % 1000000L) + 1L) / 1000000.0).as("u"))
      .join(q, "doc_id")
      .select($"doc_id", $"quality",
        (log($"u") / greatest($"quality", lit(0.001))).as("key"))
      .orderBy($"key".desc, $"doc_id")
      .limit(EsK)
      .select($"doc_id", round($"quality", 6).as("quality"),
        round($"key", 6).as("es_key"))
      .orderBy($"es_key".desc, $"doc_id")
  }

  val sampleEsTopKSql: String =
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |d AS (SELECT doc_id,
       |    ((${h60Sql("text")} % 1000000) + 1) / CAST(1000000.0 AS DOUBLE) AS u
       |  FROM documents),
       |k AS (
       |  SELECT d.doc_id, q.quality,
       |    LN(d.u) / GREATEST(q.quality, 0.001) AS key
       |  FROM d JOIN q ON d.doc_id = q.doc_id
       |  ORDER BY key DESC, d.doc_id LIMIT $EsK)
       |SELECT doc_id, ROUND(quality, 6) AS quality,
       |  ROUND(key, 6) AS es_key
       |FROM k ORDER BY es_key DESC, doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_bootstrap: Poisson bootstrap — the ONLY bootstrap that
  // runs at 100 TB. The classic bootstrap materializes B resampled
  // copies of the corpus; the Poisson bootstrap (Chamandy et al.,
  // Google 2012) observes that multinomial resample weights converge
  // to iid Poisson(1), so ONE streaming pass assigns each (doc,
  // replicate) a weight w ~ Poisson(1) and every replicate's statistic
  // is a weighted aggregate — B× aggregation state, 1× data read, no
  // shuffle beyond the B-row result. Weights are DETERMINISTIC: u =
  // content-hash uniform in [0,1), w = inverse-CDF of Poisson(1) via
  // literal cumulative thresholds (same decimal strings both engines
  // fold to identical doubles — no exp() at query time). Output: per
  // replicate the effective count and weighted mean of n_chars; the
  // spread across replicates IS the sampling distribution of the
  // corpus mean (a driver reads ±2sd off this 16-row table).
  private val BootstrapB = 16
  // cumulative Poisson(1) pmf: P(W<=0), P(W<=1), ... (literal strings)
  /** Poisson(1) CDF at k = 0..4 as 17-digit literals — shared with
    * [[Models.bootstrapAuc]] so both bootstrap devices draw identical
    * per-(row, replicate) weights. */
  private[graft] val PoisCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563")

  def sampleBootstrap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val u = (h60(concat($"text", lit("#b"), $"rep".cast("string")))
      % 1000000L).cast("double") / 1000000.0
    val w = PoisCdf.zipWithIndex.foldRight(lit(PoisCdf.size): Column) {
      case ((cdf: String, k: Int), els: Column) =>
        when(u < lit(cdf.toDouble), k).otherwise(els)
    }
    Tables.documents(spark, dir)
      .select($"text", $"n_chars",
        explode(sequence(lit(0), lit(BootstrapB - 1))).as("rep"))
      .select($"rep", $"n_chars", w.cast("long").as("w"))
      .groupBy($"rep")
      .agg(sum($"w").cast("long").as("n_eff"),
        round(sum(($"w" * $"n_chars").cast("decimal(28,6)")).cast("double")
          / sum($"w"), 6).as("mean_chars"))
      .orderBy($"rep")
  }

  val sampleBootstrapSql: String = {
    // doubles forced end-to-end: bare decimal literals would pull the
    // whole comparison chain into DuckDB DECIMAL arithmetic
    val u = s"CAST(${h60Sql("text || '#b' || rep")} % 1000000 AS DOUBLE)" +
      " / CAST(1000000.0 AS DOUBLE)"
    val w = PoisCdf.zipWithIndex.reverse
      .foldLeft(s"${PoisCdf.size}") { case (els, (cdf, k)) =>
        s"CASE WHEN u < CAST($cdf AS DOUBLE) THEN $k ELSE $els END"
      }
    s"""WITH r AS (
       |  SELECT text, n_chars, unnest(range(0, $BootstrapB)) AS rep
       |  FROM documents),
       |uu AS (SELECT rep, n_chars, $u AS u FROM r),
       |ww AS (SELECT rep, n_chars, CAST($w AS BIGINT) AS w FROM uu)
       |SELECT rep, CAST(SUM(w) AS BIGINT) AS n_eff,
       |  ROUND(CAST(SUM(CAST(w * n_chars AS DECIMAL(28,6))) AS DOUBLE)
       |    / SUM(w), 6) AS mean_chars
       |FROM ww GROUP BY rep ORDER BY rep""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_sample_kfold: deterministic k-fold cross-validation assignment
  // + fold-balance audit. Fold = content-hash mod k (re-runnable on
  // any engine, stable under repartition — the property sklearn-style
  // random splits lose at corpus scale), but keyed on the DUPLICATE
  // CLUSTER like llm_pipeline_split, so near-duplicates share a fold
  // and no fold leaks into another's validation turn. The audit output
  // is the per-fold row/source balance a CV run checks before trusting
  // fold variance: n_docs, n_sources, share of the corpus, and the
  // max single-source share inside the fold (a fold owned by one
  // source invalidates the variance estimate). Scale shape: cluster
  // ids ride the session-cached dedup artifact; the audit is one
  // bounded (fold, source) groupBy.
  def sampleKfold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val folds = Dedup.ddCluster(spark, dir)
      .select($"doc_id", (h60($"cluster_id".cast("string")) % 5).as("fold"))
    val docs = Tables.documents(spark, dir).select($"doc_id", $"source")
    val perFoldSrc = docs.join(folds, "doc_id")
      .groupBy($"fold", $"source").agg(count(lit(1)).as("c"))
    val tot = broadcast(perFoldSrc.agg(sum($"c").as("n_total")))
    perFoldSrc
      .groupBy($"fold")
      .agg(sum($"c").as("n_docs"),
        count(lit(1)).as("n_sources"),
        max($"c").as("max_src"))
      .crossJoin(tot)
      .select($"fold", $"n_docs", $"n_sources",
        round($"n_docs".cast("double") / $"n_total", 6).as("corpus_share"),
        round($"max_src".cast("double") / $"n_docs", 6).as("max_source_share"))
      .orderBy($"fold")
  }

  val sampleKfoldSql: String =
    s"""WITH cl AS (${Dedup.ddClusterSql}),
       |f AS (
       |  SELECT doc_id, ${h60Sql("CAST(cluster_id AS VARCHAR)")} % 5 AS fold
       |  FROM cl),
       |pf AS (
       |  SELECT fold, source, COUNT(*) AS c
       |  FROM documents JOIN f USING (doc_id)
       |  GROUP BY 1, 2),
       |t AS (SELECT SUM(c) AS n_total FROM pf)
       |SELECT fold, CAST(SUM(c) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_sources,
       |  ROUND(CAST(SUM(c) AS DOUBLE) / n_total, 6) AS corpus_share,
       |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS max_source_share
       |FROM pf CROSS JOIN t
       |GROUP BY fold, n_total ORDER BY fold""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_group_kfold: leakage-safe GROUP k-fold — folds are
  // assigned at SOURCE grain (fold = h60(source) mod 5), so every
  // document of a source lands in one fold and near-duplicate leakage
  // WITHIN a source can never straddle a train/eval split — the group
  // k-fold discipline of sklearn re-expressed for corpus curation,
  // complementing llm_sample_kfold's cluster-grain folds. The audit
  // half quantifies what source-grouping CANNOT isolate: documents
  // whose exact text class (h60 of the full text) spans more than one
  // fold are CROSS-SOURCE duplicates — n_leaky_docs per fold is the
  // residual contamination a cluster-grain split (sample_kfold) would
  // have caught, so the pair of queries brackets the split-design
  // trade. Scale shape: fold assignment is a projection; the leak
  // audit is one class-grain groupBy (countDistinct fold = 2-phase
  // partial-aggregable) joined back on the class key — bucket-shaped,
  // no pair expansion; fold rollup is a 5-row aggregate.
  def sampleGroupKfold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = Tables.documents(spark, dir)
      .select($"doc_id", $"source", (h60($"source") % 5).as("fold"),
        h60($"text").as("cls"))
    val span = f.groupBy($"cls")
      .agg(countDistinct($"fold").as("nf"))
    val tot = broadcast(f.agg(count(lit(1)).as("n_total")))
    f.join(span, "cls")
      .groupBy($"fold")
      .agg(countDistinct($"source").as("n_sources"),
        count(lit(1)).as("n_docs"),
        sum(when($"nf" > 1, 1L).otherwise(0L)).as("n_leaky_docs"))
      .crossJoin(tot)
      .select($"fold", $"n_sources", $"n_docs",
        round($"n_docs".cast("double") / $"n_total", 6).as("doc_share"),
        $"n_leaky_docs",
        round($"n_leaky_docs".cast("double") / $"n_docs", 6)
          .as("leak_share"))
      .orderBy($"fold")
  }

  val sampleGroupKfoldSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, source, ${h60Sql("source")} % 5 AS fold,
       |    ${h60Sql("text")} AS cls
       |  FROM documents),
       |sp AS (SELECT cls, COUNT(DISTINCT fold) AS nf FROM f GROUP BY cls),
       |t AS (SELECT COUNT(*) AS n_total FROM f)
       |SELECT fold, COUNT(DISTINCT source) AS n_sources,
       |  COUNT(*) AS n_docs,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / n_total, 6) AS doc_share,
       |  CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_leaky_docs,
       |  ROUND(CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS leak_share
       |FROM f JOIN sp USING (cls) CROSS JOIN t
       |GROUP BY fold, n_total ORDER BY fold""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_ess: clipped importance weights toward a uniform source
  // mixture + the effective sample size they leave. Reweighting toward
  // a target mixture (w = target_share / actual_share, clipped to
  // [0.25, 4] so no source dominates the gradient) is the standard
  // alternative to physically resampling; ESS = (Σw)²/Σw² is the
  // number that says how much data the weights effectively keep — the
  // go/no-go metric before training on weights instead of samples.
  // Scale shape: one partial-aggregable source groupBy (20 rows), all
  // weight algebra on the broadcast-sized rate table; per-source Σw
  // collapses to n_docs·w closed-form, so the corpus is scanned once
  // and never reweighted row-by-row. Weight sums route through
  // DECIMAL so the 1-row ESS reduction is bit-stable.
  def sampleEss(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val tot = broadcast(ps.agg(sum($"n_docs").as("n_total"),
      count(lit(1)).as("n_sources")))
    val w = least(greatest(
      $"n_total".cast("double") / ($"n_sources" * $"n_docs").cast("double"),
      lit(0.25)), lit(4.0))
    val perSrc = ps.crossJoin(tot)
      .select($"source", $"n_docs", $"n_total", w.as("w"))
    val ess = broadcast(perSrc.agg(
      sum(($"n_docs" * $"w").cast(DecimalType(28, 12))).cast("double")
        .as("sum_w"),
      sum(($"n_docs" * $"w" * $"w").cast(DecimalType(28, 12))).cast("double")
        .as("sum_w2")))
    perSrc.crossJoin(ess)
      .select($"source", $"n_docs", round($"w", 6).as("weight"),
        round(($"n_docs" * $"w") / $"sum_w", 6).as("weighted_share"),
        round(($"sum_w" * $"sum_w") / $"sum_w2", 2).as("ess"),
        round(($"sum_w" * $"sum_w") / ($"sum_w2" * $"n_total"), 6)
          .as("ess_ratio"))
      .orderBy($"source")
  }

  val sampleEssSql: String =
    """WITH ps AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |t AS (SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_sources FROM ps),
      |pw AS (
      |  SELECT source, n_docs, n_total,
      |    LEAST(GREATEST(CAST(n_total AS DOUBLE)
      |      / CAST(n_sources * n_docs AS DOUBLE), 0.25), 4.0) AS w
      |  FROM ps CROSS JOIN t),
      |e AS (
      |  SELECT CAST(SUM(CAST(n_docs * w AS DECIMAL(28,12))) AS DOUBLE)
      |      AS sum_w,
      |    CAST(SUM(CAST(n_docs * w * w AS DECIMAL(28,12))) AS DOUBLE)
      |      AS sum_w2
      |  FROM pw)
      |SELECT source, n_docs, ROUND(w, 6) AS weight,
      |  ROUND((n_docs * w) / sum_w, 6) AS weighted_share,
      |  ROUND((sum_w * sum_w) / sum_w2, 2) AS ess,
      |  ROUND((sum_w * sum_w) / (sum_w2 * n_total), 6) AS ess_ratio
      |FROM pw CROSS JOIN e ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_clip_sweep: the weight-clipping tuning curve behind
  // [[sampleEss]] — ESS fixes the clip bound at [0.25, 4] and reports
  // one point; this sweeps c ∈ {1.5, 4, 1000} (tight / production /
  // effectively-unclipped), reporting per bound how many sources get
  // clipped and what ESS the surviving weights leave. The bias-
  // variance dial made visible: a tight clip keeps ESS high but stops
  // correcting the mixture (sources pinned at the bound stay
  // over/under-sampled); the sweep is the evidence for choosing the
  // production bound rather than inheriting it. Scale shape:
  // identical to ESS — ONE partial-aggregable source groupBy; the
  // sweep explodes the broadcast-sized 20-row rate table × 3 bounds,
  // never the corpus; per-source Σw stays closed-form n_docs·w.
  def sampleClipSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // materialized: the rate table feeds the totals aggregate AND the
    // sweep cross join — one corpus scan, not two
    val ps = Tables.documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs")).localCheckpoint()
    val tot = broadcast(ps.agg(sum($"n_docs").as("n_total"),
      count(lit(1)).as("n_sources")))
    val raw = $"n_total".cast("double") /
      ($"n_sources" * $"n_docs").cast("double")
    val swept = ps.crossJoin(tot)
      .select($"source", $"n_docs", $"n_total", raw.as("raw"))
      .crossJoin(
        broadcast(Seq(1.5, 4.0, 1000.0).toDF("clip")))
      .select($"clip", $"n_docs", $"n_total", $"raw",
        least(greatest($"raw", lit(1.0) / $"clip"), $"clip").as("w"))
    swept.groupBy($"clip")
      .agg(
        sum(when($"raw" < lit(1.0) / $"clip" || $"raw" > $"clip", 1L)
          .otherwise(0L)).as("n_clipped"),
        sum(($"n_docs" * $"w").cast(DecimalType(28, 12))).cast("double")
          .as("sw"),
        sum(($"n_docs" * $"w" * $"w").cast(DecimalType(28, 12)))
          .cast("double").as("sw2"),
        max($"n_total").as("nt"))
      .select($"clip", $"n_clipped", round($"sw", 6).as("sum_w"),
        round(($"sw" * $"sw") / $"sw2", 2).as("ess"),
        round(($"sw" * $"sw") / ($"sw2" * $"nt"), 6).as("ess_ratio"))
      .orderBy($"clip")
  }

  val sampleClipSweepSql: String =
    """WITH ps AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |t AS (SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_sources FROM ps),
      |pw AS (
      |  SELECT source, n_docs, n_total,
      |    CAST(n_total AS DOUBLE) / CAST(n_sources * n_docs AS DOUBLE)
      |      AS raw
      |  FROM ps CROSS JOIN t),
      |sw AS (
      |  SELECT c.clip, pw.n_docs, pw.n_total, pw.raw,
      |    LEAST(GREATEST(pw.raw, 1.0 / c.clip), c.clip) AS w
      |  FROM pw CROSS JOIN (VALUES (CAST(1.5 AS DOUBLE)),
      |    (CAST(4.0 AS DOUBLE)), (CAST(1000.0 AS DOUBLE))) AS c(clip)),
      |a AS (
      |  SELECT clip,
      |    CAST(SUM(CASE WHEN raw < 1.0 / clip OR raw > clip
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |    CAST(SUM(CAST(n_docs * w AS DECIMAL(28,12))) AS DOUBLE) AS sw,
      |    CAST(SUM(CAST(n_docs * w * w AS DECIMAL(28,12))) AS DOUBLE)
      |      AS sw2,
      |    MAX(n_total) AS nt
      |  FROM sw GROUP BY clip)
      |SELECT clip, n_clipped, ROUND(sw, 6) AS sum_w,
      |  ROUND((sw * sw) / sw2, 2) AS ess,
      |  ROUND((sw * sw) / (sw2 * nt), 6) AS ess_ratio
      |FROM a ORDER BY clip""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_dedup_weights: soft dedup as reweighting — every doc
  // gets weight 1/cluster_size (docs outside any near-dup cluster
  // count as singletons), and per source the table reports raw docs,
  // effective docs Σ 1/k, and the dedup shrink 1 − eff/raw. The
  // standard alternative to physically dropping duplicates (train on
  // everything, downweight copies so each content family contributes
  // unit mass); the per-source shrink is ALSO the honest "how
  // duplicated is this source" number that raw counts hide —
  // complementary to [[graft.llm.Dedup.ddPolicyMixShift]], which
  // audits hard-keep policies. Scale shape: cluster artifact LEFT
  // joins the doc table at doc grain; weights are per-row rationals
  // DECIMAL(28,12)-quantized before the per-source sum (one
  // partial-aggregable groupBy). Both engines quantize the identical
  // double 1/k, so the sums are bit-stable.
  def sampleDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cl = Dedup.ddCluster(spark, dir).select($"doc_id", $"cluster_size")
    Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(cl, Seq("doc_id"), "left")
      .select($"source",
        (lit(1.0) / coalesce($"cluster_size", lit(1L)).cast("double"))
          .as("w"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"w".cast(DecimalType(28, 12))).cast("double").as("eff"))
      .select($"source", $"n_docs", round($"eff", 6).as("effective_docs"),
        round(lit(1.0) - $"eff" / $"n_docs".cast("double"), 6)
          .as("dedup_shrink"))
      .orderBy($"source")
  }

  val sampleDedupWeightsSql: String =
    s"""WITH c AS (${Dedup.ddClusterSql}),
       |j AS (
       |  SELECT d.source,
       |    1.0 / CAST(COALESCE(c.cluster_size, 1) AS DOUBLE) AS w
       |  FROM documents d LEFT JOIN c ON d.doc_id = c.doc_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  ROUND(CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE), 6)
       |    AS effective_docs,
       |  ROUND(1.0 - CAST(SUM(CAST(w AS DECIMAL(28,12))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS dedup_shrink
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_pps: systematic probability-proportional-to-size
  // sampling — the survey-statistics workhorse that draws EXACTLY k
  // documents with inclusion probability ∝ size in one pass, no
  // rejection, no per-row randomness. Docs are laid on a line in a
  // deterministic hash order, each occupying an interval of width =
  // its char count; k midpoint anchors ((i−0.5)·total/k) select
  // whichever doc's interval they land in (midpoint anchors, not
  // i·step, so the float boundary at cum == total can never add or
  // drop a hit — Σ n_hits == k exactly). A doc wider than the step
  // can absorb several anchors (n_hits > 1), which is precisely the
  // size-proportional semantics. Scale shape: the global cumulative
  // sum is NOT a single-partition window — the hash order is bucketed
  // (64 buckets), per-bucket totals offset a bounded 64-row window,
  // and the per-doc cumsum runs per bucket (the salted-decomposition
  // pattern pack/shuffle/curriculum use).
  private val PpsK = 25
  private val PpsBuckets = 64
  def samplePps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars".cast("long").as("weight"),
        (h60($"doc_id".cast("string")) % PpsBuckets).as("bucket"),
        h60(concat($"doc_id".cast("string"), lit("#pps"))).as("ord"))
    val bsum = d.groupBy($"bucket").agg(sum($"weight").as("bw"))
    val wOff = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bsum
      .withColumn("off", coalesce(sum($"bw").over(wOff), lit(0L)))
      .select($"bucket".as("ob"), $"off")
    val tot = broadcast(bsum.agg(sum($"bw").as("tw")))
    val wIn = Window.partitionBy($"bucket").orderBy($"ord", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.join(broadcast(offs), $"bucket" === $"ob")
      .withColumn("cum", $"off" + sum($"weight").over(wIn))
      .crossJoin(tot)
      .withColumn("step", $"tw".cast("double") / PpsK)
      .withColumn("n_hits",
        (floor($"cum" / $"step" + 0.5)
          - floor(($"cum" - $"weight") / $"step" + 0.5)).cast("long"))
      .filter($"n_hits" > 0)
      .select($"doc_id", $"source", $"weight", $"n_hits",
        (floor(($"cum" - $"weight") / $"step" + 0.5) + 1).cast("long")
          .as("first_anchor"))
      .orderBy($"doc_id")
  }

  val samplePpsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % $PpsBuckets AS bucket,
       |    ${h60Sql("CAST(doc_id AS VARCHAR) || '#pps'")} AS ord
       |  FROM documents),
       |bs AS (SELECT bucket, SUM(weight) AS bw FROM d GROUP BY 1),
       |offs AS (
       |  SELECT bucket AS ob,
       |    COALESCE(SUM(bw) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM bs),
       |t AS (SELECT SUM(bw) AS tw FROM bs),
       |c AS (
       |  SELECT d.doc_id, d.source, d.weight,
       |    off + SUM(weight) OVER (PARTITION BY bucket
       |      ORDER BY ord, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    CAST(tw AS DOUBLE) / $PpsK AS step
       |  FROM d JOIN offs ON d.bucket = offs.ob CROSS JOIN t)
       |SELECT doc_id, source, weight,
       |  CAST(FLOOR(cum / step + 0.5)
       |    - FLOOR((cum - weight) / step + 0.5) AS BIGINT) AS n_hits,
       |  CAST(FLOOR((cum - weight) / step + 0.5) + 1 AS BIGINT)
       |    AS first_anchor
       |FROM c
       |WHERE FLOOR(cum / step + 0.5)
       |  - FLOOR((cum - weight) / step + 0.5) > 0
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_deff: stratification design effect — the variance of the
  // quality score decomposed into within-source and between-source
  // components (Var_total = Var_within + Var_between, the ANOVA
  // identity), and DEFF = Var_within/Var_total: the factor by which
  // proportionate stratified sampling shrinks the variance of an
  // estimated corpus mean versus simple random sampling. THE "is
  // stratifying by source worth it" number that Neyman allocation
  // (llm_sample_neyman) presupposes — DEFF ≈ 1 says strata are
  // homogeneous and SRS is fine; a low DEFF says source explains real
  // variance and every quality estimate should stratify. Scale shape:
  // ONE corpus scan collapses to per-source (n, Σy, Σy²) — three
  // partial-aggregable DECIMAL sums — and all variance algebra runs on
  // that source-bounded table. Determinism: moment forms are written
  // identically in both engines (Syy/n − ȳ², never the centered pass),
  // with per-source double terms DECIMAL-cast before the cross-source
  // sum.
  def sampleDeff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(28,12)")).cast("double")
    val q = TextAnalysis.taQuality(spark, dir).select($"doc_id", $"quality")
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(q, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("ns"), dsum($"quality").as("sy"),
        dsum($"quality" * $"quality").as("syy"))
    val g = src.agg(sum($"ns").as("n"),
      dsum($"sy").as("gy"), dsum($"syy").as("gyy")).head()
    val n = g.getAs[Long]("n")
    if (n == 0L)
      return spark.createDataFrame(
        Seq.empty[(Long, Long, Double, Double, Double, Double, Double)])
        .toDF("n", "n_sources", "var_total", "var_within", "var_between",
          "deff", "pct_explained")
    val ybar = g.getAs[Double]("gy") / n.toDouble
    val varTotal = g.getAs[Double]("gyy") / n.toDouble - ybar * ybar
    val t = src.agg(
      (sum(($"syy" - $"sy" * $"sy" / $"ns".cast("double"))
        .cast("decimal(28,12)")).cast("double") / n.toDouble).as("vw"),
      (sum(($"ns".cast("double")
        * ($"sy" / $"ns".cast("double") - ybar)
        * ($"sy" / $"ns".cast("double") - ybar))
        .cast("decimal(28,12)")).cast("double") / n.toDouble).as("vb"),
      count(lit(1)).as("n_sources")).head()
    val (vw, vb) = (t.getAs[Double]("vw"), t.getAs[Double]("vb"))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    spark.createDataFrame(Seq((
      n, t.getAs[Long]("n_sources"), r6(varTotal), r6(vw), r6(vb),
      r6(if (varTotal == 0.0) 1.0 else vw / varTotal),
      r6(if (varTotal == 0.0) 0.0 else vb / varTotal))))
      .toDF("n", "n_sources", "var_total", "var_within", "var_between",
        "deff", "pct_explained")
  }

  val sampleDeffSql: String = {
    def d12(e: String) =
      s"CAST(SUM(CAST(($e) AS DECIMAL(28,12))) AS DOUBLE)"
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |src AS (
       |  SELECT d.source, COUNT(*) AS ns,
       |    ${d12("q.quality")} AS sy,
       |    ${d12("q.quality * q.quality")} AS syy
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id
       |  GROUP BY d.source),
       |g AS (
       |  SELECT CAST(SUM(ns) AS BIGINT) AS n,
       |    ${d12("sy")} AS gy, ${d12("syy")} AS gyy,
       |    COUNT(*) AS n_sources
       |  FROM src),
       |m AS (
       |  SELECT g.n, g.n_sources,
       |    g.gy / g.n AS ybar,
       |    g.gyy / g.n - (g.gy / g.n) * (g.gy / g.n) AS var_total,
       |    ${d12("src.syy - src.sy * src.sy / CAST(src.ns AS DOUBLE)")}
       |      / ANY_VALUE(g.n) AS vw,
       |    ${d12("CAST(src.ns AS DOUBLE) * (src.sy / CAST(src.ns AS DOUBLE) - g.gy / g.n) * (src.sy / CAST(src.ns AS DOUBLE) - g.gy / g.n)")}
       |      / ANY_VALUE(g.n) AS vb
       |  FROM src CROSS JOIN g
       |  GROUP BY g.n, g.n_sources, g.gy, g.gyy)
       |SELECT CAST(n AS BIGINT) AS n, CAST(n_sources AS BIGINT) AS n_sources,
       |  ROUND(var_total, 6) AS var_total,
       |  ROUND(vw, 6) AS var_within, ROUND(vb, 6) AS var_between,
       |  ROUND(CASE WHEN var_total = 0.0 THEN 1.0
       |    ELSE vw / var_total END, 6) AS deff,
       |  ROUND(CASE WHEN var_total = 0.0 THEN 0.0
       |    ELSE vb / var_total END, 6) AS pct_explained
       |FROM m""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_sample_alloc_variance: estimator variance of the corpus quality
  // mean under four sampling designs at the same budget n₀ = ⌊N/10⌋ —
  // SRS, and stratified-by-source with proportional / Neyman / equal
  // allocation. The design-choice companion to [[sampleDeff]] (DEFF
  // says WHETHER to stratify; this prices HOW to allocate):
  //   Var(ȳ̂) = Σ_s W_s²·σ_s²/n_s   (infinite-stratum form, no FPC —
  // documented idealization so allocations stay closed-form; equal
  // allocation may nominally exceed a small stratum, which the FPC-free
  // form prices smoothly instead of clamping non-deterministically).
  // Scale shape: the same ONE corpus scan → per-source (n, Σy, Σy²)
  // collapse as deff; every design is arithmetic on that bounded
  // table. Determinism: σ_s = IEEE sqrt of moment-form rationals;
  // per-source variance terms DECIMAL-cast before the cross-source sum;
  // n₀ and allocations kept as exact doubles of integer-derived values.
  def sampleAllocVariance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def dsum(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(28,12)")).cast("double")
    val q = TextAnalysis.taQuality(spark, dir).select($"doc_id", $"quality")
    val src = Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(q, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("ns"), dsum($"quality").as("sy"),
        dsum($"quality" * $"quality").as("syy")).localCheckpoint()
    val g = src.agg(sum($"ns").as("n"), dsum($"sy").as("gy"),
      dsum($"syy").as("gyy"), count(lit(1)).as("k")).head()
    val n = g.getAs[Long]("n")
    if (n < 10L)
      return spark.createDataFrame(Seq.empty[(String, Long, Double, Double)])
        .toDF("scheme", "n_budget", "var_mean", "rel_efficiency")
    val k = g.getAs[Long]("k")
    val n0 = n / 10L
    val ybar = g.getAs[Double]("gy") / n.toDouble
    val varTotal = g.getAs[Double]("gyy") / n.toDouble - ybar * ybar
    // per-source variance and sd (moment form, same text both engines)
    val terms = src.select($"ns",
      ($"syy" / $"ns".cast("double")
        - ($"sy" / $"ns".cast("double")) * ($"sy" / $"ns".cast("double")))
        .as("vs"))
      .select($"ns", $"vs", sqrt($"vs").as("sds"))
    val t = terms.agg(
      // proportional: Σ W_s²σ_s²/(n0·W_s) = Σ W_s·σ_s²/n0
      dsum($"ns".cast("double") / n.toDouble * $"vs").as("propTerm"),
      // Neyman: (Σ W_s·σ_s)²/n0
      dsum($"ns".cast("double") / n.toDouble * $"sds").as("neyTerm"),
      // equal: Σ W_s²·σ_s²/(n0/K)
      dsum(($"ns".cast("double") / n.toDouble)
        * ($"ns".cast("double") / n.toDouble) * $"vs").as("eqTerm")).head()
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vSrs = varTotal / n0.toDouble
    val vProp = t.getAs[Double]("propTerm") / n0.toDouble
    val ney = t.getAs[Double]("neyTerm")
    val vNey = ney * ney / n0.toDouble
    val vEq = t.getAs[Double]("eqTerm") * k.toDouble / n0.toDouble
    spark.createDataFrame(Seq(
      ("equal", n0, r9(vEq), r6(vSrs / vEq)),
      ("neyman", n0, r9(vNey), r6(vSrs / vNey)),
      ("proportional", n0, r9(vProp), r6(vSrs / vProp)),
      ("srs", n0, r9(vSrs), r6(1.0))))
      .toDF("scheme", "n_budget", "var_mean", "rel_efficiency")
  }

  val sampleAllocVarianceSql: String = {
    def d12(e: String) =
      s"CAST(SUM(CAST(($e) AS DECIMAL(28,12))) AS DOUBLE)"
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |src AS (
       |  SELECT d.source, COUNT(*) AS ns,
       |    ${d12("q.quality")} AS sy,
       |    ${d12("q.quality * q.quality")} AS syy
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id
       |  GROUP BY d.source),
       |g AS (
       |  SELECT CAST(SUM(ns) AS BIGINT) AS n,
       |    ${d12("sy")} AS gy, ${d12("syy")} AS gyy, COUNT(*) AS k
       |  FROM src),
       |terms AS (
       |  SELECT src.ns, g.n, g.k, g.gy, g.gyy,
       |    src.syy / CAST(src.ns AS DOUBLE)
       |      - (src.sy / CAST(src.ns AS DOUBLE))
       |        * (src.sy / CAST(src.ns AS DOUBLE)) AS vs
       |  FROM src CROSS JOIN g),
       |t AS (
       |  SELECT ANY_VALUE(n) AS n, ANY_VALUE(k) AS k,
       |    ANY_VALUE(gyy / n - (gy / n) * (gy / n)) AS var_total,
       |    ${d12("CAST(ns AS DOUBLE) / CAST(n AS DOUBLE) * vs")} AS propTerm,
       |    ${d12("CAST(ns AS DOUBLE) / CAST(n AS DOUBLE) * SQRT(vs)")} AS neyTerm,
       |    ${d12("(CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(ns AS DOUBLE) / CAST(n AS DOUBLE)) * vs")} AS eqTerm
       |  FROM terms),
       |v AS (
       |  SELECT n // 10 AS n0,
       |    var_total / CAST(n // 10 AS DOUBLE) AS vsrs,
       |    propTerm / CAST(n // 10 AS DOUBLE) AS vprop,
       |    neyTerm * neyTerm / CAST(n // 10 AS DOUBLE) AS vney,
       |    eqTerm * CAST(k AS DOUBLE) / CAST(n // 10 AS DOUBLE) AS veq
       |  FROM t)
       |SELECT scheme, CAST(n0 AS BIGINT) AS n_budget,
       |  ROUND(var_mean, 9) AS var_mean,
       |  ROUND(rel_efficiency, 6) AS rel_efficiency
       |FROM (
       |  SELECT 'equal' AS scheme, n0, veq AS var_mean,
       |    vsrs / veq AS rel_efficiency FROM v
       |  UNION ALL
       |  SELECT 'neyman', n0, vney, vsrs / vney FROM v
       |  UNION ALL
       |  SELECT 'proportional', n0, vprop, vsrs / vprop FROM v
       |  UNION ALL
       |  SELECT 'srs', n0, vsrs, CAST(1.0 AS DOUBLE) FROM v)
       |ORDER BY scheme""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_sample_ht: Horvitz–Thompson estimation from the systematic PPS
  // sample — the estimator that makes llm_sample_pps USEFUL: with
  // inclusion intensity π̃ᵢ = k·wᵢ/W (size-proportional), the HT total
  // Σ hitsᵢ·yᵢ/π̃ᵢ is unbiased for the corpus quality total, and the
  // with-replacement variance estimator v̂ = Σ hitsᵢ·(yᵢ/pᵢ − Ŷ)²/
  // (k(k−1)) prices its precision. The op reports the estimate, the
  // exact corpus total (the audit comparison — at 100 TB you'd trust
  // the estimate INSTEAD of the full pass; here the full pass grades
  // it), the relative error, and the SE. The design claim "25 PPS
  // draws estimate a corpus-sized total to a few percent" becomes a
  // measured number.
  // Scale shape: the sample is the k-row table llm_sample_pps already
  // ships (bucketed cumsum, no global window); quality joins to it by
  // broadcast of the SAMPLE side; the exact total is ONE partial-agg
  // corpus pass. Determinism: weights/hits are integers; every ratio
  // is a double of identical operands; the cross-sample sums are k-row
  // DECIMAL folds; k(k−1) > 0 always (k = 25 literal).
  def sampleHt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = TextAnalysis.taQuality(spark, dir).select($"doc_id", $"quality")
    val totals = Tables.documents(spark, dir)
      .agg(sum($"n_chars".cast("long")).as("tw"),
        count(lit(1)).as("n_docs")).filter($"n_docs" > 0)
    val trueTot = q
      .agg(sum($"quality".cast(DecimalType(28, 12))).cast("double")
        .as("y_true"))
    // k-row table, three consumers (est, se, final) — materialized so
    // the PPS bucketed-cumsum pass runs once
    val s = samplePps(spark, dir).select($"doc_id", $"weight", $"n_hits")
      .join(q, "doc_id")
      .crossJoin(broadcast(totals))
      // yp = y_i / p_i with p_i = w_i / W
      .select($"doc_id", $"n_hits",
        ($"quality" * $"tw".cast("double") / $"weight".cast("double"))
          .as("yp")).localCheckpoint()
    val est = s.agg(
      sum($"n_hits").as("n_draws"),
      count(lit(1)).as("n_sampled_docs"),
      (sum(($"n_hits" * $"yp").cast(DecimalType(28, 12))).cast("double")
        / PpsK).as("y_ht"))
      .filter($"n_sampled_docs" > 0)
    val se = s.crossJoin(broadcast(est))
      .select((($"yp" - $"y_ht") * ($"yp" - $"y_ht") * $"n_hits")
        .cast(DecimalType(28, 12)).as("t"))
      .agg(sqrt(sum($"t").cast("double")
        / (lit(PpsK) * lit(PpsK - 1))).as("se"))
    est.crossJoin(broadcast(se)).crossJoin(broadcast(trueTot))
      .select($"n_draws", $"n_sampled_docs",
        round($"y_ht", 6).as("ht_total"),
        round($"y_true", 6).as("true_total"),
        round(when($"y_true" === 0.0, 0.0)
          .otherwise(abs($"y_ht" - $"y_true") / $"y_true"), 6).as("rel_err"),
        round($"se", 6).as("se"))
  }

  val sampleHtSql: String =
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |tw AS (SELECT CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS tw,
       |  COUNT(*) AS n_docs FROM documents HAVING COUNT(*) > 0),
       |yt AS (SELECT CAST(SUM(CAST(quality AS DECIMAL(28,12))) AS DOUBLE)
       |  AS y_true FROM q),
       |pps AS ($samplePpsSql),
       |s AS (
       |  SELECT p.doc_id, p.n_hits,
       |    q.quality * CAST(t.tw AS DOUBLE) / CAST(p.weight AS DOUBLE)
       |      AS yp
       |  FROM pps p JOIN q ON p.doc_id = q.doc_id CROSS JOIN tw t),
       |est AS (
       |  SELECT CAST(SUM(n_hits) AS BIGINT) AS n_draws,
       |    COUNT(*) AS n_sampled_docs,
       |    CAST(SUM(CAST(n_hits * yp AS DECIMAL(28,12))) AS DOUBLE)
       |      / $PpsK AS y_ht
       |  FROM s HAVING COUNT(*) > 0),
       |sev AS (
       |  SELECT SQRT(CAST(SUM(CAST((s.yp - e.y_ht) * (s.yp - e.y_ht)
       |      * s.n_hits AS DECIMAL(28,12))) AS DOUBLE)
       |    / ($PpsK * ${PpsK - 1})) AS se
       |  FROM s CROSS JOIN est e)
       |SELECT e.n_draws, CAST(e.n_sampled_docs AS BIGINT)
       |    AS n_sampled_docs,
       |  ROUND(e.y_ht, 6) AS ht_total,
       |  ROUND(y.y_true, 6) AS true_total,
       |  ROUND(CASE WHEN y.y_true = 0.0 THEN 0.0
       |    ELSE ABS(e.y_ht - y.y_true) / y.y_true END, 6) AS rel_err,
       |  ROUND(v.se, 6) AS se
       |FROM est e CROSS JOIN sev v CROSS JOIN yt y""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_temperature_sweep: the α knob priced — the mT5-style
  // temperature mixture llm_sample_mixture ships at α = 0.5, swept at
  // α ∈ {0.25, 0.5, 0.75, 1.0}: per (α, source) the raw and tempered
  // shares, plus per α the mixture entropy (nats) and the top-source
  // share. The flattening-vs-fidelity trade as a table: α→0 drives
  // entropy to ln(sources) (uniform — tail sources over-weighted),
  // α = 1 is the raw mix; the chosen α is read off this curve. Same
  // knob-sweep discipline as llm_dd_shingle_sweep.
  // Scale shape: ONE corpus scan to the source-grain count table,
  // materialized; every α is arithmetic on that bounded table.
  // Determinism: p^α computed as sqrt CHAINS (¼ = √√, ½ = √, ¾ = √·√√
  // — exact IEEE ops both engines; the libm-pow pitfall from
  // lsh_tuning never enters); normalizers DECIMAL(28,12)-routed
  // (mixture precedent); entropy terms DECIMAL(15,9) (taEntropy
  // discipline).
  def sampleTemperatureSweep(spark: SparkSession,
                             dir: String): DataFrame = {
    import spark.implicits._
    val ps = Tables.documents(spark, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val tt = ps.agg(sum($"n_docs").as("n_total")).filter($"n_total" > 0)
    val base = ps.crossJoin(broadcast(tt))
      .select($"source",
        ($"n_docs".cast("double") / $"n_total").as("p")).localCheckpoint()
    type C = org.apache.spark.sql.Column
    val alphas: Seq[(Double, C => C)] = Seq(
      0.25 -> ((p: C) => sqrt(sqrt(p))),
      0.5 -> ((p: C) => sqrt(p)),
      0.75 -> ((p: C) => sqrt(p) * sqrt(sqrt(p))),
      1.0 -> ((p: C) => p))
    alphas.map { case (a, f) =>
      val t = base.select($"source", $"p", f($"p").as("s"))
      val z = t.agg(sum($"s".cast(DecimalType(28, 12))).cast("double")
        .as("z"))
      // the per-term weight quantizes to DECIMAL(28,12) BEFORE the
      // division, exactly as it enters the normalizer sum
      val q = t.crossJoin(broadcast(z))
        .select($"source", $"p",
          ($"s".cast(DecimalType(28, 12)).cast("double") / $"z").as("q"))
      val ent = q.agg(
        sum((-$"q" * log($"q")).cast(DecimalType(15, 9))).cast("double")
          .as("ent"),
        max($"q").as("top"))
      q.crossJoin(broadcast(ent))
        .select(lit(a).as("alpha"), $"source",
          round($"p", 6).as("p_raw"), round($"q", 6).as("p_temp"),
          round($"ent", 6).as("mix_entropy"),
          round($"top", 6).as("top_share"))
    }.reduce(_ unionAll _).orderBy($"alpha", $"source")
  }

  val sampleTemperatureSweepSql: String = {
    def block(aLit: String, sExpr: String): String =
      s"""SELECT CAST($aLit AS DOUBLE) AS alpha, q.source,
         |  ROUND(q.p, 6) AS p_raw, ROUND(q.q, 6) AS p_temp,
         |  ROUND(e.ent, 6) AS mix_entropy, ROUND(e.top, 6) AS top_share
         |FROM (
         |  SELECT source, p, CAST(sdec AS DOUBLE) / z AS q
         |  FROM (SELECT source, p,
         |      CAST($sExpr AS DECIMAL(28,12)) AS sdec FROM base) s
         |  CROSS JOIN (
         |    SELECT CAST(SUM(CAST($sExpr AS DECIMAL(28,12))) AS DOUBLE)
         |      AS z FROM base) zz) q
         |CROSS JOIN (
         |  SELECT
         |    CAST(SUM(CAST(-(CAST(sdec AS DOUBLE) / z)
         |      * LN(CAST(sdec AS DOUBLE) / z) AS DECIMAL(15,9)))
         |      AS DOUBLE) AS ent,
         |    MAX(CAST(sdec AS DOUBLE) / z) AS top
         |  FROM (SELECT CAST($sExpr AS DECIMAL(28,12)) AS sdec FROM base) s2
         |  CROSS JOIN (
         |    SELECT CAST(SUM(CAST($sExpr AS DECIMAL(28,12))) AS DOUBLE)
         |      AS z FROM base) zz2) e""".stripMargin
    val blocks = Seq(
      ("0.25", "SQRT(SQRT(p))"),
      ("0.5", "SQRT(p)"),
      ("0.75", "SQRT(p) * SQRT(SQRT(p))"),
      ("1.0", "p")).map { case (a, s) => block(a, s) }
    s"""WITH ps AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |tt AS (SELECT SUM(n_docs) AS n_total FROM ps
       |  HAVING SUM(n_docs) > 0),
       |base AS (
       |  SELECT source, CAST(n_docs AS DOUBLE) / n_total AS p
       |  FROM ps CROSS JOIN tt)
       |${blocks.mkString("\nUNION ALL\n")}
       |ORDER BY alpha, source""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_sample_coverage_audit: does the deterministic 5% hash sample
  // (llm_sample_hash's rule, verbatim) PRESERVE the source mix? Per
  // source: full-corpus share vs in-sample share and the PSI term
  // (floored shares, the st_value_drift convention); plus the total
  // PSI and a stable/moderate/shifted verdict. The audit every
  // hash-sampled eval set needs before its numbers are trusted: a
  // content hash correlated with source (e.g. boilerplate-heavy
  // sources hashing into narrow ranges) silently reweights the mix —
  // this measures exactly that failure.
  // Scale shape: ONE corpus scan — full and sampled counts are
  // conditional aggregates in the SAME source-grain groupBy (the
  // sample predicate is a per-row hash test, not a join); everything
  // downstream is arithmetic on the source-cardinality table.
  // Determinism: integer counts; floored integer-ratio shares; terms
  // DECIMAL-quantized; verdict gates the RAW total.
  def sampleCoverageAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bySource = Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_full"),
        sum(when(h60($"text") % 100 < 5, 1L).otherwise(0L))
          .as("n_samp")).localCheckpoint()
    val tot = bySource.agg(sum($"n_full").as("nf"), sum($"n_samp").as("ns"))
      .filter($"nf" > 0 && $"ns" > 0)
    val terms = bySource.crossJoin(broadcast(tot))
      .select($"source", $"n_full", $"n_samp",
        greatest($"n_full".cast("double") / $"nf", lit(1e-4)).as("p_full"),
        greatest($"n_samp".cast("double") / $"ns", lit(1e-4)).as("p_samp"))
      .withColumn("term",
        (($"p_samp" - $"p_full") * log($"p_samp" / $"p_full"))
          .cast(DecimalType(28, 12)))
    val psi = terms.agg(sum($"term").cast("double").as("psi"))
    terms.crossJoin(broadcast(psi))
      .select($"source", $"n_full", $"n_samp",
        round($"p_full", 6).as("p_full"),
        round($"p_samp", 6).as("p_samp"),
        round($"term".cast("double"), 6).as("psi_term"),
        round($"psi", 6).as("psi_total"),
        when($"psi" < 0.1, lit("stable"))
          .when($"psi" < 0.25, lit("moderate"))
          .otherwise(lit("shifted")).as("verdict"))
      .orderBy($"source")
  }

  val sampleCoverageAuditSql: String =
    s"""WITH b AS (
       |  SELECT source, COUNT(*) AS n_full,
       |    SUM(CASE WHEN ${h60Sql("text")} % 100 < 5 THEN 1 ELSE 0 END)
       |      AS n_samp
       |  FROM documents GROUP BY 1),
       |t AS (SELECT SUM(n_full) AS nf, SUM(n_samp) AS ns FROM b
       |  HAVING SUM(n_full) > 0 AND SUM(n_samp) > 0),
       |terms AS (
       |  SELECT b.source, b.n_full, b.n_samp,
       |    GREATEST(CAST(b.n_full AS DOUBLE) / t.nf,
       |      CAST(0.0001 AS DOUBLE)) AS p_full,
       |    GREATEST(CAST(b.n_samp AS DOUBLE) / t.ns,
       |      CAST(0.0001 AS DOUBLE)) AS p_samp
       |  FROM b CROSS JOIN t),
       |tt AS (
       |  SELECT source, n_full, n_samp, p_full, p_samp,
       |    CAST((p_samp - p_full) * LN(p_samp / p_full)
       |      AS DECIMAL(28,12)) AS term
       |  FROM terms),
       |p AS (SELECT CAST(SUM(term) AS DOUBLE) AS psi FROM tt)
       |SELECT tt.source, CAST(tt.n_full AS BIGINT) AS n_full,
       |  CAST(tt.n_samp AS BIGINT) AS n_samp,
       |  ROUND(tt.p_full, 6) AS p_full,
       |  ROUND(tt.p_samp, 6) AS p_samp,
       |  ROUND(CAST(tt.term AS DOUBLE), 6) AS psi_term,
       |  ROUND(p.psi, 6) AS psi_total,
       |  CASE WHEN p.psi < 0.1 THEN 'stable'
       |    WHEN p.psi < 0.25 THEN 'moderate'
       |    ELSE 'shifted' END AS verdict
       |FROM tt CROSS JOIN p ORDER BY tt.source""".stripMargin

  // --------------------------------------------------------------------
  // llm_sample_lang_quota: per-language token-budget selection — keep
  // each language's highest-quality documents until 30% of THAT
  // language's tokens are filled, and report the per-language fill
  // (docs kept, tokens kept vs quota, the quality floor the quota
  // buys). The grouped twin of llm_pipeline_budget: a global budget
  // lets high-resource languages starve the tail, a per-lang quota is
  // how multilingual mixes are actually provisioned — and the
  // quality-floor column exposes the real cost (the floor a 30% quota
  // buys in a small language is far below the big-language floor).
  //
  // Spec = per-lang prefix of the (quality DESC, doc_id) order whose
  // running token sum fits the lang quota. Scale shape: the budget
  // decomposition applied PER GROUP — quality buckets (a step function
  // of each lang's order), a (lang × 20)-row bucket table whose
  // cumulative window partitions by lang (bounded rows per partition),
  // whole under-quota buckets kept sort-free, and ONLY each lang's
  // single boundary bucket pays an ordered within-bucket running sum
  // (a window partitioned by (lang, bucket) — never a lang-wide or
  // global sort; at any corpus size no task sees more than one
  // bucket of one language).
  // Determinism: integer token sums; quality is taQuality's 6-dp
  // double (identical both engines); the bucket id is a monotone step
  // of quality, so bucket boundaries align with the order exactly.
  def sampleLangQuota(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = TextAnalysis.taQuality(spark, dir)
      .select($"doc_id", $"n_tokens".cast("long").as("tok"), $"quality")
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang"), "doc_id")
      .select($"doc_id", $"lang", $"tok", $"quality",
        least(floor($"quality" * 20).cast("int"), lit(19)).as("bkt"))
      .localCheckpoint()
    val wCum = Window.partitionBy($"lang").orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"lang").orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bt = q.groupBy($"lang", $"bkt")
      .agg(sum($"tok").as("tok_b"), count(lit(1)).as("n_b"))
      .withColumn("cum_b", sum($"tok_b").over(wCum))
      .withColumn("tot", sum($"tok_b").over(wAll))
      .withColumn("n_docs", sum($"n_b").over(wAll))
      .withColumn("quota", expr("tot * 3 div 10"))
      .withColumn("cum_prev", $"cum_b" - $"tok_b")
      .select($"lang", $"bkt", $"cum_b", $"cum_prev", $"tot", $"n_docs",
        $"quota")
      .localCheckpoint()
    val joined = q.join(broadcast(bt), Seq("lang", "bkt"))
    val full = joined.filter($"cum_b" <= $"quota")
      .select($"lang", $"tok", $"quality")
    val wIn = Window.partitionBy($"lang", $"bkt")
      .orderBy($"quality".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter($"cum_prev" <= $"quota" && $"cum_b" > $"quota")
      .withColumn("wcum", sum($"tok").over(wIn))
      .filter($"cum_prev" + $"wcum" <= $"quota")
      .select($"lang", $"tok", $"quality")
    val kept = full.union(boundary).groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"tok").as("tokens_kept"),
        min($"quality").as("min_quality_kept"))
    bt.select($"lang", $"n_docs", $"tot".as("tokens_total"),
        $"quota".as("quota_tokens")).distinct()
      .join(kept, "lang")
      .select($"lang", $"n_docs", $"n_kept", $"tokens_total",
        $"tokens_kept", $"quota_tokens",
        round($"n_kept".cast("double") / $"n_docs", 6).as("kept_doc_share"),
        $"min_quality_kept")
      .orderBy($"lang")
  }

  // The oracle states the SPEC (per-lang global ordered prefix sum) —
  // the grouped bucketed plan must reproduce it exactly.
  val sampleLangQuotaSql: String =
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |j AS (SELECT q.doc_id, d.lang, CAST(q.n_tokens AS BIGINT) AS tok,
       |    q.quality
       |  FROM q JOIN documents d ON q.doc_id = d.doc_id),
       |t AS (SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(tok) AS BIGINT) AS tokens_total,
       |    CAST(SUM(tok) AS BIGINT) * 3 // 10 AS quota_tokens
       |  FROM j GROUP BY lang),
       |r AS (SELECT lang, doc_id, tok, quality,
       |    SUM(tok) OVER (PARTITION BY lang
       |      ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM j),
       |k AS (SELECT r.lang, COUNT(*) AS n_kept,
       |    CAST(SUM(r.tok) AS BIGINT) AS tokens_kept,
       |    MIN(r.quality) AS min_quality_kept
       |  FROM r JOIN t ON r.lang = t.lang
       |  WHERE r.cum <= t.quota_tokens GROUP BY r.lang)
       |SELECT t.lang, CAST(t.n_docs AS BIGINT) AS n_docs,
       |  CAST(k.n_kept AS BIGINT) AS n_kept, t.tokens_total,
       |  k.tokens_kept, t.quota_tokens,
       |  ROUND(CAST(k.n_kept AS DOUBLE) / t.n_docs, 6) AS kept_doc_share,
       |  k.min_quality_kept
       |FROM t JOIN k ON t.lang = k.lang ORDER BY t.lang""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "llm_sample_group_kfold" -> (sampleGroupKfold _, sampleGroupKfoldSql),
    "llm_sample_lang_quota" -> (sampleLangQuota _, sampleLangQuotaSql),
    "llm_sample_coverage_audit" -> (sampleCoverageAudit _, sampleCoverageAuditSql),
    "llm_sample_temperature_sweep" -> (sampleTemperatureSweep _, sampleTemperatureSweepSql),
    "llm_sample_ht" -> (sampleHt _, sampleHtSql),
    "llm_sample_alloc_variance" -> (sampleAllocVariance _, sampleAllocVarianceSql),
    "llm_sample_deff" -> (sampleDeff _, sampleDeffSql),
    "llm_sample_pps" -> (samplePps _, samplePpsSql),
    "llm_sample_ess" -> (sampleEss _, sampleEssSql),
    "llm_sample_clip_sweep" -> (sampleClipSweep _, sampleClipSweepSql),
    "llm_sample_dedup_weights" -> (sampleDedupWeights _, sampleDedupWeightsSql),
    "llm_sample_kfold" -> (sampleKfold _, sampleKfoldSql),
    "llm_sample_bootstrap" -> (sampleBootstrap _, sampleBootstrapSql),
    "llm_sample_es_topk" -> (sampleEsTopK _, sampleEsTopKSql),
    "llm_sample_hash" -> (sampleHash _, sampleHashSql),
    "llm_sample_stratified" -> (sampleStratified _, sampleStratifiedSql),
    "llm_sample_weighted" -> (sampleWeighted _, sampleWeightedSql),
    "llm_sample_mixture" -> (sampleMixture _, sampleMixtureSql),
    "llm_sample_resample" -> (sampleResample _, sampleResampleSql),
    "llm_sample_lang_balance" -> (sampleLangBalance _, sampleLangBalanceSql),
    "llm_sample_dsir" -> (sampleDsir _, sampleDsirSql),
    "llm_sample_neyman" -> (sampleNeyman _, sampleNeymanSql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
