package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact
import graft.sources.Tables
import TextAnalysis.{h60, h60Sql}

/** End-to-end curation pipeline over `documents` — the composition the
  * individual operators exist FOR, as one declarative query:
  *
  *   1. duplicate-cluster canonicalization (keep cluster minimum —
  *      [[Dedup.ddCluster]]),
  *   2. heuristic quality floor ([[TextAnalysis.taQuality]] ≥ 0.5),
  *   3. language-ID agreement filter ([[TextAnalysis.taLangId]]),
  *   4. deterministic 50% content-hash split ([[Sampling]] h60 rule).
  *
  * Each stage is the same DataFrame the standalone query returns, so
  * the pipeline inherits every stage's scale shape (narrow scoring
  * scans; the CC join; equi-joins on doc_id for composition — all
  * partial-aggregable or broadcastable). Catalyst fuses the three
  * narrow scoring scans of `documents` into whole-stage-codegen'd
  * passes over the same cached scan; only the cluster stage shuffles.
  * The point of the query is the compositional contract: a user can
  * run the whole curation as ONE plan and get engine-verified results.
  */
object Pipeline {

  def curate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val canonical = Dedup.ddCluster(spark, dir)
      .filter($"doc_id" === $"cluster_id")
      .select($"doc_id", $"cluster_size")
    val quality = TextAnalysis.taQuality(spark, dir)
      .filter($"quality" >= 0.5)
      .select($"doc_id", $"quality")
    val lang = TextAnalysis.taLangId(spark, dir)
      .filter($"is_correct")
      .select($"doc_id", $"pred_lang")
    val split = Tables.documents(spark, dir)
      .select($"doc_id", (h60($"text") % 100).as("bucket"))
      .filter($"bucket" < 50)
    canonical
      .join(quality, Seq("doc_id"))
      .join(lang, Seq("doc_id"))
      .join(split, Seq("doc_id"))
      .select($"doc_id", $"pred_lang", $"quality", $"cluster_size", $"bucket")
      .orderBy($"doc_id")
  }

  // Stage CTEs embed the standalone oracles verbatim (nested WITH /
  // WITH RECURSIVE), so the composed oracle is definitionally the
  // composition of the verified stages.
  val curateSql: String =
    s"""WITH cc AS (${Dedup.ddClusterSql}),
       |q AS (${TextAnalysis.taQualitySql}),
       |l AS (${TextAnalysis.taLangIdSql}),
       |sp AS (SELECT doc_id, ${h60Sql("text")} % 100 AS bucket
       |  FROM documents WHERE ${h60Sql("text")} % 100 < 50)
       |SELECT cc.doc_id, l.pred_lang, q.quality, cc.cluster_size, sp.bucket
       |FROM cc
       |JOIN q ON cc.doc_id = q.doc_id
       |JOIN l ON cc.doc_id = l.doc_id
       |JOIN sp ON cc.doc_id = sp.doc_id
       |WHERE cc.doc_id = cc.cluster_id AND q.quality >= 0.5 AND l.is_correct
       |ORDER BY cc.doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_attrition: per-stage attrition report for the
  // curation pipeline — how many documents each filter removes, in
  // pipeline order (total → canonical-dedup → quality → lang →
  // split). The sign-off artifact of any curation run: deletion
  // volume per cause, before anyone trains on the output. Stage
  // counts are CONJUNCTIVE in pipeline order, so each "dropped"
  // number is attributable to exactly one stage.
  //
  // Scale shape: every stage table is per-doc and equi-joins on
  // doc_id (the curate plan's own shape); the funnel reduces through
  // one partial-aggregable 1-row aggregate, and the 5-row report
  // comes from a generator over it (the q38 pattern — a 5-way union
  // would re-plan the whole pipeline per branch).
  def attrition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flags = Dedup.ddCluster(spark, dir)
      .select($"doc_id", ($"doc_id" === $"cluster_id").cast("int").as("cc_ok"))
      .join(TextAnalysis.taQuality(spark, dir)
        .select($"doc_id", ($"quality" >= 0.5).cast("int").as("q_ok")),
        Seq("doc_id"))
      .join(TextAnalysis.taLangId(spark, dir)
        .select($"doc_id", $"is_correct".cast("int").as("l_ok")), Seq("doc_id"))
      .join(Tables.documents(spark, dir)
        .select($"doc_id", (h60($"text") % 100 < 50).cast("int").as("sp_ok")),
        Seq("doc_id"))
    // coalesce: defined zeros (not NULLs) on an empty corpus
    val t = flags.agg(count(lit(1)).as("n0"),
      coalesce(sum($"cc_ok"), lit(0L)).as("n1"),
      coalesce(sum($"cc_ok" * $"q_ok"), lit(0L)).as("n2"),
      coalesce(sum($"cc_ok" * $"q_ok" * $"l_ok"), lit(0L)).as("n3"),
      coalesce(sum($"cc_ok" * $"q_ok" * $"l_ok" * $"sp_ok"), lit(0L)).as("n4"))
    // Vacuous-0.0 on an empty previous stage: 0/0 is NaN in Spark but
    // engine-dependent in DuckDB (ieee_floating_point_ops), so the
    // division is guarded on both sides — same convention as
    // ddLshRecall's empty-set 1.0.
    def rate(dropped: org.apache.spark.sql.Column,
        prev: org.apache.spark.sql.Column) =
      when(prev === 0, lit(0.0))
        .otherwise(round(dropped.cast("double") / prev, 6))
    t.select(explode(array(
        struct(lit(0).as("stage"), lit("total").as("name"),
          $"n0".as("n_docs"), lit(0L).as("dropped"), lit(0.0).as("drop_rate")),
        struct(lit(1).as("stage"), lit("canonical_dedup").as("name"),
          $"n1".as("n_docs"), ($"n0" - $"n1").as("dropped"),
          rate($"n0" - $"n1", $"n0").as("drop_rate")),
        struct(lit(2).as("stage"), lit("quality").as("name"),
          $"n2".as("n_docs"), ($"n1" - $"n2").as("dropped"),
          rate($"n1" - $"n2", $"n1").as("drop_rate")),
        struct(lit(3).as("stage"), lit("lang_agreement").as("name"),
          $"n3".as("n_docs"), ($"n2" - $"n3").as("dropped"),
          rate($"n2" - $"n3", $"n2").as("drop_rate")),
        struct(lit(4).as("stage"), lit("hash_split").as("name"),
          $"n4".as("n_docs"), ($"n3" - $"n4").as("dropped"),
          rate($"n3" - $"n4", $"n3").as("drop_rate")))).as("r"))
      .select($"r.stage", $"r.name", $"r.n_docs", $"r.dropped", $"r.drop_rate")
      .orderBy($"stage")
  }

  val attritionSql: String =
    s"""WITH cc AS (${Dedup.ddClusterSql}),
       |q AS (${TextAnalysis.taQualitySql}),
       |l AS (${TextAnalysis.taLangIdSql}),
       |fl AS (
       |  SELECT cc.doc_id,
       |    CASE WHEN cc.doc_id = cc.cluster_id THEN 1 ELSE 0 END AS cc_ok,
       |    CASE WHEN q.quality >= 0.5 THEN 1 ELSE 0 END AS q_ok,
       |    CASE WHEN l.is_correct THEN 1 ELSE 0 END AS l_ok,
       |    CASE WHEN ${h60Sql("d.text")} % 100 < 50 THEN 1 ELSE 0 END AS sp_ok
       |  FROM cc
       |  JOIN q ON cc.doc_id = q.doc_id
       |  JOIN l ON cc.doc_id = l.doc_id
       |  JOIN documents d ON cc.doc_id = d.doc_id),
       |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
       |    CAST(COALESCE(SUM(cc_ok), 0) AS BIGINT) AS n1,
       |    CAST(COALESCE(SUM(cc_ok * q_ok), 0) AS BIGINT) AS n2,
       |    CAST(COALESCE(SUM(cc_ok * q_ok * l_ok), 0) AS BIGINT) AS n3,
       |    CAST(COALESCE(SUM(cc_ok * q_ok * l_ok * sp_ok), 0) AS BIGINT) AS n4
       |  FROM fl)
       |SELECT 0 AS stage, 'total' AS name, n0 AS n_docs,
       |  CAST(0 AS BIGINT) AS dropped, CAST(0.0 AS DOUBLE) AS drop_rate FROM t
       |UNION ALL SELECT 1, 'canonical_dedup', n1, n0 - n1,
       |  CASE WHEN n0 = 0 THEN 0.0
       |    ELSE ROUND(CAST(n0 - n1 AS DOUBLE) / n0, 6) END FROM t
       |UNION ALL SELECT 2, 'quality', n2, n1 - n2,
       |  CASE WHEN n1 = 0 THEN 0.0
       |    ELSE ROUND(CAST(n1 - n2 AS DOUBLE) / n1, 6) END FROM t
       |UNION ALL SELECT 3, 'lang_agreement', n3, n2 - n3,
       |  CASE WHEN n2 = 0 THEN 0.0
       |    ELSE ROUND(CAST(n2 - n3 AS DOUBLE) / n2, 6) END FROM t
       |UNION ALL SELECT 4, 'hash_split', n4, n3 - n4,
       |  CASE WHEN n3 = 0 THEN 0.0
       |    ELSE ROUND(CAST(n3 - n4 AS DOUBLE) / n3, 6) END FROM t
       |ORDER BY stage""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_pack: training-shard packing — assign documents to
  // fixed token-budget shards (next-fit by running total), the step
  // that materializes a curated corpus into pretraining shards.
  // Deterministic: docs are salted into W buckets by doc_id and packed
  // within each bucket in doc_id order; a doc goes to the shard where
  // its bucket's running total starts. The running-total window
  // partitions on the BUCKET key (W ≈ cluster parallelism, uniform by
  // construction — never a data-dependent skew key), which is how a
  // global "cumulative sum" survives 100 TB: one bounded sequential
  // scan per bucket instead of one global sort task.
  private val PackBudget = 2000L
  private val PackBuckets = 8L

  def pack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_toks"),
        pmod($"doc_id", lit(PackBuckets)).as("bucket"))
    val w = Window.partitionBy($"bucket").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("cum_toks", sum($"n_toks").over(w))
      .select($"doc_id", $"n_toks", $"bucket",
        expr(s"(cum_toks - n_toks) div $PackBudget").as("shard"),
        $"cum_toks")
      .orderBy($"doc_id")
  }

  val packSql: String =
    s"""WITH t AS (SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    doc_id % $PackBuckets AS bucket
       |  FROM documents),
       |c AS (SELECT doc_id, n_toks, bucket,
       |    CAST(SUM(n_toks) OVER (PARTITION BY bucket ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_toks
       |  FROM t)
       |SELECT doc_id, n_toks, bucket,
       |  CAST((cum_toks - n_toks) // $PackBudget AS BIGINT) AS shard,
       |  cum_toks
       |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_shard_sizes: packing fill audit — per (bucket, shard)
  // document count, token fill, and fill rate against the budget. The
  // diagnostic a shard planner reads after llm_pipeline_pack: a
  // next-fit packer leaves the tail shard of each bucket underfull,
  // and oversized docs overflow their shard — both visible here
  // before training jobs consume skewed shards.
  //
  // Scale shape: one partial-aggregable groupBy on the bounded
  // (bucket, shard) key over pack's output — no new corpus-sized
  // state.
  def shardSizes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pack(spark, dir)
      .groupBy($"bucket", $"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_toks").as("fill_toks"))
      .select($"bucket", $"shard", $"n_docs", $"fill_toks",
        round($"fill_toks".cast("double") / lit(PackBudget.toDouble), 6)
          .as("fill_rate"))
      .orderBy($"bucket", $"shard")
  }

  val shardSizesSql: String =
    s"""WITH p AS ($packSql)
       |SELECT bucket, shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS fill_toks,
       |  ROUND(CAST(SUM(n_toks) AS DOUBLE) / $PackBudget.0, 6) AS fill_rate
       |FROM p GROUP BY bucket, shard
       |ORDER BY bucket, shard""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_split: LEAKAGE-SAFE train/val/test assignment — the
  // split key is the duplicate-CLUSTER id, not the document id, so
  // near-duplicate documents always land in the same split (a doc-id
  // hash split leaks: a train doc's near-copy lands in test and
  // inflates eval). 80/10/10 by the deterministic content-family hash
  // h60(cluster_id); every member of a cluster inherits its
  // assignment. Scale shape: ddCluster's output + one narrow hash
  // projection — no new shuffle beyond the cluster computation itself.
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.ddCluster(spark, dir)
      .withColumn("bucket", h60($"cluster_id".cast("string")) % 100)
      .select($"doc_id", $"cluster_id",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  val splitSql: String =
    s"""WITH cc AS (${Dedup.ddClusterSql}),
       |b AS (SELECT doc_id, cluster_id,
       |    ${h60Sql("CAST(cluster_id AS VARCHAR)")} % 100 AS bucket
       |  FROM cc)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_split_audit: the leakage check itself — one row
  // proving the split's contract: straddling_clusters counts
  // duplicate clusters whose members landed in MORE THAN ONE split
  // (must be 0 by construction, and now it's a MEASURED 0 — eval
  // contamination via near-dups is the highest-stakes silent failure
  // a data pipeline has), plus realized train/val/test shares against
  // the 80/10/10 spec (hash buckets realize the spec only in
  // expectation; the audit shows the actual draw).
  //
  // Scale shape: per-cluster split-cardinality is one
  // partial-aggregable groupBy on cluster_id (the split already
  // shuffles on it); the audit reduces that table and the doc-level
  // conditional sums to ONE row.
  def splitAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = leakageSafeSplit(spark, dir)
      .select($"doc_id", $"cluster_id", $"split")
      .localCheckpoint() // feeds the per-cluster and per-doc reductions
    val perCluster = s.groupBy($"cluster_id")
      .agg(countDistinct($"split").as("n_splits"))
    val straddle = perCluster.agg(
      count(lit(1)).as("n_clusters"),
      sum(when($"n_splits" > 1, 1L).otherwise(0L))
        .as("straddling_clusters"))
    s.agg(
      count(lit(1)).as("n_docs"),
      round(sum(when($"split" === "train", 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("train_share"),
      round(sum(when($"split" === "val", 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("val_share"),
      round(sum(when($"split" === "test", 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("test_share"))
      .crossJoin(straddle)
      .select($"n_docs", $"n_clusters", $"straddling_clusters",
        $"train_share", $"val_share", $"test_share")
  }

  val splitAuditSql: String =
    s"""WITH s AS ($splitSql),
       |pc AS (SELECT cluster_id, COUNT(DISTINCT split) AS n_splits
       |  FROM s GROUP BY cluster_id),
       |st AS (SELECT COUNT(*) AS n_clusters,
       |    CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS straddling_clusters
       |  FROM pc),
       |d AS (SELECT COUNT(*) AS n_docs,
       |    ROUND(CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
       |      AS DOUBLE) / COUNT(*), 6) AS train_share,
       |    ROUND(CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
       |      AS DOUBLE) / COUNT(*), 6) AS val_share,
       |    ROUND(CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
       |      AS DOUBLE) / COUNT(*), 6) AS test_share
       |  FROM s)
       |SELECT n_docs, n_clusters, straddling_clusters,
       |  train_share, val_share, test_share
       |FROM d CROSS JOIN st""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_e2e: the COMPLETE corpus→training-shards
  // materialization as one declarative plan — curate (CC-dedup ∧
  // quality ∧ lang ∧ hash-split), context-window chunking of the
  // surviving documents, then token-budget shard packing of the
  // chunks. This is the query a pretraining data job actually runs;
  // every stage is the same DataFrame its standalone verified query
  // returns, so the plan inherits each stage's scale shape: the only
  // wide ops are the curation joins, the CC stage inside them, and
  // the bucket-partitioned running total — chunking is a narrow
  // generator in between, and a doc's chunks stay contiguous in
  // (bucket, doc_id, chunk_id) order so shards hold runs of
  // consecutive context windows.
  def e2e(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val curated = curate(spark, dir).select($"doc_id")
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text")
      .join(curated, "doc_id")
    val chunks = TextAnalysis.chunkOf(docs)
      .select($"doc_id", $"chunk_id",
        size($"chunk").cast("long").as("n_toks"),
        pmod($"doc_id", lit(PackBuckets)).as("bucket"))
    val w = Window.partitionBy($"bucket").orderBy($"doc_id", $"chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum_toks", sum($"n_toks").over(w))
      .select($"doc_id", $"chunk_id", $"n_toks", $"bucket",
        expr(s"(cum_toks - n_toks) div $PackBudget").as("shard"),
        $"cum_toks")
      .orderBy($"doc_id", $"chunk_id")
  }

  val e2eSql: String =
    s"""WITH cur AS ($curateSql),
       |t AS (SELECT d.doc_id, string_split(d.text, ' ') AS toks
       |  FROM documents d JOIN cur ON d.doc_id = cur.doc_id),
       |s AS (SELECT doc_id, toks,
       |    unnest(range(0, len(toks), 48)) AS start FROM t),
       |c AS (SELECT doc_id,
       |    CAST(start // 48 AS BIGINT) AS chunk_id,
       |    CAST(len(list_slice(toks, start + 1, start + 64)) AS BIGINT) AS n_toks,
       |    doc_id % $PackBuckets AS bucket
       |  FROM s),
       |w AS (SELECT doc_id, chunk_id, n_toks, bucket,
       |    CAST(SUM(n_toks) OVER (PARTITION BY bucket
       |      ORDER BY doc_id, chunk_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_toks
       |  FROM c)
       |SELECT doc_id, chunk_id, n_toks, bucket,
       |  CAST((cum_toks - n_toks) // $PackBudget AS BIGINT) AS shard,
       |  cum_toks
       |FROM w ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_shuffle: deterministic training-order shuffle — the
  // final step before shards feed an SGD loop: break source/crawl
  // locality so consecutive training examples are (pseudo)independent.
  // Each doc is keyed by a content-derived hash (h60 over text and
  // doc_id, so byte-identical duplicates still spread apart), sharded
  // by hash mod W, and ordered WITHIN its shard by (hash, doc_id).
  // Reading shards 0..W-1 in within-shard order yields a permutation
  // of the corpus that is reproducible across engines and re-runs —
  // no RNG state, no epoch-seed file.
  //
  // Scale shape: the global permutation is the TeraSort decomposition
  // — ONE shuffle on the uniform shard key, then a partition-local
  // sort + row_number per shard (W ≈ cluster parallelism; the hash
  // key is uniform by construction, so no shard skews). A single
  // global orderBy/row_number would funnel 100 TB through one range
  // boundary computation + one window task; this shape never holds
  // more than a shard in one task.
  private val ShuffleShards = 8L

  def shuffleOrder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id",
        h60(concat($"text", lit("|"), $"doc_id".cast("string"))).as("h"))
      .withColumn("shard", pmod($"h", lit(ShuffleShards)))
    val w = Window.partitionBy($"shard").orderBy($"h", $"doc_id")
    keyed.withColumn("pos", row_number().over(w))
      .select($"doc_id", $"shard", $"pos", $"h")
      .orderBy($"shard", $"pos")
  }

  val shuffleOrderSql: String =
    s"""WITH k AS (SELECT doc_id,
       |    ${h60Sql("text || '|' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents),
       |s AS (SELECT doc_id, h, h % $ShuffleShards AS shard FROM k)
       |SELECT doc_id, shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
       |    AS INT) AS pos,
       |  h
       |FROM s ORDER BY shard, pos""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_drift: corpus drift monitoring — compare the language
  // distribution of an incoming batch (source = 'src0', the same
  // batch-vs-corpus split llm_dd_incremental uses) against the
  // existing corpus and flag languages whose share moved more than 2
  // points. The check a continuously-fed training pipeline runs
  // before accepting a crawl drop: a language mix shift signals a
  // crawler/extraction regression upstream, and catching it here is
  // cheaper than catching it in model evals. full-outer on the
  // language key so a language APPEARING (or vanishing) in the batch
  // is a flagged row, not a silently dropped one.
  //
  // Scale shape: two partial-aggregable groupBys on lang + two 1-row
  // totals broadcast back; everything after the first aggregate
  // operates on language-cardinality tables. The corpus never
  // shuffles on anything but the bounded lang key.
  def drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir).select($"doc_id", $"source", $"lang")
    def shares(df: DataFrame, n: String, s: String): DataFrame = {
      // language-cardinality, two consumers (total, shares) — once
      val counts = df.groupBy($"lang").agg(count(lit(1)).as(n))
        .localCheckpoint()
      val total = counts.agg(sum(col(n)).as(s + "_total"))
      counts.crossJoin(broadcast(total))
        .select($"lang", col(n),
          round(col(n).cast("double") / col(s + "_total"), 6).as(s))
    }
    val batch = shares(d.filter($"source" === "src0"), "n_batch", "share_batch")
    val corpus = shares(d.filter($"source" =!= "src0"), "n_corpus", "share_corpus")
    batch.join(corpus, Seq("lang"), "full_outer")
      .select($"lang",
        coalesce($"n_batch", lit(0L)).as("n_batch"),
        coalesce($"n_corpus", lit(0L)).as("n_corpus"),
        coalesce($"share_batch", lit(0.0)).as("share_batch"),
        coalesce($"share_corpus", lit(0.0)).as("share_corpus"),
        round(coalesce($"share_batch", lit(0.0))
          - coalesce($"share_corpus", lit(0.0)), 6).as("delta"),
        (abs(coalesce($"share_batch", lit(0.0))
          - coalesce($"share_corpus", lit(0.0))) > 0.02).as("drifted"))
      .orderBy($"lang")
  }

  val driftSql: String =
    """WITH d AS (SELECT doc_id, source, lang FROM documents),
      |b AS (SELECT lang, COUNT(*) AS n_batch FROM d
      |  WHERE source = 'src0' GROUP BY lang),
      |bt AS (SELECT CAST(SUM(n_batch) AS BIGINT) AS t FROM b),
      |bs AS (SELECT lang, n_batch,
      |    ROUND(CAST(n_batch AS DOUBLE) / t, 6) AS share_batch
      |  FROM b CROSS JOIN bt),
      |c AS (SELECT lang, COUNT(*) AS n_corpus FROM d
      |  WHERE source <> 'src0' GROUP BY lang),
      |ct AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS t FROM c),
      |cs AS (SELECT lang, n_corpus,
      |    ROUND(CAST(n_corpus AS DOUBLE) / t, 6) AS share_corpus
      |  FROM c CROSS JOIN ct)
      |SELECT COALESCE(bs.lang, cs.lang) AS lang,
      |  COALESCE(n_batch, 0) AS n_batch,
      |  COALESCE(n_corpus, 0) AS n_corpus,
      |  COALESCE(share_batch, 0.0) AS share_batch,
      |  COALESCE(share_corpus, 0.0) AS share_corpus,
      |  ROUND(COALESCE(share_batch, 0.0) - COALESCE(share_corpus, 0.0), 6)
      |    AS delta,
      |  ABS(COALESCE(share_batch, 0.0) - COALESCE(share_corpus, 0.0)) > 0.02
      |    AS drifted
      |FROM bs FULL OUTER JOIN cs ON bs.lang = cs.lang
      |ORDER BY lang""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_budget: token-budget data selection — keep the
  // highest-quality documents until a token budget is filled (here
  // 30% of corpus tokens, integer math so the budget is exact in both
  // engines). The DataComp/FineWeb-style selection step: "train on
  // the best B tokens", not "train on quality >= θ" (a fixed θ can't
  // hit a compute budget).
  //
  // Spec = prefix of the (quality DESC, doc_id) order whose running
  // token sum fits B — but a GLOBAL ordered running sum is the one
  // shape that doesn't distribute (pack's problem, without pack's
  // freedom to salt, because the order is semantic here). Scale
  // shape instead: bucket by quality (bucket = floor(quality·20); a
  // step function of the global order, so bucket boundaries align
  // with it exactly). Bucket token totals are a 20-row aggregate; the
  // bucket-level running sum is a window over those 20 rows (bounded,
  // like the priority list); whole buckets under budget are kept with
  // NO sort; only the single BOUNDARY bucket's rows pay an ordered
  // within-bucket running sum. At 100 TB with a pathologically fat
  // boundary bucket, re-bucket it on a finer quality grid (the same
  // step recursively) — the pattern stays one narrow scan + bounded
  // windows.
  def budget(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Materialized once (localCheckpoint): `q` feeds both the bucket
    // table and the broadcast join below, and unmaterialized the
    // tokenizing taQuality scan re-runs per reference (round-7 bench:
    // the two derivations were most of the isolated 2.0 s). Narrow
    // rows only — four columns, ~30 B/doc — so even a 100 TB corpus's
    // projection fits block storage at ~1/3000 of input size.
    val q = TextAnalysis.taQuality(spark, dir)
      .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"), $"quality",
        least(floor($"quality" * 20).cast("int"), lit(19)).as("bkt"))
      .localCheckpoint()
    val wCum = Window.orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // The 20-row bucket table — totals, running sum, budget (derived
    // from the full-range sum, so the corpus total costs no second
    // scan) — MATERIALIZED once (localCheckpoint, the repo's k-row
    // table convention): both union branches below reference it, and
    // without materialization Catalyst re-derives it per reference,
    // which re-runs the corpus scan + single-partition bucket window
    // SIX times (caught by the PlanSpec guard).
    val bt = q.groupBy($"bkt").agg(sum($"n_tokens").as("tok_b"))
      .withColumn("cum_b", sum($"tok_b").over(wCum))
      .withColumn("tot", sum($"tok_b").over(wAll))
      .withColumn("b_max", expr("tot * 3 div 10"))
      .withColumn("cum_prev", $"cum_b" - $"tok_b")
      .select($"bkt", $"cum_b", $"cum_prev", $"b_max")
      .localCheckpoint()
    val joined = q.join(broadcast(bt), "bkt")
    val full = joined.filter($"cum_b" <= $"b_max")
      .select($"doc_id", $"quality", $"n_tokens")
    val wIn = Window.partitionBy($"bkt").orderBy($"quality".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter($"cum_prev" <= $"b_max" && $"cum_b" > $"b_max")
      .withColumn("wcum", sum($"n_tokens").over(wIn))
      .filter($"cum_prev" + $"wcum" <= $"b_max")
      .select($"doc_id", $"quality", $"n_tokens")
    full.union(boundary).orderBy($"doc_id")
  }

  // The oracle states the SPEC (global ordered prefix sum) — the
  // bucketed plan must reproduce it exactly.
  val budgetSql: String =
    s"""WITH q AS (${TextAnalysis.taQualitySql}),
       |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) * 3 // 10 AS b_max FROM q),
       |r AS (SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    SUM(CAST(n_tokens AS BIGINT)) OVER (ORDER BY quality DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM q)
       |SELECT doc_id, quality, n_tokens FROM r, t
       |WHERE cum <= b_max ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_dup_sources: duplication attributed to its origin —
  // per source, how many docs sit in a duplicate cluster and how many
  // are removable (non-canonical members, i.e. the deletion volume),
  // worst offender first. llm_dd_cluster_sizes says HOW MUCH duplication
  // exists; this says WHERE it comes from — the governance view that
  // turns a dedup pass into a crawler/source decision (a source whose
  // removable_rate spikes is re-crawling or mirroring content).
  //
  // Scale shape: one equi-join on doc_id between the session-cached
  // cluster labels and a narrow (doc_id, source) scan, then a
  // partial-aggregable groupBy on the source key (bounded cardinality);
  // conditional sums reduce map-side, output is source-count rows.
  def dupSources(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = Dedup.ddCluster(spark, dir)
      .select($"doc_id", $"cluster_id", $"cluster_size")
    Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(labels, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"cluster_size" > 1, 1L).otherwise(0L)).as("n_in_dup_cluster"),
        sum(when($"doc_id" =!= $"cluster_id", 1L).otherwise(0L)).as("n_removable"))
      .select($"source", $"n_docs", $"n_in_dup_cluster", $"n_removable",
        round($"n_removable".cast("double") / $"n_docs", 6)
          .as("removable_rate"))
      .orderBy($"removable_rate".desc, $"source")
  }

  val dupSourcesSql: String =
    s"""WITH c AS (${Dedup.ddClusterSql})
       |SELECT d.source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN c.cluster_size > 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_in_dup_cluster,
       |  CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_removable,
       |  ROUND(CAST(SUM(CASE WHEN c.doc_id <> c.cluster_id THEN 1 ELSE 0
       |    END) AS DOUBLE) / COUNT(*), 6) AS removable_rate
       |FROM documents d JOIN c ON d.doc_id = c.doc_id
       |GROUP BY d.source
       |ORDER BY removable_rate DESC, source""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_source_overlap: cross-source duplication matrix —
  // for every source pair, how many duplicate clusters contain docs
  // from BOTH, with per-side doc counts. dup_sources says how much
  // each source duplicates; this says WHICH sources mirror each other
  // (the C4-vs-CommonCrawl overlap question), which decides whether
  // to drop a whole feed rather than dedup it document by document.
  //
  // Scale shape: labels filter to dup clusters first, then collapse
  // to the (cluster, source) grain — cluster-count-sized, not
  // doc-count-sized — before the self-join on cluster_id; the matrix
  // reduces over the bounded source×source key.
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSrc = Tables.documents(spark, dir).select($"doc_id", $"source")
      .join(Dedup.ddCluster(spark, dir)
        .select($"doc_id", $"cluster_id", $"cluster_size"), "doc_id")
      .filter($"cluster_size" > 1)
      .groupBy($"cluster_id", $"source")
      .agg(count(lit(1)).as("n_docs"))
      .localCheckpoint() // both sides of the pair join
    perSrc.as("a")
      .join(perSrc.as("b"),
        col("a.cluster_id") === col("b.cluster_id")
          && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_clusters"),
        sum(col("a.n_docs")).as("n_docs_a"),
        sum(col("b.n_docs")).as("n_docs_b"))
      .orderBy($"n_shared_clusters".desc, $"source_a", $"source_b")
  }

  val sourceOverlapSql: String =
    s"""WITH c AS (${Dedup.ddClusterSql}),
       |l AS (SELECT c.doc_id, c.cluster_id, d.source
       |  FROM c JOIN documents d ON c.doc_id = d.doc_id
       |  WHERE c.cluster_size > 1),
       |pc AS (SELECT cluster_id, source, COUNT(*) AS n_docs
       |  FROM l GROUP BY cluster_id, source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  COUNT(*) AS n_shared_clusters,
       |  CAST(SUM(a.n_docs) AS BIGINT) AS n_docs_a,
       |  CAST(SUM(b.n_docs) AS BIGINT) AS n_docs_b
       |FROM pc a JOIN pc b
       |  ON a.cluster_id = b.cluster_id AND a.source < b.source
       |GROUP BY 1, 2
       |ORDER BY n_shared_clusters DESC, source_a, source_b""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_epoch_plan: per-source repetition (epoch) planning
  // under a global token budget — the "how many passes over each
  // source" decision (Muennighoff et al. 2023: data-constrained
  // scaling repeats small high-value sources up to ~4 epochs). Budget
  // B = 2× corpus tokens; each source's target is its temperature
  // share (α = 0.5, the mixture op's flattening) of B; epochs =
  // ceil(target / tokens) capped at 4; planned = min(target,
  // epochs·tokens) — a capped source undershoots its target, which
  // the report makes visible. sqrt (correctly-rounded IEEE) not
  // pow(x, 0.5), and the share denominator Σ√p runs through DECIMAL
  // so the plan is bit-stable at any partitioning.
  //
  // Scale shape: everything after the one groupBy(source) scan
  // operates on the source-cardinality table (tiny by definition);
  // the two 1-row totals ride broadcast nested-loop cross joins.
  private val EpochBudgetMult = 2L
  private val MaxEpochs = 4L

  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // localCheckpoint: the source-cardinality table feeds the total,
    // the Σ√p sum, AND the final projection — unmaterialized, Catalyst
    // re-derives the tokenizing corpus scan per consumer (the
    // shared-subplan convention; the table is |sources| rows)
    // Degenerate-case guards make the planner TOTAL: null text rows
    // (sum over all-null → null tokens), a corpus whose every token
    // count is zero (corpus_toks = 0 → 0/0 raw shares), and the
    // resulting w_sum = 0 each get the defined-zeros convention
    // (share 0, target 0, epochs 0) instead of null/NaN rows whose
    // cross-engine rendering differs. None of them fire on a normal
    // corpus — split() yields ≥1 token per non-null doc — so the
    // guarded plan is hash-identical on real data.
    val per = Tables.documents(spark, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("n_toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum($"n_toks"), lit(0L)).as("tokens"))
      .localCheckpoint()
    val tot = per.agg(coalesce(sum($"tokens"), lit(0L)).as("corpus_toks"))
    val shares = per.crossJoin(tot)
      .withColumn("raw_share", when($"corpus_toks" === 0, lit(0.0))
        .otherwise($"tokens".cast("double") / $"corpus_toks"))
      .withColumn("w", sqrt($"raw_share"))
    val wsum = shares
      .agg(coalesce(Exact.sum($"w"), lit(0.0))
        .as("w_sum"))
    val share = when($"w_sum" === 0, lit(0.0)).otherwise($"w" / $"w_sum")
    val target = share * lit(EpochBudgetMult) * $"corpus_toks"
    val epochs = when($"tokens" === 0, lit(0L))
      .otherwise(least(ceil(target / $"tokens"), lit(MaxEpochs)))
    shares.crossJoin(wsum)
      .select($"source", $"n_docs", $"tokens",
        round($"raw_share", 6).as("raw_share"),
        round(share, 6).as("temp_share"),
        round(target, 6).as("target_toks"),
        epochs.as("epochs"),
        round(least(target, epochs * $"tokens"), 6).as("planned_toks"))
      .orderBy($"source")
  }

  val epochPlanSql: String =
    s"""WITH t AS (SELECT source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
       |  FROM documents),
       |per AS (SELECT source, COUNT(*) AS n_docs,
       |    CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS tokens
       |  FROM t GROUP BY source),
       |tot AS (SELECT CAST(COALESCE(SUM(tokens), 0) AS BIGINT)
       |    AS corpus_toks FROM per),
       |s AS (SELECT per.*, corpus_toks,
       |    CASE WHEN corpus_toks = 0 THEN 0.0
       |      ELSE CAST(tokens AS DOUBLE) / corpus_toks END AS raw_share,
       |    SQRT(CASE WHEN corpus_toks = 0 THEN 0.0
       |      ELSE CAST(tokens AS DOUBLE) / corpus_toks END) AS w
       |  FROM per CROSS JOIN tot),
       |ws AS (SELECT COALESCE(CAST(SUM(CAST(w AS DECIMAL(28,12)))
       |    AS DOUBLE), 0.0) AS w_sum FROM s),
       |x AS (SELECT s.*, w_sum,
       |    CASE WHEN w_sum = 0 THEN 0.0 ELSE w / w_sum END AS sh
       |  FROM s CROSS JOIN ws),
       |y AS (SELECT x.*, sh * $EpochBudgetMult * corpus_toks AS target,
       |    CASE WHEN tokens = 0 THEN 0
       |      ELSE CAST(LEAST(CEIL(sh * $EpochBudgetMult * corpus_toks
       |        / tokens), $MaxEpochs) AS BIGINT) END AS epochs
       |  FROM x)
       |SELECT source, n_docs, tokens,
       |  ROUND(raw_share, 6) AS raw_share,
       |  ROUND(sh, 6) AS temp_share,
       |  ROUND(target, 6) AS target_toks,
       |  epochs,
       |  ROUND(LEAST(target, epochs * tokens), 6) AS planned_toks
       |FROM y ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_curriculum: length-staged training order — short
  // (easy) documents first, the classic curriculum-learning schedule,
  // with a deterministic within-stage shuffle so each stage is still
  // i.i.d.-looking. The contract is an exact, reproducible GLOBAL
  // position per document, which is the shape that usually doesn't
  // distribute (a global row_number is one sequential task). Scale
  // decomposition, same discipline as [[budget]] and [[pack]]:
  //   stage  = fixed arithmetic length band (no quantile pass),
  //   bucket = h60 shuffle-hash mod 32 (uniform salt),
  //   pos    = prefix-count of all earlier (stage,bucket) groups
  //            [a 160-row aggregate: window over a bounded table,
  //            broadcast back] + row_number within (stage,bucket)
  //            [window over 160 uniform partitions, never global].
  // Every term is integer arithmetic — hash-exact by construction.
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .select($"doc_id",
        least(floor($"n_chars" / 400).cast("int"), lit(4)).as("stage"),
        (h60(concat(lit("cur:"), $"doc_id".cast("string"))) % 32)
          .cast("int").as("bucket"),
        h60(concat(lit("cur:"), $"doc_id".cast("string"))).as("skey"))
    val wCum = Window.orderBy($"stage", $"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bounded (<=160-row) group table: counts + exclusive prefix sum
    val sb = d.groupBy($"stage", $"bucket").agg(count(lit(1)).as("n"))
      .withColumn("cum_prev", sum($"n").over(wCum) - $"n")
      .select($"stage", $"bucket", $"cum_prev")
      .localCheckpoint()
    val wIn = Window.partitionBy($"stage", $"bucket")
      .orderBy($"skey", $"doc_id")
    d.join(broadcast(sb), Seq("stage", "bucket"))
      .withColumn("rn", row_number().over(wIn))
      .select($"doc_id", $"stage", $"bucket",
        ($"cum_prev" + $"rn").cast("long").as("pos"))
      .orderBy($"pos")
  }

  val curriculumSql: String =
    s"""WITH d AS (SELECT doc_id,
       |    LEAST(CAST(FLOOR(n_chars / 400) AS INT), 4) AS stage,
       |    CAST(${h60Sql("'cur:' || doc_id")} % 32 AS INT) AS bucket,
       |    ${h60Sql("'cur:' || doc_id")} AS skey
       |  FROM documents),
       |sb AS (SELECT stage, bucket, COUNT(*) AS n FROM d GROUP BY 1, 2),
       |cb AS (SELECT stage, bucket,
       |    CAST(SUM(n) OVER (ORDER BY stage, bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
       |      AS BIGINT) AS cum_prev
       |  FROM sb),
       |rn AS (SELECT doc_id, stage, bucket, ROW_NUMBER() OVER
       |    (PARTITION BY stage, bucket ORDER BY skey, doc_id) AS rn
       |  FROM d)
       |SELECT rn.doc_id, rn.stage, rn.bucket,
       |  CAST(cb.cum_prev + rn.rn AS BIGINT) AS pos
       |FROM rn JOIN cb USING (stage, bucket)
       |ORDER BY pos""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_snapshot_diff: incremental-crawl reconciliation — diff
  // two corpus snapshots by content digest and report per-source
  // added/removed/changed/unchanged counts. This is the first stage of
  // every incremental pipeline (only `added`+`changed` re-enter dedup/
  // scoring; `removed` tombstones leave the index), and the per-source
  // churn profile is the crawl-health dashboard. Snapshots are derived
  // deterministically from the fixture so the oracle can replay them:
  // snapshot A (previous crawl) is missing every 13th doc_id and holds a
  // 7-char-truncated "older revision" of every doc_id ≡ 5 (mod 17);
  // snapshot B (current crawl) drops every doc_id ≡ 7 (mod 11). Scale:
  // one full-outer equi-join on doc_id carrying only (doc_id, source,
  // 32-char digest) — never the text — then a partial-agg groupBy.
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val snapA = docs.filter($"doc_id" % 13 =!= 0)
      .select($"doc_id", $"source",
        md5(when($"doc_id" % 17 === 5,
          $"text".substr(lit(1), greatest($"n_chars" - 7, lit(1)).cast("int")))
          .otherwise($"text")).as("dig_a"))
    val snapB = docs.filter($"doc_id" % 11 =!= 7)
      .select($"doc_id", $"source".as("source_b"), md5($"text").as("dig_b"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .select(
        coalesce($"source", $"source_b").as("source"),
        when($"dig_a".isNull, "added")
          .when($"dig_b".isNull, "removed")
          .when($"dig_a" =!= $"dig_b", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"source", $"status")
  }

  val snapshotDiffSql: String =
    """WITH a AS (
      |  SELECT doc_id, source,
      |    md5(CASE WHEN doc_id % 17 = 5
      |      THEN substr(text, 1, CAST(GREATEST(n_chars - 7, 1) AS INT))
      |      ELSE text END) AS dig_a
      |  FROM documents WHERE doc_id % 13 <> 0),
      |b AS (
      |  SELECT doc_id, source AS source_b, md5(text) AS dig_b
      |  FROM documents WHERE doc_id % 11 <> 7),
      |j AS (
      |  SELECT COALESCE(a.source, b.source_b) AS source,
      |    CASE WHEN a.dig_a IS NULL THEN 'added'
      |         WHEN b.dig_b IS NULL THEN 'removed'
      |         WHEN a.dig_a <> b.dig_b THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source, status, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM j GROUP BY source, status
      |ORDER BY source, status""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_validate: declarative data-quality validation suite —
  // the schema/content contract a corpus must pass before entering
  // training (Great-Expectations-style, expressed as Spark aggregates).
  // Five rules: non-empty text, n_chars==length(text) consistency,
  // language in the supported set, doc_id uniqueness, and chars in
  // (0, 100k]. Each row-level rule is one partial-agg conditional count
  // over a single shared scan (the union is of 1-row aggregates, not of
  // scans); uniqueness is the only shuffle (groupBy doc_id). At 100 TB
  // every rule stays a map-side counter; the report is O(rules).
  private val KnownLangs = Seq("de", "en", "es", "fr", "zh")

  def validate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val rowRules = docs.agg(
      count(lit(1)).as("n"),
      sum(when($"text".isNull || length($"text") === 0, 1L).otherwise(0L))
        .as("v_empty"),
      sum(when($"n_chars" =!= length($"text"), 1L).otherwise(0L))
        .as("v_chars"),
      sum(when(!$"lang".isin(KnownLangs: _*), 1L).otherwise(0L))
        .as("v_lang"),
      sum(when($"n_chars" <= 0 || $"n_chars" > 100000L, 1L).otherwise(0L))
        .as("v_range"))
    val dup = docs.groupBy($"doc_id").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_ids"),
        coalesce(sum(when($"c" > 1, $"c").otherwise(0L)), lit(0L))
          .as("v_dup"))
    val r = rowRules.crossJoin(dup) // 1-row × 1-row
    val rules = Seq(
      ("nonempty_text", $"v_empty", $"n"),
      ("n_chars_consistent", $"v_chars", $"n"),
      ("lang_known", $"v_lang", $"n"),
      ("chars_in_range", $"v_range", $"n"),
      ("doc_id_unique", $"v_dup", $"n_ids"))
    rules.map { case (name, viol, checked) =>
      r.select(lit(name).as("rule"), checked.as("n_checked"),
        viol.as("n_violations"),
        round(viol / checked, 6).as("viol_rate"))
    }.reduce(_ unionAll _).orderBy($"rule")
  }

  val validateSql: String = {
    val langList = KnownLangs.map(l => s"'$l'").mkString("(", ", ", ")")
    s"""WITH r AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(CASE WHEN text IS NULL OR LENGTH(text) = 0 THEN 1 ELSE 0 END) AS v_empty,
       |    SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS v_chars,
       |    SUM(CASE WHEN lang NOT IN $langList THEN 1 ELSE 0 END) AS v_lang,
       |    SUM(CASE WHEN n_chars <= 0 OR n_chars > 100000 THEN 1 ELSE 0 END) AS v_range
       |  FROM documents),
       |d AS (
       |  SELECT COUNT(*) AS n_ids,
       |    COALESCE(SUM(CASE WHEN c > 1 THEN c ELSE 0 END), 0) AS v_dup
       |  FROM (SELECT doc_id, COUNT(*) AS c FROM documents GROUP BY doc_id)),
       |u AS (
       |  SELECT 'nonempty_text' AS rule, r.n AS n_checked, r.v_empty AS n_violations FROM r
       |  UNION ALL
       |  SELECT 'n_chars_consistent', r.n, r.v_chars FROM r
       |  UNION ALL
       |  SELECT 'lang_known', r.n, r.v_lang FROM r
       |  UNION ALL
       |  SELECT 'chars_in_range', r.n, r.v_range FROM r
       |  UNION ALL
       |  SELECT 'doc_id_unique', d.n_ids, d.v_dup FROM d)
       |SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
       |  CAST(n_violations AS BIGINT) AS n_violations,
       |  ROUND(n_violations / CAST(n_checked AS DOUBLE), 6) AS viol_rate
       |FROM u ORDER BY rule""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_pipeline_eff_tokens: dedup-aware effective token budget per
  // source — the number that actually determines training scale. Raw
  // token counts overstate a duplicated source; weighting every doc by
  // 1/cluster_size (the [[Dedup.ddSoftWeights]] weight) gives the
  // token mass that survives soft dedup, and the per-source
  // token-level shrinkage ranks which sources are inflating the corpus
  // (doc-level shrinkage — soft_weights — can look mild while
  // token-level shrinkage is severe, because duplicated docs skew
  // long). Tokens = the BPE-ish regex count ([[TextAnalysis.taTokens]]
  // n_bpe_tokens), so this composes two existing artifacts.
  //
  // Scale shape: two narrow per-doc scans (token count; weight from
  // the session-cached cluster table) equi-joined on doc_id, then one
  // partial-aggregable groupBy(source). Weighted token terms are
  // double products of exactly-represented inputs DECIMAL-summed —
  // order-insensitive.
  def effTokens(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(regexp_extract_all($"text",
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
          .cast("long").as("n_toks"))
    val w = Dedup.ddCluster(spark, dir)
      .select($"doc_id",
        round(lit(1.0) / $"cluster_size", 6).as("weight"))
    toks.join(w, "doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        Exact.sum($"weight" * $"n_toks").as("eff_tokens"))
      .select($"source", $"n_docs", $"n_tokens",
        round($"eff_tokens", 6).as("eff_tokens"),
        round(lit(1.0) - $"eff_tokens" / $"n_tokens", 6)
          .as("token_shrinkage"))
      .orderBy($"source")
  }

  val effTokensSql: String =
    s"""WITH cc AS (${Dedup.ddClusterSql}),
       |t AS (SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
       |      AS BIGINT) AS n_toks
       |  FROM documents),
       |j AS (SELECT t.source, t.n_toks,
       |    ROUND(CAST(1.0 AS DOUBLE) / cc.cluster_size, 6) AS weight
       |  FROM t JOIN cc USING (doc_id)),
       |ag AS (SELECT source, COUNT(*) AS n_docs, SUM(n_toks) AS n_tokens,
       |    CAST(SUM(CAST(weight * n_toks AS DECIMAL(28,12))) AS DOUBLE)
       |      AS eff_tokens
       |  FROM j GROUP BY source)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  ROUND(eff_tokens, 6) AS eff_tokens,
       |  ROUND(CAST(1.0 AS DOUBLE) - eff_tokens / n_tokens, 6)
       |    AS token_shrinkage
       |FROM ag ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_dedup_ledger: dedup provenance ledger — every doc's
  // removal decision with precedence exact > near (a doc that is both
  // an exact copy and in a near-dup cluster is charged to the exact
  // rule), rolled up per (source, status). This is the governance
  // artifact a corpus release ships: who was removed, under which
  // rule, concentrated in which source — the "why did my source
  // shrink 40%" answer, and the input to takedown/audit trails.
  // Status: kept (the canonical doc of its class/cluster),
  // removed_exact (non-canonical in an exact-duplicate class),
  // removed_near (canonical of its exact class, non-canonical in its
  // LSH cluster). Canonical = class/cluster minimum doc_id — the same
  // convention every dedup op in the engine uses, so the ledger's
  // counts reconcile with ddExact and ddCluster by construction.
  //
  // Scale shape: one narrow fingerprint scan + a min-per-class
  // partial agg (exact side), one equi-join against the session-cached
  // cluster table (near side), one partial-agg rollup on
  // (source, status). No new pair generation — the ledger only READS
  // dedup artifacts.
  def dedupLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        md5(lower(regexp_replace(trim($"text"), "\\s+", " "))).as("fp"))
    val classes = d.groupBy($"fp").agg(min($"doc_id").as("canonical_doc"))
    val cl = Dedup.ddCluster(spark, dir).select($"doc_id", $"cluster_id")
    val status = d.join(classes, "fp")
      .join(cl, "doc_id")
      .select($"doc_id", $"source",
        when($"doc_id" =!= $"canonical_doc", "removed_exact")
          .when($"doc_id" =!= $"cluster_id", "removed_near")
          .otherwise("kept").as("status"))
    val totals = status.groupBy($"source")
      .agg(count(lit(1)).as("n_source"))
    status.groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"))
      .join(totals, "source")
      .select($"source", $"status", $"n_docs",
        round($"n_docs".cast("double") / $"n_source", 6).as("frac"))
      .orderBy($"source", $"status")
  }

  val dedupLedgerSql: String =
    s"""WITH cc AS (${Dedup.ddClusterSql}),
       |d AS (SELECT doc_id, source,
       |    md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |cls AS (SELECT fp, MIN(doc_id) AS canonical_doc FROM d GROUP BY fp),
       |st AS (SELECT d.doc_id, d.source,
       |    CASE WHEN d.doc_id <> cls.canonical_doc THEN 'removed_exact'
       |      WHEN d.doc_id <> cc.cluster_id THEN 'removed_near'
       |      ELSE 'kept' END AS status
       |  FROM d JOIN cls USING (fp) JOIN cc USING (doc_id)),
       |tot AS (SELECT source, COUNT(*) AS n_source FROM st GROUP BY source)
       |SELECT st.source, status, COUNT(*) AS n_docs,
       |  ROUND(COUNT(*) / CAST(ANY_VALUE(tot.n_source) AS DOUBLE), 6) AS frac
       |FROM st JOIN tot ON st.source = tot.source
       |GROUP BY st.source, status
       |ORDER BY st.source, status""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_zorder: multi-dimensional clustering layout (Z-order /
  // Morton interleaving) — the storage-layout primitive behind
  // Delta/Iceberg OPTIMIZE ZORDER BY. Rows carrying two independent
  // filter dimensions (customer, order date) are assigned a z-value by
  // bit-interleaving the two quantized keys; files cut along z-prefix
  // boundaries then cover a NARROW RECTANGLE of (custkey × date) space,
  // so a predicate on EITHER dimension prunes most files — a layout
  // sorted on one dimension only skips for that one. Output = the
  // per-file zone map a skipping audit reads: row count plus min/max of
  // both dimensions (the "coverage rectangle"). 12-bit quantization
  // (& 4095) covers the fixture's key ranges; a production run
  // rank-quantizes each dimension to its percentile bucket first, which
  // is one partial-agg quantile pass. Scale shape: the z-value is pure
  // per-row codegen arithmetic (24 shift-and-mask terms, no UDF); the
  // only shuffle is the bounded groupBy on the ≤256 z-prefix file ids.
  def zorder(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val x = $"o_custkey".cast("long").bitwiseAND(4095L)
    val y = datediff($"o_orderdate",
      lit(java.sql.Date.valueOf("1995-01-01"))).cast("long").bitwiseAND(4095L)
    // z = Σ_i ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1): 12 bits per dim.
    val z = (0 until 12).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(1L), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1L), 2 * i + 1)
    }.reduce(_ + _)
    Tables.orders(spark, dir)
      .select(x.as("xq"), y.as("yq"), z.as("zval"))
      .groupBy(shiftright($"zval", 16).as("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min($"xq").as("min_cust"), max($"xq").as("max_cust"),
        min($"yq").as("min_day"), max($"yq").as("max_day"))
      .select($"file_id", $"n_rows", $"min_cust", $"max_cust",
        $"min_day", $"max_day",
        (($"max_cust" - $"min_cust" + 1) * ($"max_day" - $"min_day" + 1))
          .as("cover_area"))
      .orderBy($"file_id")
  }

  val zorderSql: String = {
    val zx = (0 until 12).map(i =>
      s"(((x >> $i) & 1) << ${2 * i})").mkString(" + ")
    val zy = (0 until 12).map(i =>
      s"(((y >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
    s"""WITH q AS (
       |  SELECT CAST(o_custkey AS BIGINT) & 4095 AS x,
       |    CAST(date_diff('day', DATE '1995-01-01',
       |      CAST(o_orderdate AS DATE)) AS BIGINT) & 4095 AS y
       |  FROM orders),
       |z AS (SELECT x, y, ($zx) + ($zy) AS zval FROM q)
       |SELECT zval >> 16 AS file_id, COUNT(*) AS n_rows,
       |  MIN(x) AS min_cust, MAX(x) AS max_cust,
       |  MIN(y) AS min_day, MAX(y) AS max_day,
       |  (MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS cover_area
       |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin
  }

  // --------------------------------------------------------------------
  // llm_pipeline_compaction: small-file compaction planning — the
  // maintenance job every long-lived 100 TB table needs (streaming
  // ingest leaves underfull shards; readers pay per-file overhead).
  // Policy = distributed next-fit: within each length bucket, shards
  // in shard order accumulate into a merge group until the group
  // crosses CompactTarget tokens (a shard may straddle the boundary —
  // the streaming-compactor convention; first-fit-decreasing packs
  // tighter but is inherently sequential-global, while next-fit is one
  // prefix sum). The running total is a window over the BOUNDED
  // (bucket, shard) table from llm_pipeline_shard_sizes — shard counts
  // per bucket are corpus_size/PackBudget at worst, and the window
  // partitions by bucket, so no global single-task sort appears at any
  // corpus size. Output: one row per merge group with its shard span,
  // doc/token totals, and fill rate against the target.
  private val CompactTarget = 8000L

  def compaction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"bucket").orderBy($"shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shardSizes(spark, dir)
      .withColumn("cum_toks", sum($"fill_toks").over(w))
      .withColumn("merge_group",
        (($"cum_toks" - $"fill_toks") / CompactTarget).cast("long"))
      .groupBy($"bucket", $"merge_group")
      .agg(count(lit(1)).as("n_shards"),
        min($"shard").as("first_shard"), max($"shard").as("last_shard"),
        sum($"n_docs").as("n_docs"), sum($"fill_toks").as("group_toks"))
      .select($"bucket", $"merge_group", $"n_shards", $"first_shard",
        $"last_shard", $"n_docs", $"group_toks",
        round($"group_toks".cast("double") / lit(CompactTarget.toDouble), 6)
          .as("fill_rate"))
      .orderBy($"bucket", $"merge_group")
  }

  val compactionSql: String =
    s"""WITH s AS ($shardSizesSql),
       |c AS (
       |  SELECT bucket, shard, n_docs, fill_toks,
       |    CAST(SUM(fill_toks) OVER (PARTITION BY bucket ORDER BY shard
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_toks
       |  FROM s)
       |SELECT bucket,
       |  CAST((cum_toks - fill_toks) // $CompactTarget AS BIGINT)
       |    AS merge_group,
       |  COUNT(*) AS n_shards, MIN(shard) AS first_shard,
       |  MAX(shard) AS last_shard,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(fill_toks) AS BIGINT) AS group_toks,
       |  ROUND(CAST(SUM(fill_toks) AS DOUBLE) / $CompactTarget.0, 6)
       |    AS fill_rate
       |FROM c GROUP BY 1, 2 ORDER BY bucket, merge_group""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_skipping: zone-map data-skipping audit — measures how
  // much of the corpus a min/max file index prunes for a given
  // predicate, under two physical layouts of the SAME rows: 'hash'
  // (files cut by doc-id hash — the layout ingest produces by default)
  // and 'range' (files cut by the filter column — what a sort-on-write
  // buys). For the n_chars >= 400 predicate the hash layout prunes
  // ~nothing (every file spans the full length range, max >= 400
  // everywhere) while the range layout prunes every file strictly below
  // the cut — the measured argument for paying the sort at write time.
  // Scale shape: two bounded groupBys (≤16 hash files, ≤#range files);
  // zone maps are metadata-sized at any corpus size.
  def skipping(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars")
    def audit(layout: String, fileId: org.apache.spark.sql.Column) =
      docs.groupBy(fileId.as("file_id"))
        .agg(count(lit(1)).as("n_rows"), max($"n_chars").as("max_chars"))
        .agg(lit(layout).as("layout"),
          count(lit(1)).as("n_files"),
          sum(when($"max_chars" < 400, 1L).otherwise(0L)).as("n_pruned"),
          sum(when($"max_chars" < 400, $"n_rows").otherwise(0L))
            .as("rows_skipped"),
          sum($"n_rows").as("rows_total"))
    audit("hash", h60($"doc_id".cast("string")) % 16)
      .unionByName(audit("range", ($"n_chars" / 64).cast("long")))
      .select($"layout", $"n_files", $"n_pruned", $"rows_skipped",
        round($"rows_skipped".cast("double") / $"rows_total", 6)
          .as("skip_rate"))
      .orderBy($"layout")
  }

  val skippingSql: String =
    s"""WITH hashz AS (
       |  SELECT ${h60Sql("CAST(doc_id AS VARCHAR)")} % 16 AS file_id,
       |    COUNT(*) AS n_rows, MAX(n_chars) AS max_chars
       |  FROM documents GROUP BY 1),
       |rangez AS (
       |  SELECT n_chars // 64 AS file_id,
       |    COUNT(*) AS n_rows, MAX(n_chars) AS max_chars
       |  FROM documents GROUP BY 1),
       |a AS (
       |  SELECT 'hash' AS layout, COUNT(*) AS n_files,
       |    SUM(CASE WHEN max_chars < 400 THEN 1 ELSE 0 END) AS n_pruned,
       |    SUM(CASE WHEN max_chars < 400 THEN n_rows ELSE 0 END)
       |      AS rows_skipped,
       |    SUM(n_rows) AS rows_total
       |  FROM hashz
       |  UNION ALL
       |  SELECT 'range', COUNT(*),
       |    SUM(CASE WHEN max_chars < 400 THEN 1 ELSE 0 END),
       |    SUM(CASE WHEN max_chars < 400 THEN n_rows ELSE 0 END),
       |    SUM(n_rows)
       |  FROM rangez)
       |SELECT layout, CAST(n_files AS BIGINT) AS n_files,
       |  CAST(n_pruned AS BIGINT) AS n_pruned,
       |  CAST(rows_skipped AS BIGINT) AS rows_skipped,
       |  ROUND(CAST(rows_skipped AS DOUBLE) / rows_total, 6) AS skip_rate
       |FROM a ORDER BY layout""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_manifest: table-format manifest construction — the
  // per-file statistics record an Iceberg/Delta-style metadata layer
  // keeps so readers can plan without opening data files: row count,
  // key and filter-column min/max (the zone map llm_pipeline_skipping
  // consumes), and an ORDER-INSENSITIVE content checksum (sum of
  // per-row hashes mod a prime — commutative, so any write
  // parallelism/ordering produces the same manifest; the property that
  // lets two snapshots be compared file-by-file without reading data).
  // The modular reduction keeps the int64 sum exact to ~9·10^15 summed
  // terms (< 2^53 per-file rows × the 10^6 modulus) — beyond that a
  // production manifest switches to a 128-bit accumulator. Scale
  // shape: one partial-aggregable groupBy on the bounded file id;
  // manifests are metadata-sized at any corpus size.
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        (h60($"doc_id".cast("string")) % 32).as("file_id"),
        (h60($"text") % 1000003L).as("row_hash"))
      .groupBy($"file_id")
      .agg(count(lit(1)).as("n_rows"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
        min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"),
        sum($"row_hash").cast("long").as("checksum"))
      .orderBy($"file_id")
  }

  val manifestSql: String =
    s"""WITH t AS (
       |  SELECT doc_id, n_chars,
       |    ${h60Sql("CAST(doc_id AS VARCHAR)")} % 32 AS file_id,
       |    ${h60Sql("text")} % 1000003 AS row_hash
       |  FROM documents)
       |SELECT file_id, COUNT(*) AS n_rows,
       |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       |  CAST(SUM(row_hash) AS BIGINT) AS checksum
       |FROM t GROUP BY 1 ORDER BY file_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_cdc_merge: change-data-capture MERGE, batch form —
  // the join+union decomposition a lakehouse MERGE INTO executes under
  // the hood: classify the change feed (delete > update > insert
  // precedence), LEFT ANTI the deletes out of the base, LEFT join the
  // updates in (coalesce new-over-old), union the inserts, and report
  // per-action row counts with an order-insensitive content checksum
  // of each action's rows (the llm_pipeline_manifest checksum — two
  // snapshots reconcile by comparing these four rows). The change feed
  // is derived deterministically from the base (id-modulus classes) so
  // both engines see the identical feed. Scale shape: MERGE is ONE
  // equi-join shuffle on the key (co-located if base and feed share
  // bucketing); at 100 TB the write side rewrites only
  // partition-pruned files — the read-side plan here is the whole
  // algorithm.
  /** Rows of the CDC-merged state, tagged with the MERGE action that
    * produced each ('delete' rows are the removed base rows, kept for
    * reporting — consumers of the post-merge TABLE filter them out).
    * Shared by [[cdcMerge]] (the action summary) and [[manifestDiff]]
    * (the metadata-level snapshot compare). */
  private def cdcMerged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id", $"text")
    val changes = base.select($"doc_id", $"text",
        when($"doc_id" % 11 === 3, "delete")
          .when($"doc_id" % 7 === 0, "update")
          .when($"doc_id" % 13 === 1, "insert").as("op"))
      .filter($"op".isNotNull)
    val del = changes.filter($"op" === "delete").select($"doc_id")
    val upd = changes.filter($"op" === "update")
      .select($"doc_id".as("u_id"), concat($"text", lit(" [rev2]")).as("new_text"))
    val ins = changes.filter($"op" === "insert")
      // insert ids live in the negative keyspace — provably disjoint
      // from real doc_ids (non-negative) at ANY corpus size, where a
      // fixed +1e6 offset would collide once the corpus reaches 1e6
      .select((-$"doc_id" - 1L).as("doc_id"),
        concat(lit("new:"), $"text").as("text"), lit("insert").as("action"))
    val survivors = base.join(del, Seq("doc_id"), "left_anti")
      .join(upd, $"doc_id" === $"u_id", "left_outer")
      .select($"doc_id", coalesce($"new_text", $"text").as("text"),
        when($"new_text".isNotNull, "update").otherwise("unchanged")
          .as("action"))
    val deleted = base.join(del, Seq("doc_id"), "left_semi")
      .select($"doc_id", $"text", lit("delete").as("action"))
    survivors.unionByName(ins).unionByName(deleted)
  }

  def cdcMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cdcMerged(spark, dir)
      .groupBy($"action")
      .agg(count(lit(1)).as("n_rows"),
        sum(h60($"text") % 1000003L).cast("long").as("checksum"))
      .orderBy($"action")
  }

  /** The merged-state CTE chain shared by cdcMergeSql / manifestDiffSql. */
  private val cdcMergedCte: String =
    """WITH base AS (SELECT doc_id, text FROM documents),
      |ch AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 11 = 3 THEN 'delete'
      |      WHEN doc_id % 7 = 0 THEN 'update'
      |      WHEN doc_id % 13 = 1 THEN 'insert' END AS op
      |  FROM base
      |  WHERE doc_id % 11 = 3 OR doc_id % 7 = 0 OR doc_id % 13 = 1),
      |upd AS (SELECT doc_id AS u_id, text || ' [rev2]' AS new_text
      |  FROM ch WHERE op = 'update'),
      |del AS (SELECT doc_id FROM ch WHERE op = 'delete'),
      |merged AS (
      |  SELECT b.doc_id, COALESCE(u.new_text, b.text) AS text,
      |    CASE WHEN u.new_text IS NOT NULL THEN 'update'
      |      ELSE 'unchanged' END AS action
      |  FROM base b
      |  LEFT JOIN upd u ON b.doc_id = u.u_id
      |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.doc_id = b.doc_id)
      |  UNION ALL
      |  SELECT -doc_id - 1, 'new:' || text, 'insert'
      |  FROM ch WHERE op = 'insert'
      |  UNION ALL
      |  SELECT b.doc_id, b.text, 'delete'
      |  FROM base b JOIN del d ON b.doc_id = d.doc_id)""".stripMargin

  val cdcMergeSql: String =
    s"""$cdcMergedCte
       |SELECT action, COUNT(*) AS n_rows,
       |  CAST(SUM(${h60Sql("text")} % 1000003) AS BIGINT) AS checksum
       |FROM merged GROUP BY 1 ORDER BY action""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_manifest_diff: metadata-level snapshot reconciliation
  // — compare the BASE table's per-file manifest against the
  // CDC-merged state's, file by file, without reading either table's
  // data a second time past the manifest build: this is how an
  // incremental consumer discovers WHICH files changed (and how much)
  // before deciding what to reprocess. Files key on the same
  // h60(doc_id) % 32 layout as llm_pipeline_manifest; the
  // order-insensitive checksum makes "changed" a pure equality test.
  // FULL OUTER join of the two 32-row manifests — added files (CDC
  // inserts land in new id space), removed, changed, unchanged all
  // fall out of null/equality patterns. Scale shape: two
  // partial-aggregable file groupBys + a metadata-sized outer join.
  def manifestDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def manifestOf(rows: DataFrame) = rows
      .select((h60($"doc_id".cast("string")) % 32).as("file_id"),
        (h60($"text") % 1000003L).as("row_hash"))
      .groupBy($"file_id")
      .agg(count(lit(1)).as("n_rows"), sum($"row_hash").cast("long").as("cs"))
    val before = manifestOf(
      Tables.documents(spark, dir).select($"doc_id", $"text"))
      .select($"file_id", $"n_rows".as("rows_before"), $"cs".as("cs_before"))
    val after = manifestOf(
      cdcMerged(spark, dir).filter($"action" =!= "delete")
        .select($"doc_id", $"text"))
      .select($"file_id".as("a_file"), $"n_rows".as("rows_after"),
        $"cs".as("cs_after"))
    before.join(after, $"file_id" === $"a_file", "full_outer")
      .select(coalesce($"file_id", $"a_file").as("file_id"),
        coalesce($"rows_before", lit(0L)).as("rows_before"),
        coalesce($"rows_after", lit(0L)).as("rows_after"),
        when($"cs_before".isNull, "added")
          .when($"cs_after".isNull, "removed")
          .when($"cs_before" === $"cs_after", "unchanged")
          .otherwise("changed").as("status"))
      .orderBy($"file_id")
  }

  val manifestDiffSql: String =
    s"""$cdcMergedCte,
       |mb AS (
       |  SELECT ${h60Sql("CAST(doc_id AS VARCHAR)")} % 32 AS file_id,
       |    COUNT(*) AS rows_before,
       |    CAST(SUM(${h60Sql("text")} % 1000003) AS BIGINT) AS cs_before
       |  FROM base GROUP BY 1),
       |ma AS (
       |  SELECT ${h60Sql("CAST(doc_id AS VARCHAR)")} % 32 AS a_file,
       |    COUNT(*) AS rows_after,
       |    CAST(SUM(${h60Sql("text")} % 1000003) AS BIGINT) AS cs_after
       |  FROM merged WHERE action <> 'delete' GROUP BY 1)
       |SELECT COALESCE(file_id, a_file) AS file_id,
       |  COALESCE(rows_before, 0) AS rows_before,
       |  COALESCE(rows_after, 0) AS rows_after,
       |  CASE WHEN cs_before IS NULL THEN 'added'
       |    WHEN cs_after IS NULL THEN 'removed'
       |    WHEN cs_before = cs_after THEN 'unchanged'
       |    ELSE 'changed' END AS status
       |FROM mb FULL OUTER JOIN ma ON file_id = a_file
       |ORDER BY file_id""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_dataset_card: the one-row dataset card a release
  // ships — corpus size, composition diversity, and duplication rate
  // in a single verifiable record. Diversity is GINI IMPURITY
  // (1 − Σ p²) over the lang and source mixes, not Shannon entropy:
  // polynomial in exact-integer-derived shares, so no new libm-ln
  // surface enters the hash contract (SURVEY §5.1 pins the existing
  // four). Σp² terms are DECIMAL(18,12)-quantized before the fold.
  // Scale shape: two bounded mix groupBys + ONE fingerprint-distinct
  // shuffle (32-char keys) + the base scan aggregate, joined as 1-row
  // broadcasts — the card costs one pass over metadata-width columns
  // at any corpus size.
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(count(lit(1)).as("n_docs"),
      sum($"n_chars").cast("long").as("total_chars"),
      (Exact.sum($"n_chars", 28, 6)
        / count(lit(1))).as("mean_chars"))
    val nFp = docs
      .select(md5(lower(regexp_replace(trim($"text"), "\\s+", " "))).as("fp"))
      .agg(countDistinct($"fp").as("n_unique"))
    def gini(keyCol: String) = docs.groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as(s"n_$keyCol"),
        sum($"c").as("tot"),
        Exact.sum(($"c".cast("double") * $"c").cast("double"), 28, 2).as("sumsq"))
      .select(col(s"n_$keyCol"),
        round(lit(1.0) - $"sumsq" / ($"tot".cast("double") * $"tot"), 6)
          .as(s"${keyCol}_gini"))
    base.crossJoin(broadcast(nFp))
      .crossJoin(broadcast(gini("lang")))
      .crossJoin(broadcast(gini("source")))
      .select($"n_docs", $"total_chars", round($"mean_chars", 6).as("mean_chars"),
        round(lit(1.0) - $"n_unique".cast("double") / $"n_docs", 6)
          .as("dup_rate"),
        $"n_lang", $"lang_gini", $"n_source", $"source_gini")
  }

  val datasetCardSql: String =
    """WITH base AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |    CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
      |      AS mean_chars
      |  FROM documents),
      |fp AS (
      |  SELECT COUNT(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))
      |    AS n_unique
      |  FROM documents),
      |lg AS (
      |  SELECT COUNT(*) AS n_lang, SUM(c) AS tot,
      |    CAST(SUM(CAST(CAST(CAST(c AS DOUBLE) * c AS DOUBLE)
      |      AS DECIMAL(28,2))) AS DOUBLE) AS sumsq
      |  FROM (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1)),
      |sg AS (
      |  SELECT COUNT(*) AS n_source, SUM(c) AS tot,
      |    CAST(SUM(CAST(CAST(CAST(c AS DOUBLE) * c AS DOUBLE)
      |      AS DECIMAL(28,2))) AS DOUBLE) AS sumsq
      |  FROM (SELECT source, COUNT(*) AS c FROM documents GROUP BY 1))
      |SELECT n_docs, total_chars, ROUND(mean_chars, 6) AS mean_chars,
      |  ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_rate,
      |  n_lang,
      |  ROUND(1.0 - lg.sumsq / (CAST(lg.tot AS DOUBLE) * lg.tot), 6)
      |    AS lang_gini,
      |  n_source,
      |  ROUND(1.0 - sg.sumsq / (CAST(sg.tot AS DOUBLE) * sg.tot), 6)
      |    AS source_gini
      |FROM base, fp, lg, sg""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_embedding_coverage: referential integrity between the
  // document corpus and its embedding table (the ML-side cousin of
  // q40's star-schema FK audit): documents lacking a vector silently
  // drop out of EVERY semantic operator (SemDeDup, ANN retrieval,
  // embedding near-dup), and orphaned vectors signal a stale index —
  // both must be zero before a semantic-dedup release. Two LEFT ANTI
  // joins on the id + one aggregate row; at 100 TB both sides bucket
  // on the shared id so the audit is a co-located join.
  def embeddingCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id")
    val vecs = Tables.embeddings(spark, dir).select($"vec_id")
    val missing = docs.join(vecs, $"doc_id" === $"vec_id", "left_anti")
      .agg(count(lit(1)).as("n_docs_without_vec"))
    val orphans = vecs.join(docs, $"vec_id" === $"doc_id", "left_anti")
      .agg(count(lit(1)).as("n_vecs_orphaned"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(vecs.agg(count(lit(1)).as("n_vecs"))))
      .crossJoin(broadcast(missing))
      .crossJoin(broadcast(orphans))
      .select($"n_docs", $"n_vecs", $"n_docs_without_vec", $"n_vecs_orphaned",
        round(($"n_docs" - $"n_docs_without_vec").cast("double") / $"n_docs", 6)
          .as("coverage_rate"))
  }

  val embeddingCoverageSql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM documents) AS n_docs,
      |  (SELECT COUNT(*) FROM embeddings) AS n_vecs,
      |  (SELECT COUNT(*) FROM documents d
      |   WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
      |    AS n_docs_without_vec,
      |  (SELECT COUNT(*) FROM embeddings e
      |   WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
      |    AS n_vecs_orphaned,
      |  ROUND(CAST((SELECT COUNT(*) FROM documents)
      |      - (SELECT COUNT(*) FROM documents d
      |         WHERE NOT EXISTS (SELECT 1 FROM embeddings e
      |           WHERE e.vec_id = d.doc_id)) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM documents), 6) AS coverage_rate""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_retention: data-lifecycle expiry plan over the event
  // stream — per event type, how many rows (and how much payload) a
  // retention policy would delete, BEFORE the delete job runs. Policy:
  // revenue-bearing types (purchase, signup) retain forever; the rest
  // expire 14 days behind the stream's high-water mark. The cutoff is
  // derived from max(ts) rather than wall-clock so the plan is
  // reproducible on any engine at any run time (same reason the bench
  // pipeline derives dates from data, never now()). Scale shape: the
  // high-water mark is a 1-row broadcast; the sweep is ONE
  // partial-aggregable groupBy over the stream — at 100 TB the
  // expired-bytes estimate costs a scan, not a shuffle, and the
  // per-partition delete itself would be partition-pruned by ts.
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val hwm = broadcast(ev.agg(max($"ts").as("max_ts")))
    val keepForever = $"event_type".isin("purchase", "signup")
    val expired = !keepForever &&
      $"ts" < $"max_ts" - expr("INTERVAL 14 DAYS")
    ev.crossJoin(hwm)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(expired, 1L).otherwise(0L)).as("n_expire"),
        sum(when(expired, expr("octet_length(props)").cast("long"))
          .otherwise(0L)).as("expire_bytes"))
      .select($"event_type", $"n_rows", $"n_expire",
        ($"n_rows" - $"n_expire").as("n_keep"),
        round($"n_expire".cast("double") / $"n_rows", 6).as("expire_frac"),
        $"expire_bytes")
      .orderBy($"event_type")
  }

  val retentionSql: String =
    """WITH h AS (SELECT MAX(ts) AS max_ts FROM events),
      |f AS (
      |  SELECT event_type,
      |    (event_type NOT IN ('purchase', 'signup')
      |      AND ts < max_ts - INTERVAL 14 DAY) AS expired,
      |    strlen(props) AS nb
      |  FROM events CROSS JOIN h)
      |SELECT event_type, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_expire,
      |  COUNT(*) - CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_keep,
      |  ROUND(CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS expire_frac,
      |  CAST(SUM(CASE WHEN expired THEN nb ELSE 0 END) AS BIGINT)
      |    AS expire_bytes
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_quota_fill: epoch-capped mixture allocation — the
  // "fill a token budget to a target source mixture without repeating
  // any source more than `MaxEpochs` times" solver every pretraining
  // data plan runs. Round 0 allocates the budget by target share and
  // clamps each source at its epoch cap; ONE deterministic
  // redistribution round then flows the resulting deficit to sources
  // with headroom, pro rata by target share (a fixed two-round spec —
  // not iterated water-filling — so the result is closed-form and
  // engine-independent). Target shares are data-derived (source-name
  // hash → weight 1..7) so skewed targets exist at every SF. Scale
  // shape: ONE corpus scan collapses to the source-grain (20-row)
  // supply table; everything after is arithmetic on that dim table
  // with 1-row broadcast totals — decimal-routed sums, so the solve
  // is bit-identical regardless of partitioning.
  private val QfBudgetFrac = 0.9
  private val QfMaxEpochs = 1.2
  def quotaFill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val avail = Tables.documents(spark, dir)
      .select($"source",
        size(split(trim($"text"), "\\s+")).cast("long").as("tok"))
      .groupBy($"source").agg(sum($"tok").as("avail_tokens"))
    val w = avail.select($"source", $"avail_tokens",
      (h60($"source") % 7 + 1).cast("double").as("wt"))
    val tot = broadcast(w.agg(Exact.sum($"wt", 28, 6).as("sw"),
      sum($"avail_tokens").cast("double").as("ta")))
    val base = w.crossJoin(tot)
      .select($"source", $"avail_tokens",
        ($"wt" / $"sw").as("t_share"),
        (lit(QfBudgetFrac) * $"ta").as("budget"),
        (lit(QfMaxEpochs) * $"avail_tokens").as("cap"))
      .withColumn("alloc0", $"t_share" * $"budget")
      .withColumn("fin0", least($"alloc0", $"cap"))
    val g = broadcast(base.agg(Exact.sum($"fin0", 28, 6).as("sfin0"),
      Exact.sum(when($"fin0" < $"cap", $"t_share").otherwise(lit(0.0))).as("hs")))
    base.crossJoin(g)
      .withColumn("fin1",
        when($"fin0" < $"cap" && $"hs" > 0.0,
          least($"fin0" + ($"budget" - $"sfin0") * $"t_share" / $"hs",
            $"cap"))
          .otherwise($"fin0"))
      .select($"source", $"avail_tokens",
        round($"t_share", 6).as("t_share"),
        round($"alloc0", 2).as("alloc0"),
        when($"alloc0" > $"cap", 1).otherwise(0).as("was_capped"),
        round($"fin1", 2).as("final_alloc"),
        round($"fin1" / $"avail_tokens", 6).as("epochs"))
      .orderBy($"source")
  }

  val quotaFillSql: String =
    s"""WITH a AS (
       |  SELECT source,
       |    CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
       |      AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY 1),
       |w AS (
       |  SELECT source, avail_tokens,
       |    CAST(${h60Sql("source")} % 7 + 1 AS DOUBLE) AS wt
       |  FROM a),
       |t AS (
       |  SELECT CAST(SUM(CAST(wt AS DECIMAL(28,6))) AS DOUBLE) AS sw,
       |    CAST(SUM(avail_tokens) AS DOUBLE) AS ta
       |  FROM w),
       |b AS (
       |  SELECT source, avail_tokens, wt / sw AS t_share,
       |    $QfBudgetFrac * ta AS budget,
       |    $QfMaxEpochs * avail_tokens AS cap
       |  FROM w CROSS JOIN t),
       |b2 AS (
       |  SELECT *, t_share * budget AS alloc0,
       |    LEAST(t_share * budget, cap) AS fin0
       |  FROM b),
       |g AS (
       |  SELECT CAST(SUM(CAST(fin0 AS DECIMAL(28,6))) AS DOUBLE) AS sfin0,
       |    CAST(SUM(CASE WHEN fin0 < cap
       |      THEN CAST(t_share AS DECIMAL(28,12))
       |      ELSE CAST(0.0 AS DECIMAL(28,12)) END) AS DOUBLE) AS hs
       |  FROM b2)
       |SELECT source, avail_tokens,
       |  ROUND(t_share, 6) AS t_share,
       |  ROUND(alloc0, 2) AS alloc0,
       |  CAST(CASE WHEN alloc0 > cap THEN 1 ELSE 0 END AS INT) AS was_capped,
       |  ROUND(CASE WHEN fin0 < cap AND hs > 0.0
       |    THEN LEAST(fin0 + (budget - sfin0) * t_share / hs, cap)
       |    ELSE fin0 END, 2) AS final_alloc,
       |  ROUND(CASE WHEN fin0 < cap AND hs > 0.0
       |    THEN LEAST(fin0 + (budget - sfin0) * t_share / hs, cap)
       |    ELSE fin0 END / avail_tokens, 6) AS epochs
       |FROM b2 CROSS JOIN g ORDER BY source""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_shard_affinity: do near-duplicate clusters stay
  // together across training shards? Multi-member dup clusters are
  // bucketed by how many distinct (bucket, shard) cells their members
  // land in (1 = fully colocated, 2, 3+ = scattered). Why it matters:
  // a shard-level sample (or a shard dropped for curriculum reasons)
  // sees duplicates at a rate that depends on this spread — scattered
  // clusters make every shard look cleaner than the corpus is, while
  // colocated clusters concentrate the redundancy in a few shards and
  // bias shard-level quality stats. Scale shape: rides the
  // session-cached cluster artifact and the pack assignment; the join
  // keys on doc_id (both sides doc-grain), the per-cluster distinct
  // is cluster-grain, and the final histogram is ≤3 rows; MATERIALIZED
  // per-cluster table feeds the histogram + totals.
  def shardAffinity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asg = pack(spark, dir).select($"doc_id", $"bucket", $"shard")
    val cl = Dedup.ddCluster(spark, dir)
      .filter($"cluster_size" > 1).select($"doc_id", $"cluster_id")
    val per = cl.join(asg, "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"bucket", $"shard").as("n_cells")).localCheckpoint()
    val tot = broadcast(per.agg(count(lit(1)).as("n_cl"),
      sum($"n_docs").as("n_dc")))
    per.select(least($"n_cells", lit(3L)).as("spread_bucket"),
        $"n_docs")
      .groupBy($"spread_bucket")
      .agg(count(lit(1)).as("n_clusters"), sum($"n_docs").as("n_docs"))
      .crossJoin(tot)
      .select($"spread_bucket", $"n_clusters", $"n_docs",
        round($"n_clusters".cast("double") / $"n_cl", 6)
          .as("cluster_share"),
        round($"n_docs".cast("double") / $"n_dc", 6).as("doc_share"))
      .orderBy($"spread_bucket")
  }

  val shardAffinitySql: String =
    s"""WITH p AS ($packSql),
       |c AS (${Dedup.ddClusterSql}),
       |j AS (
       |  SELECT c.cluster_id, p.bucket, p.shard
       |  FROM c JOIN p USING (doc_id) WHERE c.cluster_size > 1),
       |per AS MATERIALIZED (
       |  SELECT cluster_id, COUNT(*) AS n_docs,
       |    COUNT(DISTINCT (bucket, shard)) AS n_cells
       |  FROM j GROUP BY 1),
       |t AS (SELECT COUNT(*) AS n_cl, SUM(n_docs) AS n_dc FROM per)
       |SELECT LEAST(n_cells, 3) AS spread_bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
       |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  ROUND(CAST(COUNT(*) AS DOUBLE) / n_cl, 6) AS cluster_share,
       |  ROUND(CAST(SUM(n_docs) AS DOUBLE) / n_dc, 6) AS doc_share
       |FROM per CROSS JOIN t GROUP BY 1, n_cl, n_dc
       |ORDER BY spread_bucket""".stripMargin

  // --------------------------------------------------------------------
  // llm_pipeline_ivm_cost: incremental-view-maintenance cost audit of a
  // daily event rollup — per ingest day, the rows an INCREMENTAL
  // refresh touches (that day's delta) versus a FULL recompute
  // (everything so far), plus the running distinct-user state the
  // incremental operator must hold. The "should this daily table be a
  // materialized view or a recompute" decision at 100 TB: inc_share
  // near 0 means recomputing burns the cluster on unchanged history;
  // state growth says how much memory the incremental path trades for
  // it. Scale shape: one event scan collapses to day grain; distinct
  // users collapse to (user, first_day) in ONE user-keyed shuffle and
  // then to a day histogram; the cumulative windows run on the
  // calendar-bounded day table. All counts integer.
  def ivmCost(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(floor(unix_micros($"ts") / lit(86400000000L)).as("d"),
        $"user_id")
    val daily = ev.groupBy($"d").agg(count(lit(1)).as("n_delta"))
    val firstSeen = ev.groupBy($"user_id").agg(min($"d").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("n_new_users"))
    val w = Window.orderBy($"d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(firstSeen, Seq("d"), "left")
      .select($"d", $"n_delta",
        coalesce($"n_new_users", lit(0L)).as("n_new_users"))
      .withColumn("n_full_cum", sum($"n_delta").over(w))
      .withColumn("n_state_users", sum($"n_new_users").over(w))
      .select(($"d" * 86400000000L).as("day_start_us"), $"n_delta",
        $"n_full_cum", $"n_state_users",
        round($"n_delta".cast("double") / $"n_full_cum".cast("double"), 6)
          .as("inc_share"))
      .orderBy($"day_start_us")
  }

  val ivmCostSql: String =
    """WITH ev AS (
      |  SELECT FLOOR(epoch_us(ts) / 86400000000) AS d, user_id FROM events),
      |daily AS (SELECT d, COUNT(*) AS n_delta FROM ev GROUP BY d),
      |fs AS (
      |  SELECT d, COUNT(*) AS n_new_users FROM (
      |    SELECT user_id, MIN(d) AS d FROM ev GROUP BY user_id)
      |  GROUP BY d),
      |j AS (
      |  SELECT daily.d, daily.n_delta,
      |    COALESCE(fs.n_new_users, 0) AS n_new_users
      |  FROM daily LEFT JOIN fs ON daily.d = fs.d),
      |c AS (
      |  SELECT d, n_delta,
      |    SUM(n_delta) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_full_cum,
      |    SUM(n_new_users) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_state_users
      |  FROM j)
      |SELECT CAST(d * 86400000000 AS BIGINT) AS day_start_us,
      |  CAST(n_delta AS BIGINT) AS n_delta,
      |  CAST(n_full_cum AS BIGINT) AS n_full_cum,
      |  CAST(n_state_users AS BIGINT) AS n_state_users,
      |  ROUND(CAST(n_delta AS DOUBLE) / CAST(n_full_cum AS DOUBLE), 6)
      |    AS inc_share
      |FROM c ORDER BY day_start_us""".stripMargin

  /** Each query: name -> (plan, the ANSI SQL DuckDB checks it with). */
  val queryTable: Map[String, (graft.SparkEntry.Query, String)] = Map(
    "llm_pipeline_ivm_cost" -> (ivmCost _, ivmCostSql),
    "llm_pipeline_shard_affinity" -> (shardAffinity _, shardAffinitySql),
    "llm_pipeline_quota_fill" -> (quotaFill _, quotaFillSql),
    "llm_pipeline_retention" -> (retention _, retentionSql),
    "llm_pipeline_embedding_coverage" -> (embeddingCoverage _, embeddingCoverageSql),
    "llm_pipeline_dedup_ledger" -> (dedupLedger _, dedupLedgerSql),
    "llm_pipeline_eff_tokens" -> (effTokens _, effTokensSql),
    "llm_pipeline_snapshot_diff" -> (snapshotDiff _, snapshotDiffSql),
    "llm_pipeline_validate" -> (validate _, validateSql),
    "llm_pipeline_curriculum" -> (curriculum _, curriculumSql),
    "llm_pipeline_curate" -> (curate _, curateSql),
    "llm_pipeline_dup_sources" -> (dupSources _, dupSourcesSql),
    "llm_pipeline_attrition" -> (attrition _, attritionSql),
    "llm_pipeline_shard_sizes" -> (shardSizes _, shardSizesSql),
    "llm_pipeline_pack" -> (pack _, packSql),
    "llm_pipeline_split" -> (leakageSafeSplit _, splitSql),
    "llm_pipeline_e2e" -> (e2e _, e2eSql),
    "llm_pipeline_shuffle" -> (shuffleOrder _, shuffleOrderSql),
    "llm_pipeline_drift" -> (drift _, driftSql),
    "llm_pipeline_budget" -> (budget _, budgetSql),
    "llm_pipeline_epoch_plan" -> (epochPlan _, epochPlanSql),
    "llm_pipeline_source_overlap" -> (sourceOverlap _, sourceOverlapSql),
    "llm_pipeline_split_audit" -> (splitAudit _, splitAuditSql),
    "llm_pipeline_zorder" -> (zorder _, zorderSql),
    "llm_pipeline_compaction" -> (compaction _, compactionSql),
    "llm_pipeline_skipping" -> (skipping _, skippingSql),
    "llm_pipeline_manifest" -> (manifest _, manifestSql),
    "llm_pipeline_cdc_merge" -> (cdcMerge _, cdcMergeSql),
    "llm_pipeline_dataset_card" -> (datasetCard _, datasetCardSql),
    "llm_pipeline_manifest_diff" -> (manifestDiff _, manifestDiffSql),
  )
  val registry: Map[String, graft.SparkEntry.Query] = queryTable.view.mapValues(_._1).toMap
}
