package graft

import graft.llm.{Dedup, Similarity, TextAnalysis}
import graft.operators.RelationalQueries

/** Physical-plan regression guards for the scale-critical plan shapes:
  * these are the properties the 100 TB design depends on, locked in so
  * a refactor that silently reintroduces a skewed window or drops a
  * broadcast fails here rather than in production.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("tfidf doc-frequency is a broadcast join, never a term window") {
    val plan = planOf(TextAnalysis.taTfidf(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    // windows may exist (doc-partitioned rank/len) but none may
    // partition by the skew-prone term column
    val termWindow = plan.split("\n")
      .filter(_.contains("Window"))
      .exists(l => l.contains("partitionBy") && l.contains("term")
        || l.matches(".*Window.*\\[term#\\d+.*"))
    assert(!termWindow, "found a term-partitioned window:\n" + plan.take(800))
  }

  test("ngram hot-shingle cap is a broadcast anti-join (no second shuffle of ex)") {
    // the registered query reads the session-cached pair table, so
    // guard the plan of the BUILD itself (the uncached path)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "text")
    graft.functions.GraftExtensions.register(spark) // raw scan, not Tables
    val plan = planOf(Dedup.ngramJaccardOn(spark, docs, Dedup.MaxBucketDf))
    val antiLine = plan.split("\n").exists(l =>
      l.contains("Broadcast") && l.contains("Join") && l.contains("LeftAnti"))
    assert(antiLine,
      "hot-bucket cap must be a broadcast anti join:\n" + plan.take(800))
  }

  test("pack running total windows on the salt bucket, never a single partition") {
    val plan = planOf(graft.llm.Pipeline.pack(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, "no window in pack plan:\n" + plan.take(600))
    // windowspecdefinition lists partition columns first: the running
    // total must partition on the uniform salt bucket — a refactor
    // that drops it silently globalizes the cumulative sum into one
    // sequential task at corpus scale
    assert(winLines.forall(_.matches(".*windowspecdefinition\\(bucket#\\d+.*")),
      "pack window must partition by bucket:\n" + winLines.mkString("\n"))
    assert(!plan.contains("SinglePartition"),
      "pack plan contains a single-partition exchange:\n" + plan.take(800))
  }

  test("salted bigram scorer joins the model by shuffle, never broadcast") {
    val plan = planOf(TextAnalysis.taLmBigramJoin(spark, sf0001))
    // the scoring join must be a shuffled hash join on the salted key
    val shj = plan.split("\n").exists(l =>
      l.contains("ShuffledHashJoin") && l.contains("w1") && l.contains("salt"))
    assert(shj, "model join must be ShuffledHashJoin on (w1,w2,salt):\n"
      + plan.take(900))
    // broadcasts of the vocab-bounded c1/hot tables (keyed w1 alone)
    // are fine; any broadcast join keyed on w2 would be the full
    // bigram model riding a broadcast — the regression this form bans
    val modelBroadcast = plan.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("w2"))
    assert(!modelBroadcast,
      "bigram model must not be broadcast:\n" + plan.take(900))
  }

  test("date spine is a generator plan, not recursion") {
    val plan = planOf(graft.operators.BenchQueries.dateSpine(spark, sf0001))
    assert(plan.contains("Generate"),
      "spine must come from explode(sequence(...)):\n" + plan.take(600))
    assert(!plan.contains("UnionLoop") && !plan.contains("Recursi"),
      "registered spine plan must not execute recursively:\n" + plan.take(800))
  }

  test("decontamination broadcasts the eval shingle table") {
    val plan = planOf(Dedup.ddDecontaminate(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "eval shingles must broadcast — the corpus side may never " +
        "shuffle to meet a benchmark-sized table:\n" + plan.take(600))
  }

  test("pq encode broadcasts the codebook (corpus never shuffles to encode)") {
    val plan = planOf(graft.llm.Similarity.ssPqEncode(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "codebook join must not shuffle the corpus:\n" + plan.take(800))
  }

  test("substring hot-window cap is a broadcast anti-join") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "text")
    graft.functions.GraftExtensions.register(spark) // raw scan, not Tables
    val plan = planOf(Dedup.substringPairs(spark, docs, Dedup.MaxBucketDf))
    val antiLine = plan.split("\n").exists(l =>
      l.contains("Broadcast") && l.contains("Join") && l.contains("LeftAnti"))
    assert(antiLine,
      "hot-window cap must be a broadcast anti join:\n" + plan.take(800))
  }

  test("lm-score probability table broadcasts (corpus never shuffles on term)") {
    val plan = planOf(TextAnalysis.taLmScore(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "vocab probabilities must broadcast to the token stream:\n"
        + plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus token stream must not shuffle on the skewed term key:\n"
        + plan.take(800))
  }

  test("bigram-LM probability table broadcasts (corpus never shuffles on w1,w2)") {
    val plan = planOf(TextAnalysis.taLmBigram(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "bigram probabilities must broadcast to the bigram stream:\n"
        + plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus bigram stream must not shuffle on the skewed bigram key:\n"
        + plan.take(800))
  }

  test("backoff LM prunes top-M via TakeOrderedAndProject, never a global window") {
    val plan = planOf(TextAnalysis.taLmBigramBackoff(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-M must plan as distributed partial top-k:\n" + plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus bigram stream must not shuffle on a model key:\n"
        + plan.take(800))
    val globalWindow = plan.split("\n")
      .exists(l => l.contains("Window") && l.contains("SinglePartition"))
    assert(!globalWindow,
      "found a single-partition window:\n" + plan.take(800))
  }

  test("collocations: marginals broadcast, top-k is TakeOrderedAndProject") {
    val plan = planOf(TextAnalysis.taCollocations(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-20 must plan as distributed partial top-k:\n" + plan.take(600))
    assert(plan.contains("BroadcastHashJoin"),
      "marginal tables must broadcast:\n" + plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "the bigram-count table must not shuffle on a marginal key:\n"
        + plan.take(800))
    // the bigram table is materialized once; its four consumers must
    // read the checkpointed rows, not re-derive the corpus explode
    assert(!plan.contains("Generate"),
      "corpus explode re-derived downstream of the checkpoint:\n"
        + plan.take(800))
  }

  test("dim stats is one pos-keyed aggregation, no join or window") {
    val plan = planOf(Similarity.ssDimStats(spark, sf0001))
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("Window"), plan.take(800))
    assert(plan.contains("HashAggregate"), plan.take(600))
  }

  test("transitions: one user window, bigram rollup joins nothing") {
    val plan = planOf(graft.streaming.WindowQueries.q44Transitions(spark, sf0001))
    // the lag window partitions by user_id; normalization windows over
    // the bounded (prev,next) table; event rows never meet a join
    assert(!plan.contains("Join"), "transitions needs no join:\n" + plan.take(800))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.exists(_.contains("user_id#")),
      "expected the user_id lag window:\n" + winLines.mkString("\n"))
    assert(plan.contains("HashAggregate"), plan.take(600))
  }

  test("entropy: doc-keyed window and partial agg, no join, no term window") {
    val plan = planOf(TextAnalysis.taEntropy(spark, sf0001))
    assert(!plan.contains("Join"), "entropy needs no join:\n" + plan.take(800))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty && winLines.forall(_.contains("doc_id#")),
      "the only window must partition by doc_id:\n" + winLines.mkString("\n"))
    assert(plan.contains("HashAggregate"), plan.take(600))
  }

  test("coverage: head is TakeOrderedAndProject, corpus never joins") {
    val plan = planOf(TextAnalysis.taCoverage(spark, sf0001))
    // the only joins allowed are over the bounded head (<=1000 rows
    // crossed with the 3-row k table and the 1-row total)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "joins must stay on the bounded head:\n" + plan.take(800))
  }

  test("pca: Gram accumulation is generator + partial agg, joins stay bounded") {
    val plan = planOf(graft.llm.Similarity.ssPca(spark, sf0001))
    // the corpus contributes through posexplode feeding a partial
    // HashAggregate; every join after touches only d- or d^2-row
    // tables and must broadcast, never shuffle-merge
    assert(plan.contains("Generate"), plan.take(600))
    assert(plan.contains("HashAggregate"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "bounded algebra must broadcast:\n" + plan.take(900))
  }

  test("rfm: corpus aggregates partially, cutoffs broadcast back") {
    val plan = planOf(graft.streaming.WindowQueries.q45Rfm(spark, sf0001))
    assert(plan.contains("HashAggregate"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "the 1-row cutoff table must broadcast:\n" + plan.take(900))
    assert(!plan.contains("windowspecdefinition"),
      "rfm must not window over users:\n" + plan.take(900))
  }

  test("js drift: no window, bounded joins only") {
    val plan = planOf(TextAnalysis.taJsDrift(spark, sf0001))
    assert(plan.contains("HashAggregate"), plan.take(600))
    assert(!plan.contains("SortMergeJoin"),
      "spine joins are bounded and must broadcast:\n" + plan.take(900))
    assert(!plan.contains("windowspecdefinition"),
      "js drift needs no window:\n" + plan.take(900))
  }

  test("knn join shuffles both sides on the cell key — never broadcasts") {
    val plan = planOf(graft.llm.Similarity.ssKnnJoin(spark, sf0001))
    // both sides are corpus-scale by contract: the candidate join must
    // be a shuffle join on the cell key; an (AQE-injected) broadcast
    // would hide the regression until the query side is 10^6x larger.
    // The TWO allowed broadcasts are both grid-bounded cell lists:
    // the surviving-cell occupancy cap and the r16 per-home-cell probe
    // budget (KnnProbeBudget) — never a corpus or query side.
    assert(plan.contains("SortMergeJoin"), plan.take(700))
    val bhj = plan.split("\n").count(_.contains("BroadcastHashJoin"))
    assert(bhj == 2,
      s"expected the cap-list + probe-budget broadcasts, found $bhj:\n"
        + plan.take(900))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "knn join degenerated to a nested loop:\n" + plan.take(900))
  }

  test("curriculum: doc rows see only the (stage,bucket) window") {
    val plan = planOf(graft.llm.Pipeline.curriculum(spark, sf0001))
    // the <=160-row group table is checkpointed before the registered
    // plan and joined back by broadcast; doc rows must never shuffle
    // to meet it, and no doc-row window may be global
    assert(plan.contains("BroadcastHashJoin"), plan.take(700))
    assert(!plan.contains("SortMergeJoin"),
      "group table must broadcast, not shuffle-join:\n" + plan.take(900))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, "expected the within-group row_number window")
    assert(winLines.forall(l =>
      l.contains("stage#") && l.contains("bucket#")),
      "doc-row window must partition by (stage, bucket):\n"
        + winLines.mkString("\n"))
  }

  test("embedding-LSH recall panel never materializes a pair table") {
    val plan = planOf(Dedup.ddEmbeddingLshRecall(spark, sf0001))
    // the only checkpointed input allowed is the tiny verified
    // qualifying set, read twice (membership-mark join + its own
    // count). Three or more ExistingRDD scans means a pair table
    // (candidates or all-pairs truth) was checkpointed again — the
    // round-7 shape this rewrite removed (7-15 s isolated at sf0.1).
    val rddScans = plan.split("\n").count(_.contains("Scan ExistingRDD"))
    assert(rddScans <= 2,
      s"$rddScans ExistingRDD scans — a pair table was materialized:\n"
        + plan.take(1200))
    // n_truth/n_hit must come from ONE all-pairs pass: the verified
    // set broadcasts as a membership mark into the truth stream
    val markJoin = plan.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftOuter"))
    assert(markJoin,
      "truth pass must left-join the broadcast verified mark:\n"
        + plan.take(1200))
  }

  test("budget selection: doc rows never single-partition; joins broadcast") {
    val plan = planOf(graft.llm.Pipeline.budget(spark, sf0001))
    assert(!plan.contains("SortMergeJoin"),
      "bucket/total tables must broadcast, not shuffle-join:\n" + plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    // exactly one SinglePartition exchange is legal: the 20-row bucket
    // cumsum window. A second would mean doc rows were globally sorted.
    val single = "Exchange SinglePartition".r.findAllIn(plan).length
    assert(single <= 1,
      s"$single single-partition exchanges (doc rows funneled):\n" + plan.take(1200))
  }

  test("funnel runs on ONE user_id shuffle (single scan, stacked windows)") {
    val plan = planOf(graft.streaming.WindowQueries.q38Funnel(spark, sf0001))
    // exactly one scan of events: the 3-row summary must come from a
    // generator over the totals, not a union re-planning the subtree
    val scans = plan.split("\n").count(_.contains("Scan parquet"))
    assert(scans == 1, s"funnel scans events $scans times:\n" + plan.take(800))
    // both running-min windows share the user_id partitioning: no
    // window may introduce a second hashpartitioning spec
    val exchanges = plan.split("\n").filter(_.contains("hashpartitioning"))
      .filter(_.contains("user_id"))
    assert(exchanges.length <= 1,
      "funnel re-shuffles on user_id:\n" + exchanges.mkString("\n"))
  }

  test("dimension join broadcasts the small side") {
    val plan = planOf(RelationalQueries.q04BroadcastDimJoin(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("shuffle order windows on the shard key, never a single partition") {
    val plan = planOf(graft.llm.Pipeline.shuffleOrder(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, "no window in shuffle plan:\n" + plan.take(600))
    // a refactor to a global row_number would funnel the corpus
    // through one window task — the TeraSort decomposition this op
    // exists to keep
    assert(winLines.forall(_.matches(".*windowspecdefinition\\(shard#\\d+.*")),
      "shuffle window must partition by shard:\n" + winLines.mkString("\n"))
    assert(!plan.contains("SinglePartition"),
      "shuffle plan contains a single-partition exchange:\n" + plan.take(800))
  }

  test("semantic dedup pairs join on the cluster id, never a cartesian product") {
    val plan = planOf(Dedup.ddSemantic(spark, sf0001))
    assert(!plan.contains("CartesianProduct"),
      "within-cluster pairing must be an equi-join on cid:\n" + plan.take(900))
    // the candidate join must key on cid (the SemDeDup pruning); with
    // the cid equality present Spark plans a hash/sort-merge join
    val cidJoin = plan.split("\n").exists(l =>
      l.contains("Join") && l.contains("cid"))
    assert(cidJoin, "no cid-keyed join found:\n" + plan.take(900))
  }

  test("lm filter reduces the cutoff to one row and broadcasts it") {
    val plan = planOf(TextAnalysis.taLmFilter(spark, sf0001))
    // the percentile cutoff must come back as a broadcast nested-loop
    // (1-row cross) or broadcast join — never a corpus-wide sort
    assert(plan.contains("Broadcast"),
      "cutoff must be broadcast:\n" + plan.take(800))
    val globalSort = plan.split("\n").exists(l =>
      l.contains("Sort") && l.contains("avg_p") && !l.contains("Aggregate"))
    assert(!globalSort || !plan.contains("rank"),
      "filter must not rank the corpus:\n" + plan.take(800))
  }

  test("lineitem scans prune columns and push filters") {
    val plan = RelationalQueries.q01PricingSummary(spark, sf0001)
      .queryExecution.executedPlan.toString
    val scan = plan.split("\n").find(_.contains("FileScan parquet"))
    assert(scan.isDefined, "no parquet FileScan in plan")
    assert(scan.get.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed: ${scan.get.take(300)}")
    // q01 needs only a handful of lineitem columns; a full-width scan
    // (16 cols) means pruning broke
    val width = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan.get)
      .map(_.group(1).split(",").length).getOrElse(Int.MaxValue)
    assert(width <= 8, s"scan reads $width columns: ${scan.get.take(300)}")
  }

  test("fk audit collapses child keys and scans each child once per edge") {
    val plan = planOf(graft.operators.FunctionQueries
      .q40FkIntegrity(spark, sf0001))
    assert(!plan.contains("CartesianProduct"),
      "cartesian product in fk audit:\n" + plan.take(800))
    // each edge probes the parent with (key, count) aggregate output,
    // so a HashAggregate must sit between scan and join — spot-check
    // via the partial-count expression the collapse introduces
    assert(plan.contains("partial_count")
        || plan.split("\n").count(_.contains("HashAggregate")) >= 10,
      "child side not pre-aggregated:\n" + plan.take(800))
    // child_rows is derived from the collapsed per-key counts, NOT a
    // second pass over the child: lineitem is a child in exactly three
    // edges, so exactly three lineitem scans may appear (the r8 shape
    // had six — five extra fact scans across the audit at 100 TB)
    // upper bound, not equality: session caching (InMemoryRelation) or
    // AQE reuse can legitimately REDUCE the scan count; the property
    // being protected is only "no extra child scans"
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 3,
      s"expected <=3 lineitem scans (one per edge), got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("q69 blocking-suppliers scans and shuffles the fact exactly once") {
    // single-pass shape: repartition(l_orderkey) clusters the fact
    // once and every cascaded groupBy key is prefixed by l_orderkey,
    // so no further fact-sized exchange may appear (the r9 two-
    // consumer form either scanned lineitem twice or paid a fact-
    // sized materialization). Remaining exchanges: the tiny blocker
    // groupBy + the broadcast of supplier.
    val plan = planOf(graft.operators.RelationalQueries
      .q69BlockingSuppliers(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"expected one lineitem scan, got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    val factEx = plan.split("\n").count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_orderkey"))
    assert(factEx <= 1,
      s"expected one fact shuffle, got $factEx:\n" +
        plan.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"),
      "supplier join must broadcast:\n" + plan.take(800))
    assert(!plan.contains("Window"),
      "q69 must not window over the order key:\n" + plan.take(800))
  }

  test("q83 price dispersion: one lineitem scan, partial-agg cascade") {
    // One scan; both groupBys keep map-side partial aggregation (the
    // first exchange ships pre-collapsed (part,supp) partials, the
    // second only the supplier-grain table — measured faster than the
    // q69 single-shuffle repartition form, which loses the partial
    // agg). Protected property: no extra scan, no third exchange, no
    // window/sort-merge over the fact.
    val plan = planOf(graft.operators.RelationalQueries
      .q83PriceDispersion(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"expected one lineitem scan, got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    val factEx = plan.split("\n").count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("l_partkey"))
    assert(factEx <= 2,
      s"expected the two cascade exchanges only, got $factEx:\n" +
        plan.split("\n").filter(_.contains("Exchange")).mkString("\n"))
    assert(plan.split("\n").count(l =>
      l.contains("HashAggregate") && l.contains("partial_")) >= 2,
      "both groupBys must keep map-side partial aggregation:\n" +
        plan.split("\n").filter(_.contains("HashAggregate")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "no join/window may appear in the aggregate cascade")
  }

  test("q84 benford collapses to the digit histogram in one fact scan") {
    // the histogram BUILD is one lineitem scan with map-side partial
    // aggregation; the registered query materializes that ≤9-row table
    // (four consumers: spine/total/chi2/verdict — unmaterialized, each
    // re-scanned the fact: 4 scans measured on the first draft)
    val build = planOf(graft.operators.RelationalQueries
      .q84DigitHist(spark, sf0001))
    val buildScans = build.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(buildScans == 1,
      s"expected one lineitem scan in the histogram build, got " +
        s"$buildScans:\n" +
        build.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(build.split("\n").exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      "the digit histogram must keep map-side partial aggregation:\n" +
        build.split("\n").filter(_.contains("HashAggregate")).mkString("\n"))
    val plan = planOf(graft.operators.RelationalQueries
      .q84BenfordAudit(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 0,
      s"the audit must consume the materialized histogram, got " +
        s"$liScans fact scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "no SMJ/window may appear in the digit audit")
  }

  test("powerlaw alpha rides the session-cached edge list (no parquet rescan)") {
    val plan = planOf(graft.llm.Graph.powerlawAlpha(spark, sf0001))
    val parquetScans = plan.split("\n").count(_.contains("FileScan parquet"))
    assert(parquetScans == 0,
      "the MLE must consume the cached edge table, never re-scan the " +
        "star schema:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("Window"),
      "the histogram-grain MLE needs no window")
  }

  test("psi scores the materialized feature table (no second corpus scan)") {
    // the fit + scoring consume the localCheckpointed feature table;
    // the grid/PSI pipeline is arithmetic on the (source x 10) table.
    // Protected property: the returned plan re-scans NO parquet.
    val plan = planOf(graft.llm.Models.psi(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 0,
      "psi must score the materialized feature table:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"),
      "the dense-grid joins are all bounded-side broadcasts")
  }

  test("q85 gini: one fact scan, broadcast dim, entity-grain window") {
    // one lineitem scan collapses to supplier grain; the nation dim
    // broadcasts; the rank window runs over the entity table (the
    // dim-not-fact window argument of q61). Protected property: no
    // second fact scan, no SMJ, exactly one window.
    val plan = planOf(graft.operators.RelationalQueries
      .q85Gini(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"expected one lineitem scan, got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.contains("BroadcastHashJoin"),
      "the nation dim must broadcast:\n" + plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "no SMJ may appear in the supplier-grain pipeline")
    assert(plan.split("\n").count(_.contains("Window")) <= 1,
      "exactly one entity-grain rank window")
  }

  test("hosmer scores the materialized feature table (no corpus rescan)") {
    val plan = planOf(graft.llm.Models.hosmer(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 0,
      "hosmer must score the materialized feature table:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "the ≤10-bin table needs no SMJ/window")
  }

  test("bigram-type build is one exploding corpus scan with partial agg") {
    // the registered query materializes this table once for its three
    // consumers (prefix rollup, marginal rollup, total)
    val plan = planOf(graft.llm.TextAnalysis
      .taBigramTypeTable(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 1,
      s"expected one documents scan, got $docScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.split("\n").exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      "the bigram-type groupBy must keep map-side partial aggregation:\n" +
        plan.split("\n").filter(_.contains("HashAggregate")).mkString("\n"))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "the build is scan -> explode -> groupBy, nothing else")
  }

  test("q86 anova: moment build is one co-keyed join, audit scans nothing") {
    // the build: one lineitem + one orders scan into the per-priority
    // moment collapse; the registered query materializes that ≤5-row
    // table (tot/x/f/final would otherwise each replay the fact join)
    val build = planOf(graft.operators.RelationalQueries
      .q86MomentTable(spark, sf0001))
    for (t <- Seq("lineitem", "orders")) {
      val scans = build.split("\n")
        .count(l => l.contains("FileScan parquet") && l.contains(t))
      assert(scans == 1, s"expected one $t scan in the moment build:\n" +
        build.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    }
    assert(build.split("\n").exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      "the moment collapse must keep map-side partial aggregation")
    val plan = planOf(graft.operators.RelationalQueries
      .q86Anova(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "the F-test must consume the materialized moment table:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("ht estimator: one corpus audit pass, sample-side work materialized") {
    // the sample table (k rows) is materialized; the only corpus scan
    // left in the registered plan is the true-total audit pass
    val plan = planOf(graft.llm.Sampling.sampleHt(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 1,
      s"expected exactly the true-total audit scan, got $docScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"),
      "all joins in the estimator are k-row broadcasts")
  }

  test("silhouette: one embeddings pass against broadcast centroids") {
    val plan = planOf(graft.llm.Similarity.ssSilhouette(spark, sf0001))
    val embScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("embeddings"))
    assert(embScans == 0,
      "the rollup is materialized; the final plan re-scans nothing:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "the k-row join is a broadcast; no window anywhere")
  }

  test("gains: cumulative window over the materialized score histogram") {
    val plan = planOf(graft.llm.Models.gains(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "gains must consume the materialized histogram:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.split("\n").count(_.contains("Window")) <= 1,
      "one descending cumulative window over the bounded histogram")
  }

  test("st_value_drift: two fact passes into a materialized histogram") {
    // build shape: one events pass for the (value-range + horizon)
    // bounds rollup, one for the binned collapse — the PSI pipeline
    // itself consumes only the materialized (type x half x bin) table
    val plan = planOf(graft.streaming.WindowQueries
      .stValueDrift(spark, sf0001))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans == 0,
      s"the PSI pipeline must ride the materialized histogram, got " +
        s"$evScans event scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "grid joins are broadcast; no window anywhere")
  }

  test("q87 column profile is one scan through a single Expand") {
    val plan = planOf(graft.operators.RelationalQueries
      .q87ColumnProfile(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"expected one lineitem scan, got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.contains("Expand"),
      "the 11 simultaneous distincts ride one Expand, not 11 scans")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "no join/window in the stats pass")
  }

  test("bfs hops: frontier loop rides checkpoints, final plan scans nothing") {
    val plan = planOf(graft.llm.Graph.bfsHops(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "the hop rollup must consume the checkpointed visited set:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.split("\n").count(_.contains("Window")) <= 1,
      "one cumulative window over the ≤5-row hop table")
  }

  test("shingle sweep: one exploding + one narrow scan per width") {
    val plan = planOf(graft.llm.Dedup.ddShingleSweep(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans == 2 * 3,
      s"expected 2 scans per width (narrow doc count + exploding type " +
        s"table), got $docScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "the sweep is scan -> explode -> two-level aggregate, nothing else")
  }

  test("q88 repeat business: one fact cascade into a materialized histogram") {
    val plan = planOf(graft.operators.RelationalQueries
      .q88RepeatBusiness(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "the totals/final must consume the materialized histogram:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("bootstrap auc: replicate histogram explodes the materialized scores") {
    // the registered query's final row is driver-assembled; the
    // scale-critical shape is the (rep x score-class) histogram build:
    // one Generate (the xB explode) over the checkpointed feature
    // table, collapsed by a partial-aggregable groupBy
    val plan = planOf(graft.llm.Models.bootRepHist(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "the explode must ride the materialized scored table:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.contains("Generate"),
      "missing the xB replicate explode:\n" + plan.take(600))
    assert(plan.split("\n").exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")),
      "the weighted histogram must keep map-side partial aggregation")
  }

  test("query hardness is arithmetic on the top-k table (no extra scan)") {
    // the brute pass runs once into the materialized top-k table; the
    // profile arithmetic re-scans nothing
    val plan = planOf(graft.llm.Similarity.ssQueryHardness(spark, sf0001))
    val embScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("embeddings"))
    assert(embScans == 0,
      s"the hardness profile must ride the materialized top-k, got " +
        s"$embScans embeddings scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin"),
      "the per-query join is a broadcast of the bounded top-k table")
  }

  test("new-vs-returning: two grain shuffles, no window") {
    val plan = planOf(graft.streaming.WindowQueries
      .stNewVsReturning(spark, sf0001))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans == 2,
      s"expected the day-grain and user-grain passes only, got " +
        s"$evScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("Window"),
      "first-seen is a groupBy min, never a user window")
  }

  test("q89: broadcast scalars gate a column-pruned anti-join") {
    val plan = planOf(graft.operators.RelationalQueries
      .q89SalesOpportunity(spark, sf0001))
    assert(plan.split("\n").exists(l =>
      l.contains("Join") && l.contains("LeftAnti")),
      "the no-recent-orders test must be an anti-join:\n" + plan.take(800))
    assert(!plan.contains("SortMergeJoin")
      || plan.split("\n").count(_.contains("SortMergeJoin")) <= 1,
      "at most the candidate-vs-recent join may merge; scalars broadcast")
    val custScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("customer"))
    assert(custScans <= 2,
      "one customer scan for the scalar, one for the candidates:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("q90 higher-order funcs: one fact scan, lambdas stay per-row") {
    val plan = planOf(graft.operators.FunctionQueries
      .q90HigherOrderFuncs(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans == 1,
      s"expected one lineitem scan, got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("Window") && !plan.contains("Join"),
      "per-order vectors come from ONE collect_list aggregate — no " +
        "window, no join:\n" + plan.take(600))
  }

  test("temperature sweep: every alpha is arithmetic on the source table") {
    val plan = planOf(graft.llm.Sampling
      .sampleTemperatureSweep(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "the four alpha branches must ride the materialized source " +
        "shares, never re-scan the corpus:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "the sweep is unions of broadcast-scalar arithmetic")
  }

  test("cluster depth rides the cached dedup artifacts (no parquet)") {
    val plan = planOf(graft.llm.Dedup.ddClusterDepth(spark, sf0001))
    assert(!plan.contains("FileScan parquet"),
      "edges/labels come from session-cached artifacts; the rollup " +
        "reads checkpoints:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("type mix drift: two fact passes, bounded PSI arithmetic") {
    val plan = planOf(graft.streaming.WindowQueries
      .stTypeMixDrift(spark, sf0001))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans == 0,
      s"the PSI pipeline must ride the materialized count table, got " +
        s"$evScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "no SMJ/window in the mix-drift arithmetic")
  }

  test("q74 price index scans the fact once (materialized moment table)") {
    val plan = planOf(graft.operators.RelationalQueries
      .q74PriceIndex(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1,
      s"base slice and all-years side must share one collapse, got " +
        s"$liScans lineitem scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("pps cumsum is bucketed: the per-doc window rides the bucket key") {
    val plan = planOf(graft.llm.Sampling.samplePps(spark, sf0001))
    // the only corpus-scale window must be partitioned by bucket; the
    // single-partition window is allowed ONLY over the 64-row bucket
    // totals (bounded domain). A corpus-scale unpartitioned cumsum
    // would serialize the whole scan through one task at 100 TB.
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.exists(_.contains("bucket")),
      "per-doc cumsum must partition by bucket:\n" + winLines.mkString("\n"))
    val unpartitioned = winLines.filterNot(_.contains("bucket#"))
    // (zero or one bounded offset window; never two)
    assert(unpartitioned.length <= 1,
      "more than one unpartitioned window:\n" + winLines.mkString("\n"))
  }

  test("vocab growth pays one corpus shuffle (term-bucket collapse)") {
    val plan = planOf(graft.llm.TextAnalysis.taVocabGrowth(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1,
      s"tokenizing scan must not replay, got $docScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("skew audit is pure two-phase aggregation (no window, no join)") {
    val plan = planOf(graft.operators.FunctionQueries
      .q41SkewAudit(spark, sf0001))
    assert(!plan.contains("Window"),
      "skew audit must not window over the hot key:\n" + plan.take(800))
    assert(!plan.contains("Join"),
      "skew audit needs no join:\n" + plan.take(800))
  }

  test("changepoint windows ride the series key, never a single partition") {
    val plan = planOf(graft.operators.BenchQueries.changepoint(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, "no window in changepoint plan:\n" + plan.take(600))
    assert(winLines.forall(_.matches(".*windowspecdefinition\\(pkg#\\d+.*")),
      "changepoint window must partition by (pkg,test):\n"
        + winLines.mkString("\n"))
  }

  test("gopher rules and byte stats are pure scans (no exchange, no join)") {
    // both claim "narrow codegen projection, zero shuffles" — the sort
    // for the oracle's total order is the only allowed exchange, so
    // strip everything at/below the top-level Sort before asserting
    def preSort(df: org.apache.spark.sql.DataFrame): String = {
      val plan = planOf(df)
      plan.split("\n").takeWhile(l => !l.contains("Sort ")).mkString("\n")
    }
    Seq(TextAnalysis.taGopherRules(spark, sf0001),
        graft.llm.Multimodal.mmByteStats(spark, sf0001)).foreach { df =>
      val head = preSort(df)
      assert(!head.contains("Join"), "unexpected join:\n" + head.take(600))
      assert(!head.contains("HashAggregate"),
        "unexpected aggregate:\n" + head.take(600))
    }
  }

  test("embedding LSH pairs expand in-bucket arrays, never an all-pairs join") {
    // the registered query reads the session-cached dd_embLshVerified
    // artifact (same convention as ngram pairs), so guard the plan of
    // the BUILD itself
    val plan = planOf(graft.llm.Dedup.embeddingLshVerifiedBuild(spark, sf0001))
    // candidate pairs must come from the groupBy(band,key) sorted-array
    // expansion (Generate over collect_list), with the bucket-cap list
    // broadcast — an all-pairs or nested-loop shape over raw vectors is
    // exactly what the banded path exists to avoid
    assert(plan.contains("Generate"),
      "expected in-bucket combination Generate:\n" + plan.take(800))
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-cap list must broadcast:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "all-pairs shape in the banded path:\n" + plan.take(800))
  }

  test("active users explodes the 7-day window, never a nested-loop join") {
    val plan = planOf(graft.streaming.WindowQueries
      .q42ActiveUsers(spark, sf0001))
    // the WAU pass must be the narrow Generate (7 rows per (day,user)
    // pair), not the r6-flagged BroadcastNestedLoopJoin against the
    // day spine whose predicate count scales with calendar length
    assert(plan.contains("Generate"),
      "expected explode(sequence(d, d+6)) Generate:\n" + plan.take(800))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "calendar-scaling nested-loop join crept back:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct"),
      "no unbroadcast cartesian allowed:\n" + plan.take(800))
  }

  test("gap audit broadcasts the date spine into the grid") {
    val plan = planOf(graft.operators.BenchQueries.gapAudit(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "series×dates grid must build from a broadcast spine:\n"
        + plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("incremental near-dup's top-1 window keys on batch_doc") {
    val plan = planOf(graft.llm.Dedup.ddIncrementalNear(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, "missing the per-batch-doc top-1 window")
    assert(winLines.forall(_.matches(".*windowspecdefinition\\(batch_doc#\\d+.*")),
      "window must partition on batch_doc (cap-bounded groups):\n"
        + winLines.mkString("\n"))
  }

  test("incremental embedding probe joins band buckets, never all pairs") {
    val plan = planOf(graft.llm.Dedup.ddIncrementalEmbedding(spark, sf0001))
    // batch probes the corpus's band buckets: the cap list broadcasts
    // and pairs expand from the in-bucket Generate; the corpus must
    // never appear in an all-pairs or nested-loop shape vs the batch
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-cap list must broadcast:\n" + plan.take(800))
    assert(plan.contains("Generate"),
      "expected in-bucket batch×corpus Generate:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "all-pairs shape in the incremental probe:\n" + plan.take(800))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty, "missing the per-batch-vec top-1 window")
    assert(winLines.forall(_.matches(".*windowspecdefinition\\(batch_vec#\\d+.*")),
      "window must partition on batch_vec (cap-bounded groups):\n"
        + winLines.mkString("\n"))
  }

  test("novelty never windows on the shingle key") {
    val plan = planOf(graft.llm.Dedup.ddNovelty(spark, sf0001))
    // df and the join-back are shingle-keyed (partial-aggregable /
    // df-bounded); a window partitioned on the term key would be the
    // skew-unsafe shape this op is designed to avoid
    assert(!plan.contains("windowspecdefinition"),
      "no window belongs in the novelty plan:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("knn purity self-joins co-partitioned on cell with the cap broadcast") {
    val plan = planOf(graft.llm.Similarity.ssKnnPurity(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "cell-cap list must broadcast:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "all-pairs shape in the knn audit:\n" + plan.take(800))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty && winLines.forall(
      _.matches(".*windowspecdefinition\\(vec_id#\\d+.*")),
      "top-5 window must partition on vec_id (cap-bounded groups):\n"
        + winLines.mkString("\n"))
  }

  test("zipf head plans as TakeOrderedAndProject, OLS stays on M rows") {
    val plan = planOf(graft.llm.TextAnalysis.taZipf(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-M head must plan as TakeOrderedAndProject:\n" + plan.take(800))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
  }

  test("epoch plan does all planning math on the source-cardinality table") {
    val plan = planOf(graft.llm.Pipeline.epochPlan(spark, sf0001))
    // exactly one aggregation keyed on source touches corpus-sized
    // data; totals are 1-row cross joins (broadcast nested loop)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "1-row totals must ride broadcast cross joins:\n" + plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-sized join belongs in the plan:\n" + plan.take(800))
  }

  test("ivfpq prunes candidates by a broadcast probe join, never a sort-merge") {
    val plan = planOf(graft.llm.Similarity.ssIvfPq(spark, sf0001))
    // every join in the search must ride a broadcast (probe cells,
    // ADC table, code lookup) — a SortMergeJoin means the corpus got
    // shuffled to be searched
    assert(!plan.contains("SortMergeJoin"),
      "ivfpq must not shuffle the corpus:\n" + plan.take(900))
    // the candidate prune itself: cell equi-join against the
    // broadcast 9-cell probe list
    val cellJoin = plan.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("cell"))
    assert(cellJoin, "missing broadcast cell-probe join:\n" + plan.take(900))
    // ranking window stays per-query
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.forall(_.matches(".*windowspecdefinition\\(q_id#\\d+.*")),
      "top-k window must partition by q_id:\n" + winLines.mkString("\n"))
  }

  test("bm25 broadcasts df and plans the top-k as TakeOrderedAndProject") {
    val plan = planOf(TextAnalysis.taBm25(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-10 must be TakeOrderedAndProject, not a global sort:\n"
        + plan.take(900))
    val termJoin = plan.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("term"))
    assert(termJoin, "df join must broadcast the |Q|-row table:\n"
      + plan.take(900))
  }

  test("dsir broadcasts the 64-row log-ratio table and top-ks without a global sort") {
    val plan = planOf(graft.llm.Sampling.sampleDsir(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-64 must be TakeOrderedAndProject:\n" + plan.take(900))
    val lrJoin = plan.split("\n").exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("b#"))
    assert(lrJoin, "doc-bucket × log-ratio join must broadcast lr:\n"
      + plan.take(900))
    assert(!plan.contains("SortMergeJoin"), plan.take(900))
  }

  test("q46 joins part by broadcast and keeps the month agg partial") {
    val plan = planOf(RelationalQueries.q46PromoEffect(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "part must broadcast into the fact scan:\n" + plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      "fact side must not shuffle for the dim join:\n" + plan.take(800))
  }

  test("triangle backbone selection is TakeOrdered, never a global sort") {
    import spark.implicits._
    val support = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select($"l_suppkey".as("s1"), ($"l_suppkey" + 1).as("s2"))
      .groupBy($"s1", $"s2")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("support"))
    val plan = planOf(graft.llm.Graph.backbone(support))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-M backbone must be TakeOrderedAndProject:\n" + plan.take(900))
    assert(!plan.contains("Sort ["),
      "backbone must not materialize a global sort:\n" + plan.take(900))
  }

  test("phash pair generation never goes cartesian") {
    val plan = planOf(graft.llm.Multimodal.mmPhash(spark, sf0001))
    assert(!plan.contains("CartesianProduct"),
      "banded phash join must stay an equi-join:\n" + plan.take(900))
  }

  test("mmr greedy stays on the shortlist: no cartesian, shortlist checkpointed") {
    val plan = planOf(Similarity.ssMmr(spark, sf0001))
    assert(!plan.contains("CartesianProduct"),
      "mmr joins must stay equi/broadcast:\n" + plan.take(900))
    // the shortlist and sims tables are localCheckpointed, so the
    // greedy rounds must read Scan ExistingRDD, not replay the
    // corpus-wide scoring subtree per round
    assert(plan.contains("ExistingRDD"),
      "shortlist must be materialized once:\n" + plan.take(900))
  }

  test("q55/q56/q57 snowflakes keep every dim join broadcast, one fact shuffle join") {
    for (q <- Seq(RelationalQueries.q55LocalSupplier _,
        RelationalQueries.q56TradeVolume _,
        RelationalQueries.q57ProductProfit _)) {
      val plan = planOf(q(spark, sf0001))
      assert(!plan.contains("CartesianProduct"), plan.take(600))
      val broadcastJoins = plan.split("\n")
        .count(l => l.contains("BroadcastHashJoin"))
      assert(broadcastJoins >= 2,
        s"expected >=2 broadcast dim joins, got $broadcastJoins:\n"
          + plan.take(900))
      // the fact->orders edge is the single allowed shuffle join
      val shuffleJoins = plan.split("\n").count(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(shuffleJoins <= 1,
        s"expected <=1 shuffle join (fact->orders), got $shuffleJoins:\n"
          + plan.take(900))
    }
  }

  test("q52/q58 top-k plans as TakeOrderedAndProject, never a global sort") {
    for (q <- Seq(RelationalQueries.q52LargeVolume _,
        RelationalQueries.q58ReturnedItems _)) {
      val plan = planOf(q(spark, sf0001))
      assert(plan.contains("TakeOrderedAndProject"), plan.take(700))
      assert(!plan.split("\n").exists(l =>
          l.contains("Sort") && l.contains("global=true")),
        "top-k must not globally sort:\n" + plan.take(900))
    }
  }

  test("inverted index ranks in two phases; local window keyed on (term, salt)") {
    val plan = planOf(TextAnalysis.taInvertedIndex(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.length >= 2,
      "expected salted local + global windows:\n" + plan.take(900))
    // the local (first-executed, deepest) window must carry TWO
    // partition expressions — term plus the doc-hash salt — so no
    // task ever sorts a hot term's full posting set
    // the salt lands as a projected _w0 column: the local spec lists
    // TWO partition expressions (term, _w0) ahead of the sort keys
    assert(winLines.exists(_.matches(
        ".*windowspecdefinition\\(term#\\d+, _w0#\\d+L?, tf#.*")),
      "local window must partition by (term, salt):\n"
        + winLines.mkString("\n"))
    assert(!plan.contains("SinglePartition"), plan.take(900))
  }

  test("range search and mips broadcast queries; corpus side never shuffles") {
    for (q <- Seq(Similarity.ssRangeSearch _, Similarity.ssMips _)) {
      val plan = planOf(q(spark, sf0001))
      assert(plan.contains("BroadcastNestedLoopJoin")
          || plan.contains("BroadcastHashJoin"), plan.take(700))
      assert(!plan.contains("CartesianProduct"), plan.take(700))
      // no exchange may touch the corpus-scoring subtree: allowed are
      // the final presentation sort / per-query top-k window, plus (in
      // mips) ONE SinglePartition exchange merging the partial-agged
      // 1-row max-norm scalar — partials mean only n_partitions rows
      // cross it, never corpus rows
      val exchanges = plan.split("\n").filter(l =>
        l.contains("Exchange") && !l.contains("Broadcast"))
      assert(exchanges.forall(l =>
          l.contains("rangepartitioning") || l.contains("hashpartitioning")
            || l.contains("SinglePartition")),
        "unexpected corpus shuffle:\n" + exchanges.mkString("\n"))
      assert(exchanges.count(_.contains("SinglePartition")) <= 1,
        "too many single-partition exchanges:\n" + exchanges.mkString("\n"))
    }
  }

  test("zorder stays pure codegen arithmetic: no cartesian, bounded shuffles") {
    val df = graft.llm.Pipeline.zorder(spark, sf0001)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    val shuffles = plan.split("\n").count(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    // one for the file_id groupBy, one range exchange for the output sort
    assert(shuffles <= 2, s"zorder must shuffle at most twice, got $shuffles:\n"
      + plan.take(900))
    // the z-value must be native shift/mask expressions, never a UDF
    assert(plan.contains("shiftright") && !plan.contains("ScalaUDF"),
      "z-value must be built-in bit arithmetic:\n" + plan.take(900))
  }

  test("st_static_enrich joins the dimension by broadcast") {
    val plan = planOf(
      graft.streaming.WindowQueries.stStaticEnrich(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan.take(700))
    assert(!plan.contains("SortMergeJoin"),
      "dim join must not shuffle the stream side:\n" + plan.take(700))
  }

  test("market basket reads the materialized order-set table, never a corpus self-join") {
    val plan = planOf(RelationalQueries.q63MarketBasket(spark, sf0001))
    assert(plan.contains("ExistingRDD"),
      "order-set table must be materialized once:\n" + plan.take(700))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "pair expansion must be the in-group explode, not a join:\n"
        + plan.take(900))
  }

  test("graph cc keeps linear lineage: one edge read per iteration, no cartesian") {
    val plan = planOf(graft.llm.Graph.cc(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    val edgeReads = plan.split("\n").count(_.contains("ExistingRDD"))
    // 6 propagation iterations + the initial label derivation read the
    // materialized edge table; a self-union regression would double
    // reads per iteration (2^k growth)
    assert(edgeReads <= graft.llm.Graph.CcIters + 1,
      s"expected <=${graft.llm.Graph.CcIters + 1} edge reads, " +
        s"got $edgeReads:\n" + plan.take(900))
  }

  test("source sketch overlap broadcasts sketches; only the exact side shuffles") {
    val plan = planOf(graft.llm.Dedup.ddSourceSketchOverlap(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin")
        || plan.contains("BroadcastHashJoin"),
      "sketch pairing must broadcast the source-cardinality sigs:\n"
        + plan.take(900))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
  }

  test("q67 quantiles read the bounded histogram; no corpus-order sort appears") {
    val plan = planOf(RelationalQueries.q67RepeatIntervals(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    // lag partitions by customer, the cumulative by segment — both
    // parallel; neither may collapse to a single global partition
    assert(winLines.nonEmpty && !plan.contains("SinglePartition"),
      "q67 must never sort gaps in one task:\n" + plan.take(900))
    assert(winLines.forall(l =>
        l.contains("o_custkey#") || l.contains("segment#")),
      "windows must key on customer or segment:\n" + winLines.mkString("\n"))
  }

  test("ewma windows and lag-join stay keyed on the series, no single partition") {
    val plan = planOf(graft.operators.BenchQueries.ewma(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty && winLines.forall(
        _.matches(".*windowspecdefinition\\(pkg#\\d+.*")),
      "rn windows must partition by (pkg,test):\n" + winLines.mkString("\n"))
    assert(!plan.contains("SinglePartition"),
      "ewma must not funnel a series op into one partition:\n"
        + plan.take(900))
  }

  test("q77 wilson collapses the fact to part grain before the part join") {
    val plan = planOf(RelationalQueries.q77WilsonReturns(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1,
      s"expected one fact scan, got $liScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    // the join input on the fact side must be the partkey-grain
    // aggregate, never the raw lineitem rows: the first HashAggregate
    // below the join keys on l_partkey
    assert(plan.contains("HashAggregate"),
      "missing partkey-grain collapse:\n" + plan.take(800))
  }

  test("link prediction scans the fact once and keeps joins backbone-sized") {
    val plan = planOf(graft.llm.Graph.linkPred(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1,
      s"the (order,supplier) distinct must be materialized, got " +
        s"$liScans lineitem scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("auc's only window is the score-grain cumulative (post-aggregate)") {
    // the registered query's final plan is a LocalTableScan (1-row
    // driver assembly); the scale-critical shape lives in the term
    // table it aggregates
    val plan = planOf(graft.llm.Models.aucTerms(spark, sf0001))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.length <= 1,
      "more than one window in the AUC plan:\n" + winLines.mkString("\n"))
    // the window input must be the score-grain HashAggregate, never
    // the per-document rows (bounded-domain argument, SURVEY §2.8)
    assert(plan.contains("HashAggregate"),
      "missing score-grain collapse:\n" + plan.take(800))
  }

  test("pr/ks windows run over the score-grain histogram, never rows") {
    // same bounded-domain contract as the AUC window: the cumulative
    // (and PR's lag) must consume the post-aggregate score histogram
    for (df <- Seq(
      graft.llm.Models.prBlocks(spark, sf0001, 1L),
      { import spark.implicits._
        graft.llm.Models.aucScored(spark, sf0001)
          .groupBy($"p")
          .agg(org.apache.spark.sql.functions.sum($"y").as("pos")) })) {
      val plan = planOf(df)
      assert(plan.contains("HashAggregate"),
        "missing score-grain collapse:\n" + plan.take(800))
    }
    val prPlan = planOf(graft.llm.Models.prBlocks(spark, sf0001, 1L))
    val winOps = prPlan.split("\n").filter(_.contains("Window"))
    // one Window operator may carry several functions; what matters is
    // no window is ordered by anything but the score
    assert(winOps.forall(l => l.contains("p#") || !l.contains("windowspec")),
      "window not on score grain:\n" + winOps.mkString("\n"))
  }

  test("q78 seasonal index scans the fact once (materialized cell grid)") {
    val plan = planOf(RelationalQueries.q78SeasonalIndex(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1,
      s"year means and ratio join must share one collapse, got " +
        s"$liScans lineitem scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("kmeans ARI dual assignment broadcasts both centroid tables") {
    val plan = planOf(graft.llm.Similarity.ariAssignments(spark, sf0001))
    assert(!plan.contains("SortMergeJoin"),
      "the corpus must never shuffle to be assigned:\n" + plan.take(900))
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"),
      "centroid tables must broadcast:\n" + plan.take(900))
  }

  test("size percentiles: one documents scan, windows keyed on media_type") {
    val plan = planOf(graft.llm.Multimodal.mmSizePercentiles(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1,
      s"histogram must be materialized, got $docScans documents scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty && winLines.forall(_.contains("media_type#")),
      "cumulative window must partition by media_type:\n" +
        winLines.mkString("\n"))
  }

  test("cusum drift scans events once; its only window is the day track") {
    val plan = planOf(graft.streaming.WindowQueries.stCusumDrift(spark, sf0001))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans <= 1,
      s"day table must be materialized, got $evScans events scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.length <= 1,
      "more than one window in the cusum plan:\n" + winLines.mkString("\n"))
  }

  test("novelty curve: materialized shingle table, min+join co-keyed on s") {
    val plan = planOf(Dedup.ddNoveltyCurve(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    // one tokenizing scan (materialized exploded table) + the cheap
    // count-star scan for the decile denominator
    assert(docScans <= 2,
      s"expected <=2 documents scans, got $docScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("clip sweep never explodes the corpus (rate-table-only sweep)") {
    val plan = planOf(graft.llm.Sampling.sampleClipSweep(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1,
      s"the sweep must ride the source-grain rate table, got $docScans " +
        s"documents scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("simpson runs on one exploding scan (both facets, one pass)") {
    val plan = planOf(TextAnalysis.taSimpson(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1,
      s"both facets must share one scan, got $docScans documents scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("reciprocity: one fact pass, dims broadcast, grid algebra tiny") {
    val plan = planOf(graft.llm.Graph.reciprocity(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1,
      s"the nation grid must be materialized, got $liScans lineitem " +
        s"scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.contains("BroadcastHashJoin"),
      "supplier/customer joins must broadcast:\n" + plan.take(900))
  }

  test("policy mix shift selects winners by aggregate, never a window") {
    val plan = planOf(Dedup.ddPolicyMixShift(spark, sf0001))
    assert(!plan.contains("windowspecdefinition"),
      "winner selection must be the partial-aggregable min/max struct " +
        "form, not a per-cluster window:\n" + plan.take(900))
  }

  test("source mix contingency shares one documents scan") {
    val plan = planOf(graft.llm.Multimodal.mmSourceMix(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1,
      s"contingency must be materialized, got $docScans documents scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("q79 quarter growth: one fact collapse, lag over the bounded grid") {
    val plan = planOf(RelationalQueries.q79QuarterGrowth(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"got $liScans lineitem scans")
    // the single unpartitioned lag window must sit ABOVE the
    // (year, quarter) aggregate, never over raw lineitem rows
    assert(plan.contains("HashAggregate"),
      "missing quarter-grain collapse:\n" + plan.take(800))
  }

  test("dim audit is one partial-aggregable pass with O(dims) state") {
    val plan = planOf(graft.llm.Similarity.ssDimAudit(spark, sf0001))
    val embScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("embeddings"))
    assert(embScans <= 1,
      s"stats must be materialized, got $embScans embeddings scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("windowspecdefinition"),
      "no window belongs in the dim audit:\n" + plan.take(800))
  }

  test("df spectrum: one tokenizing scan, histogram off the materialized df table") {
    val plan = planOf(Dedup.ddDfSpectrum(spark, sf0001))
    val docScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(docScans <= 1,
      s"expected one documents scan, got $docScans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(!plan.contains("windowspecdefinition"),
      "no window belongs in the spectrum:\n" + plan.take(800))
  }

  test("pq distortion: broadcast codebook argmin, no corpus shuffle before the 8-row agg") {
    val plan = planOf(graft.llm.Similarity.ssPqDistortion(spark, sf0001))
    assert(!plan.contains("SortMergeJoin"),
      "the codebook must broadcast:\n" + plan.take(900))
    assert(!plan.contains("windowspecdefinition"),
      "no window belongs in the distortion audit:\n" + plan.take(800))
  }

  test("q80 collapses the fact to order grain before the orders join") {
    val plan = planOf(RelationalQueries.q80FulfillmentSpread(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"got $liScans lineitem scans:\n" +
      plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
  }

  test("value percentiles: one events scan, windows keyed on event_type") {
    val plan = planOf(
      graft.streaming.WindowQueries.stValuePercentiles(spark, sf0001))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans <= 1, s"got $evScans events scans:\n" +
      plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty && winLines.forall(_.contains("event_type#")),
      "cumulative window must partition by event_type:\n" +
        winLines.mkString("\n"))
  }

  test("q81 is a single no-join fact aggregate") {
    val plan = planOf(RelationalQueries.q81DiscountMix(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1, s"got $liScans lineitem scans")
    assert(!plan.contains("Join"), "q81 must not join:\n" + plan.take(600))
  }

  test("dow anomaly scans events once (materialized hour table)") {
    val plan = planOf(graft.streaming.WindowQueries.stDowAnomaly(spark, sf0001))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans <= 1,
      s"hour table must be materialized, got $evScans events scans:\n" +
        plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    assert(plan.contains("BroadcastHashJoin") || !plan.contains("SortMergeJoin"),
      "cell join must broadcast:\n" + plan.take(800))
  }

  test("q92 pushes all four predicates and prunes to 4 columns") {
    // the default 100-char metadata truncation cuts the PushedFilters
    // list mid-entry; widen it so the assertion sees the full list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val plan = planOf(RelationalQueries.q92ForecastRevenue(spark, sf0001))
    val scan = plan.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scan.isDefined, "no lineitem FileScan:\n" + plan.take(600))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(scan.get.contains(s"GreaterThanOrEqual($c")
          || scan.get.contains(s"LessThan($c")
          || scan.get.contains(s"LessThanOrEqual($c"),
        s"$c bound not pushed: ${scan.get.take(400)}")
    }
    val width = "FileScan parquet \\[([^\\]]*)\\]".r
      .findFirstMatchIn(scan.get)
      .map(_.group(1).split(",").length).getOrElse(Int.MaxValue)
    assert(width <= 4, s"scan reads $width columns: ${scan.get.take(300)}")
    assert(!plan.contains("Join"), "q92 must be join-free")
  }

  test("q91 EXISTS plans as a semi join; the year range reaches the scan") {
    val plan = planOf(RelationalQueries.q91PriorityLateShips(spark, sf0001))
    assert(plan.contains("LeftSemi"),
      "EXISTS must plan as a left-semi join:\n" + plan.take(800))
    val oScan = plan.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("orders"))
    assert(oScan.exists(_.contains("GreaterThanOrEqual(o_orderdate")),
      "orders year range not pushed:\n" + oScan.getOrElse("<none>").take(400))
  }

  test("q95 broadcasts part; quantity bounds reach the fact scan") {
    val plan = planOf(RelationalQueries.q95DisjunctivePromo(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "part side must broadcast:\n" + plan.take(800))
    val lScan = plan.split("\n").find(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(lScan.exists(s => s.contains("GreaterThanOrEqual(l_quantity")
        && s.contains("LessThanOrEqual(l_quantity")),
      "derived quantity range not pushed:\n"
        + lScan.getOrElse("<none>").take(400))
  }

  test("q96 scans the fact once; the argmax windows on the part key") {
    val plan = planOf(RelationalQueries.q96DominantSuppliers(spark, sf0001))
    val liScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(liScans <= 1,
      s"(part,supplier) grain must come from ONE fact scan, got $liScans")
    val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
    assert(winLines.nonEmpty && winLines.forall(
        _.matches(".*windowspecdefinition\\(l_partkey#\\d+.*")),
      "argmax must window on l_partkey:\n" + winLines.mkString("\n"))
    assert(!plan.contains("SinglePartition"),
      "q96 contains a single-partition window:\n" + plan.take(800))
  }

  test("q97/q99 window the orders table partitioned by customer") {
    // guard the BUILD plans — the registered queries read the
    // materialized matrix/histogram, which hides the window subtree
    Seq(RelationalQueries.q97MatrixBuild(spark, sf0001),
      RelationalQueries.q99HistBuild(spark, sf0001)).foreach { df =>
      val plan = planOf(df)
      val winLines = plan.split("\n").filter(_.contains("windowspecdefinition"))
      assert(winLines.nonEmpty && winLines.forall(
          _.matches(".*windowspecdefinition\\(o_custkey#\\d+.*")),
        "window must partition by o_custkey:\n" + winLines.mkString("\n"))
      assert(!plan.contains("SinglePartition"),
        "single-partition window:\n" + plan.take(800))
      val factScans = plan.split("\n")
        .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
      assert(factScans == 0, "these ops must never touch the fact")
    }
  }

  test("gap sensitivity prices all thresholds off one gap pass") {
    val plan = planOf(
      graft.streaming.WindowQueries.stGapSensitivity(spark, sf0001))
    // the gap table is materialized; the 4 thresholds are conditional
    // sums in ONE aggregate — no per-threshold join of the gap table
    assert(!plan.contains("CartesianProduct"),
      "threshold grid must not cartesian the gap table:\n" + plan.take(800))
    val evScans = plan.split("\n")
      .count(l => l.contains("FileScan parquet") && l.contains("events"))
    assert(evScans <= 1,
      s"expected <=1 raw events scan beside the materialized gaps, got $evScans")
  }

  test("local CC and edge weights read the cached support artifact") {
    // build the session-cached support once (any census query does)
    graft.llm.Graph.triSupport(spark, sf0001).count()
    Seq(graft.llm.Graph.localClusteringCoeff(spark, sf0001),
      graft.llm.Graph.edgeWeights(spark, sf0001)).foreach { df =>
      val plan = planOf(df)
      val liScans = plan.split("\n")
        .count(l => l.contains("FileScan parquet") && l.contains("lineitem"))
      assert(liScans == 0,
        "must read the cached support table, never re-scan the fact:\n" +
          plan.split("\n").filter(_.contains("FileScan")).mkString("\n"))
    }
  }
}
