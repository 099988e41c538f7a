package graft

import org.apache.spark.sql.functions._

import graft.operators.{BenchQueries, BenchSinks, SeriesOps}

/** Sink round-trip (port of TestGenerateJSONFiles,
  * file_generator_test.go:75-93): the written JSON must carry the
  * date-keyed {N,A,B,M} map per (pkg,test), one file per test.
  */
class BenchSinksSpec extends SparkSpec {

  test("series JSON sink round-trips the golden series (S5)") {
    val out = tempDir("test_sink_series")
    BenchSinks.writeSeriesJsonExact(BenchQueries.fact(spark), out)
    // read the deploy tree back as Spark JSON: one row per test file
    val back = spark.read.option("recursiveFileLookup", "true").json(out)
    assert(back.count() == 4) // 4 distinct (pkg,test) series
    val golden = back
      .filter(input_file_name().endsWith("/sql/BenchmarkBank2_Cockroach-8.json"))
      .select(col("`01-01-2015`.N"), col("`01-01-2015`.A"),
        col("`01-01-2015`.B"), col("`01-01-2015`.M"))
      .collect()(0)
    assert((golden.getLong(0), golden.getLong(1), golden.getLong(2), golden.getDouble(3)) ==
      ((1328086L, 2317L, 183965L, 0.0)))
  }

  test("exact-layout sink writes <out>/<pkg>/<test>.json per test (S5)") {
    val out = tempDir("test_sink_exact")
    BenchSinks.writeSeriesJsonExact(BenchQueries.fact(spark), out)
    // reference layout: one file per test, named <pkg>/<test>.json
    val f = new java.io.File(s"$out/sql/BenchmarkBank2_Cockroach-8.json")
    assert(f.isFile, s"expected per-test file at ${f.getPath}")
    // pkg names are package PATHS (e.g. sql/parser) — filepath.Join in
    // the reference nests them the same way
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val files = walk(new java.io.File(out)).map(_.getPath.stripPrefix(out + "/"))
    assert(files.sorted == Seq(
      "sql/BenchmarkBank2_Cockroach-8.json", "sql/BenchmarkDup-8.json",
      "sql/parser/BenchmarkParse-4.json", "util/cache/BenchmarkCacheGet-8.json"),
      s"got $files")
    // byte shape: a bare {date: {N,A,B,M}} object, lexically sorted keys
    val body = new String(java.nio.file.Files.readAllBytes(f.toPath))
    assert(body.startsWith("{\"01-01-2015\":{\"N\":"))
    val parsed = spark.read.json(
      spark.createDataset(Seq(body))(org.apache.spark.sql.Encoders.STRING))
    val row = parsed.select(
      col("`01-01-2015`.N"), col("`01-01-2015`.A"),
      col("`01-01-2015`.B"), col("`01-01-2015`.M")).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3)) ==
      ((1328086L, 2317L, 183965L, 0.0)))
    // key order is lexical (Go json.Marshal sorts map keys)
    val keys = "\"(\\d{2}-\\d{2}-\\d{4})\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    assert(keys == keys.sorted)
  }

  test("static assets copy into the deploy root (S7), URI-agnostic") {
    val srcDir = new java.io.File(tempDir("test_assets_src"))
    val names = Seq("index.html", "common.js")
    names.foreach { n =>
      java.nio.file.Files.writeString(
        new java.io.File(srcDir, n).toPath, s"content-of-$n")
    }
    val out = tempDir("test_assets_deploy")
    // file:// URIs on both sides — the same call takes s3a://
    BenchSinks.copyStaticAssets(spark,
      names.map(n => s"file://$srcDir/$n"), s"file://$out")
    names.foreach { n =>
      val got = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(out, n).toPath))
      assert(got == s"content-of-$n")
    }
  }

  test("static assets land in the deploy root with no .crc sidecars") {
    // file:// through the checksumming LocalFileSystem wrote a
    // `.index.html.crc` beside every asset
    val srcDir = tempDir("test_assets_crc_src")
    val names = Seq("common.js", "index.html")
    names.foreach(n => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(srcDir, n), s"body-of-$n"))
    val out = tempDir("test_assets_crc_deploy")
    BenchSinks.copyStaticAssets(spark, names.map(n => s"file://$srcDir/$n"), s"file://$out")
    assert(new java.io.File(out).list().toSeq.sorted == names)
  }

  test("ingest is one checkpoint both sinks read after the stdout tree is gone") {
    import graft.sources.{BenchFixture, BenchIngest, Tables}
    val src = tempDir("test_fact_once_src")
    BenchFixture.write(src)
    val fact = BenchIngest.ingest(spark, src, Seq("sql", "sql/parser", "util/cache"))
    assert(Tables.isCheckpoint(fact))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src))

    def files(root: String): Map[String, Seq[Byte]] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
      walk(new java.io.File(root))
        .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
        .map(f => f.getPath.stripPrefix(root) ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq)
        .toMap
    }
    val (got, golden) = (tempDir("test_fact_once_got"), tempDir("test_fact_once_golden"))
    BenchSinks.writeSeriesJsonExact(fact, s"$got/deploy")
    BenchSinks.writeSeriesJsonExact(BenchQueries.fact(spark), s"$golden/deploy")
    val jobs = jobsOf(BenchSinks.writeCatalogJson(fact, s"$got/catalog"))
    val goldenJobs = jobsOf(
      BenchSinks.writeCatalogJson(BenchQueries.fact(spark), s"$golden/catalog"))
    val (a, b) = (files(s"$got/deploy"), files(s"$golden/deploy"))
    assert(a.keySet.size == 4 && a == b)
    assert(new String(b("/sql/BenchmarkDup-8.json").toArray, "UTF-8") ==
      """{"01-01-2015":{"N":200,"A":0,"B":0,"M":0.0}}""")
    val catalog = (d: String) =>
      files(s"$d/catalog").filter(_._1.contains("part-")).values.toSeq
    assert(catalog(got).size == 1 && catalog(got) == catalog(golden))
    assert(jobs == goldenJobs, s"catalog sink ran $jobs jobs on ingest's fact, $goldenJobs on bench_fact")
  }

  test("exact-layout sink dispatches through a second FS scheme (S8 path shape)") {
    // graftfs:// (GraftTestFs via test core-site.xml) stands in for a
    // remote deploy root: the sink must resolve the scheme's FileSystem
    // and write through it — the branch an s3a:// root takes — rather
    // than the raw-local fallback reserved for file://.
    val out = tempDir("test_sink_scheme")
    BenchSinks.writeSeriesJsonExact(BenchQueries.fact(spark), s"graftfs://$out")
    val f = new java.io.File(s"$out/sql/BenchmarkBank2_Cockroach-8.json")
    assert(f.isFile, s"graftfs:// write did not land at ${f.getPath}")
    val body = new String(java.nio.file.Files.readAllBytes(f.toPath))
    assert(body.startsWith("{\"01-01-2015\":{\"N\":"))
    // and the copy step through the same second scheme, both directions
    val srcDir = new java.io.File(tempDir("test_assets_src2"))
    java.nio.file.Files.writeString(
      new java.io.File(srcDir, "plot.html").toPath, "asset-body")
    BenchSinks.copyStaticAssets(spark,
      Seq(s"graftfs://$srcDir/plot.html"), s"graftfs://$out")
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(out, "plot.html").toPath)) == "asset-body")
  }

  test("full sync-to-publish loop runs end-to-end over a non-local scheme (S1+S8)") {
    // The complete reference loop — raw stdout tree in, deployed
    // dashboard dir out — with EVERY hop on the second FS scheme:
    // the source scan (S1 sync read), the catalog write, the
    // exact-layout deploy write, and the asset copy (S8 publish).
    // graftfs:// resolves through core-site.xml exactly like an
    // object-store connector; file:// shortcuts never apply.
    val src = tempDir("test_e2e_scheme_src")
    graft.sources.BenchFixture.write(src)
    val out = tempDir("test_e2e_scheme_out")

    // S1: ingest THROUGH the scheme (the file column carries graftfs:
    // paths; the date/pkg regexes must be scheme-agnostic)
    val fact = graft.sources.BenchIngest.ingest(spark, s"graftfs://$src",
      Seq("sql", "sql/parser", "util/cache"))
    val factLocal = graft.sources.BenchIngest.ingest(spark, src,
      Seq("sql", "sql/parser", "util/cache"))
    assert(fact.count() == factLocal.count(),
      "scheme-read ingest must equal the file:// run")

    // S6 catalog: the driver's one-file write through the scheme
    BenchSinks.writeCatalogJson(fact, s"graftfs://$out/catalog")
    // S5 exact layout + S7 assets: manual FS writes through the scheme
    BenchSinks.writeSeriesJsonExact(fact, s"graftfs://$out/deploy")
    val assetDir = new java.io.File(tempDir("test_e2e_scheme_assets"))
    java.nio.file.Files.writeString(
      new java.io.File(assetDir, "index.html").toPath, "dash-body")
    BenchSinks.copyStaticAssets(spark,
      Seq(s"graftfs://$assetDir/index.html"), s"graftfs://$out/deploy")

    // read everything back THROUGH the scheme and check content
    val series = spark.read.option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json").json(s"graftfs://$out/deploy")
    assert(series.count() == 4, "4 (pkg,test) series expected")
    val cat = spark.read.json(s"graftfs://$out/catalog")
    assert(cat.count() == 3)
    assert(new java.io.File(s"$out/deploy/sql/BenchmarkDup-8.json").isFile)
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$out/deploy/index.html").toPath)) == "dash-body")
    // no write left temporary output behind
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    assert(!walk(new java.io.File(out)).exists(_.getPath.contains("_temporary")),
      "uncommitted temporary output left in the deploy root")
  }

  test("null stats serialize as explicit JSON nulls, all four keys present") {
    import spark.implicits._
    // mb_per_s is genuinely absent for non-throughput benchmarks; the
    // Go reference marshals the zero value, and a consumer indexing .M
    // must never hit a missing key. Fixture data is fully non-null, so
    // build the null row directly.
    val fact = Seq(
      ("sql", "BenchmarkNullM-8", java.sql.Date.valueOf("2015-01-01"),
        100L, 1L, 64L, Option.empty[Double]))
      .toDF("pkg", "test", "date", "ns_per_op", "allocs_per_op",
        "bytes_per_op", "mb_per_s")
    val out = tempDir("test_sink_nulls")
    BenchSinks.writeSeriesJsonExact(fact, out)
    val body = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$out/sql/BenchmarkNullM-8.json").toPath))
    assert(body.contains("\"M\":null"), s"null stat dropped from body: $body")
    Seq("\"N\":", "\"A\":", "\"B\":", "\"M\":").foreach(k =>
      assert(body.contains(k), s"missing key $k in $body"))
  }

  test("ingest reads through explicit file:// URIs (S1 path shape)") {
    val viaUri = spark.read.parquet("file:///root/testdata/sf0.001/region.parquet")
    val viaPath = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    assert(viaUri.count() == viaPath.count())
  }

  test("publish writes reach a file system set only in the session conf (S8)") {
    // sessfs:// is unknown to core-site.xml: only the session conf maps
    // it, the way a session carries object-store settings (a builder's
    // `spark.hadoop.*`, or a runtime `spark.conf.set` like this one).
    // The executors' deploy write and the asset copy must both see it.
    val key = "fs.sessfs.impl"
    spark.conf.set(key, classOf[SessionOnlyTestFs].getName)
    try {
      val out = tempDir("test_sink_session_fs")
      BenchSinks.writeSeriesJsonExact(BenchQueries.fact(spark), s"sessfs://$out")
      val f = new java.io.File(s"$out/sql/BenchmarkBank2_Cockroach-8.json")
      assert(f.isFile, s"sessfs:// write did not land at ${f.getPath}")
      val srcDir = new java.io.File(tempDir("test_assets_session_fs"))
      java.nio.file.Files.writeString(
        new java.io.File(srcDir, "index.html").toPath, "dash-body")
      BenchSinks.copyStaticAssets(spark,
        Seq(s"sessfs://$srcDir/index.html"), s"sessfs://$out")
      assert(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(out, "index.html").toPath)) == "dash-body")
    } finally spark.conf.unset(key)
  }

  test("catalog JSON sink writes one pkg-ordered file without a global sort") {
    // a global orderBy + coalesce(1) cost 4 jobs (range sampling and an
    // extra exchange) for a catalog of a few rows, a group-by and the
    // committer's write 2; the driver writes it after one job
    val fact = BenchQueries.fact(spark) // checkpointed, like the publish op's
    val out = tempDir("test_sink_catalog_jobs")
    val jobs = jobsOf(BenchSinks.writeCatalogJson(fact, out))
    assert(jobs == 1, s"catalog sink ran $jobs jobs")
    val names = new java.io.File(out).list().toSeq.sorted
    assert(names == Seq("part-00000.json"), s"expected one part file and no _SUCCESS, got $names")
    val back = spark.read.json(s"$out/part-00000.json")
    assert(back.collect().toSeq == SeriesOps.catalog(fact).collect().toSeq)
    assert(back.select("pkg").collect().map(_.getString(0)).toSeq ==
      Seq("sql", "sql/parser", "util/cache"))
  }

  test("catalog file is the bytes Spark's JSON writer makes of SeriesOps.catalog") {
    import spark.implicits._
    // names that need JSON escapes, non-ASCII names whose UTF-8 and
    // UTF-16 orders disagree, and nulls on both columns
    val fact = Seq(
      ("sql", "Benchmark\uD83D\uDE00-8"), ("sql", "Benchmark\uFF21-8"), ("sql", "BenchmarkB-8"),
      ("sql", "BenchmarkB-8"), ("sql", "Benchmark\"q\\\t\u0001-8"), ("sql", null),
      ("kv", "BenchmarkPut-8"), (null, "BenchmarkOrphan-8"), ("\u00e9t\u00e9", "BenchmarkX-8"),
      ("util/log", null))
      .toDF("pkg", "test").repartition(3)
    val (got, spark_) = (tempDir("test_sink_catalog_bytes"), tempDir("test_sink_catalog_spark"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(got, "stale.json"), "{}")
    BenchSinks.writeCatalogJson(fact, got)
    SeriesOps.catalog(fact).coalesce(1).write.mode("overwrite").json(spark_)
    def body(dir: String) = {
      val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      assert(parts.length == 1, parts.toSeq)
      new String(java.nio.file.Files.readAllBytes(parts.head.toPath), "UTF-8")
    }
    assert(new java.io.File(got).list().toSeq == Seq("part-00000.json"))
    assert(body(got) == body(spark_))
    assert(body(got).linesIterator.size == 5)
  }

  test("a fixture publish runs 4 jobs: ingest 1, series sink 2, catalog sink 1") {
    import graft.sources.{BenchFixture, BenchIngest, Tables}
    val out = tempDir("test_publish_jobs")
    var fact: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      fact = BenchIngest.ingest(spark, BenchFixture.shared)
      BenchSinks.writeSeriesJsonExact(fact, out)
      BenchSinks.writeCatalogJson(fact, s"$out/test_names.json")
    }
    Tables.freeCheckpoint(fact)
    assert(jobs == 4, s"publish ran $jobs jobs")
  }

  test("catalog JSON sink writes {pkg, tests} rows (S6)") {
    val out = tempDir("test_sink_catalog")
    BenchSinks.writeCatalogJson(BenchQueries.fact(spark), out)
    val back = spark.read.json(out)
    assert(back.columns.sorted.toSeq == Seq("pkg", "tests"))
    assert(back.count() == 3)
    val sqlTests = back.filter("pkg = 'sql'").select("tests").collect()(0).getSeq[String](0)
    assert(sqlTests == Seq("BenchmarkBank2_Cockroach-8", "BenchmarkDup-8"))
  }
}

/** A file system scheme that only a session conf entry maps, standing
  * in for an object store configured through `spark.hadoop.*`. */
class SessionOnlyTestFs extends GraftTestFs {
  override def getScheme: String = "sessfs"
  override def getUri: java.net.URI = java.net.URI.create("sessfs:///")
}
