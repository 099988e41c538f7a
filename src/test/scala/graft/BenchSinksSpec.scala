package graft

import org.apache.spark.sql.functions._

import graft.operators.{BenchQueries, BenchSinks}

/** Sink round-trip (port of TestGenerateJSONFiles,
  * file_generator_test.go:75-93): the written JSON must carry the
  * date-keyed {N,A,B,M} map per (pkg,test), partitioned by pkg.
  */
class BenchSinksSpec extends SparkSpec {

  test("series JSON sink round-trips the golden series (S5)") {
    val out = tempDir("test_sink_series")
    val fact = BenchQueries.fact(spark)
    BenchSinks.writeSeriesJson(fact, out)
    val back = spark.read.json(out)
    assert(back.count() == 4) // 4 distinct (pkg,test) series
    val golden = back
      .filter("pkg = 'sql' AND test = 'BenchmarkBank2_Cockroach-8'")
      .select(col("series.`01-01-2015`.N"), col("series.`01-01-2015`.A"),
        col("series.`01-01-2015`.B"), col("series.`01-01-2015`.M"))
      .collect()(0)
    assert((golden.getLong(0), golden.getLong(1), golden.getLong(2), golden.getDouble(3)) ==
      ((1328086L, 2317L, 183965L, 0.0)))
    // partitioned layout: one dir per pkg (S5's partition contract)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.exists(_.startsWith("pkg=")))
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
    BenchSinks.copyStaticAssets(
      names.map(n => s"file://$srcDir/$n"), s"file://$out")
    names.foreach { n =>
      val got = new String(java.nio.file.Files.readAllBytes(
        new java.io.File(out, n).toPath))
      assert(got == s"content-of-$n")
    }
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
    BenchSinks.copyStaticAssets(
      Seq(s"graftfs://$srcDir/plot.html"), s"graftfs://$out")
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(out, "plot.html").toPath)) == "asset-body")
  }

  test("full sync-to-publish loop runs end-to-end over a non-local scheme (S1+S8)") {
    // The complete reference loop — raw stdout tree in, deployed
    // dashboard dir out — with EVERY hop on the second FS scheme:
    // the source scan (S1 sync read), the Spark-committer partitioned
    // series write and catalog write (commit-protocol rename behavior,
    // which the exact-layout sink's manual FS writes don't exercise),
    // the exact-layout deploy write, and the asset copy (S8 publish).
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

    // S5 partitioned + S6 catalog: Spark committer (temporary dir +
    // rename) through the scheme
    BenchSinks.writeSeriesJson(fact, s"graftfs://$out/series")
    BenchSinks.writeCatalogJson(fact, s"graftfs://$out/catalog")
    // S5 exact layout + S7 assets: manual FS writes through the scheme
    BenchSinks.writeSeriesJsonExact(fact, s"graftfs://$out/deploy")
    val assetDir = new java.io.File(tempDir("test_e2e_scheme_assets"))
    java.nio.file.Files.writeString(
      new java.io.File(assetDir, "index.html").toPath, "dash-body")
    BenchSinks.copyStaticAssets(
      Seq(s"graftfs://$assetDir/index.html"), s"graftfs://$out/deploy")

    // read everything back THROUGH the scheme and check content
    val series = spark.read.json(s"graftfs://$out/series")
    assert(series.count() == 4, "4 (pkg,test) series expected")
    val cat = spark.read.json(s"graftfs://$out/catalog")
    assert(cat.count() == 3)
    assert(new java.io.File(s"$out/deploy/sql/BenchmarkDup-8.json").isFile)
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$out/deploy/index.html").toPath)) == "dash-body")
    // committer left no temporary turds behind
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
    // the partitioned-idiom sink honors the same contract
    val out2 = tempDir("test_sink_nulls_idiom")
    BenchSinks.writeSeriesJson(fact, out2)
    def walk(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    val jsonBody = walk(new java.io.File(out2))
      .filter(_.getName.endsWith(".json"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath)))
      .mkString
    assert(jsonBody.contains("\"M\":null"),
      s"partitioned sink dropped the null stat: $jsonBody")
  }

  test("ingest reads through explicit file:// URIs (S1 path shape)") {
    val viaUri = spark.read.parquet("file:///root/testdata/sf0.001/region.parquet")
    val viaPath = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    assert(viaUri.count() == viaPath.count())
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
