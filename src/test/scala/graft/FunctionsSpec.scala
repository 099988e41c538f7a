package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Unit coverage for the custom function surface: the codegen VecDot
  * expression (both eval paths) and the TopKDoubles Aggregator.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("h60 equals the conv(substr(md5)) chain it replaces") {
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(3)
    val strs = Seq("", " ", "a", "hello world", "日本語テキスト",
      "emoji 🎉 mix", "\ttabs\nnewlines") ++
      (1 to 200).map(_ => rnd.alphanumeric.take(rnd.nextInt(50)).mkString)
    val df = strs.toDF("s")
    val rows = df.select(
      expr("h60(s)").as("fused"),
      conv(substring(md5($"s"), 1, 15), 16, 10).cast("long").as("chain"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
    // interpreted path (no codegen) must agree too
    strs.foreach { s =>
      val e = graft.functions.H60(
        org.apache.spark.sql.catalyst.expressions.Literal(s))
      val viaEval = e.eval(null)
      val viaImpl = graft.functions.H60Impl.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(viaEval == viaImpl)
    }
  }

  test("vec_dot matches a sequential fold, codegen and interpreted") {
    graft.functions.GraftExtensions.register(spark)
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, 0.2), Seq(0.3, 0.4))).toDF("a", "b")
    val expected = df.collect().map { r =>
      val a = r.getSeq[Double](0); val b = r.getSeq[Double](1)
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    }
    // codegen path
    val got = df.selectExpr("vec_dot(a, b)").as[Double].collect()
    assert(got.toSeq == expected.toSeq)
    // interpreted path (wholestage off)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val got2 = df.selectExpr("vec_dot(a, b)").as[Double].collect()
      assert(got2.toSeq == expected.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("vec_dot is null-safe") {
    graft.functions.GraftExtensions.register(spark)
    val row = spark.sql("SELECT vec_dot(NULL, array(1.0d))").collect()(0)
    assert(row.isNullAt(0))
  }

  test("shingle3 equals the zip_with/slice chain it replaces") {
    graft.functions.GraftExtensions.register(spark)
    val rnd = new scala.util.Random(7)
    val words = Vector("a", "bb", "ccc", "the", "of", "x9", "")
    val strs = Seq("", "one", "one two", "one two three",
      "a b c d e", "dup dup dup dup", "x  y z w", " lead", "trail ") ++
      (1 to 100).map(_ =>
        (1 to rnd.nextInt(30)).map(_ => words(rnd.nextInt(words.size)))
          .mkString(" "))
    val df = strs.toDF("s")
    val composed =
      """element_at(transform(array(split(s, ' ')), toks ->
        |  array_distinct(zip_with(
        |    slice(toks, 1, greatest(size(toks) - 2, 0)),
        |    zip_with(slice(toks, 2, greatest(size(toks) - 2, 0)),
        |             slice(toks, 3, greatest(size(toks) - 2, 0)),
        |             (y, z) -> concat(y, ' ', z)),
        |    (x, yz) -> concat(x, ' ', yz)))), 1)""".stripMargin
    df.select(expr("shingle3(s)").as("fused"), expr(composed).as("chain"))
      .collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
    // interpreted path must agree with the codegen path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try df.select(expr("shingle3(s)").as("fused"), expr(composed).as("chain"))
      .collect()
      .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r))
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("shingle3 is null-safe and empty below 3 tokens") {
    graft.functions.GraftExtensions.register(spark)
    val rows = spark.sql(
      "SELECT shingle3(NULL), shingle3(''), shingle3('a b'), shingle3('a b c')")
      .collect()(0)
    assert(rows.isNullAt(0))
    assert(rows.getSeq[String](1) == Seq())
    assert(rows.getSeq[String](2) == Seq())
    assert(rows.getSeq[String](3) == Seq("a b c"))
  }

  test("GraftExtensions injects vec_dot without error") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
  }

  test("TopKDoubles keeps the k largest regardless of partitioning") {
    spark.udf.register("top3_t",
      org.apache.spark.sql.functions.udaf(new graft.functions.TopKDoubles(3)))
    val vals = (1 to 100).map(_.toDouble)
    val expected = Seq(100.0, 99.0, 98.0)
    Seq(1, 7, 32).foreach { parts =>
      val got = spark.createDataset(vals).repartition(parts).toDF("v")
        .selectExpr("top3_t(v) AS t").as[Seq[Double]].head()
      assert(got == expected, s"parts=$parts")
    }
  }
}
