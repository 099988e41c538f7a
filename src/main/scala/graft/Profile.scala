package graft

/** Local profiling aid (not part of the driver contract): run selected
  * queries N times each in one JVM and print per-iteration seconds, so
  * JIT/warmup effects are visible. Usage:
  *   graft.Profile <sfDir> <iters> <name>[,<name>...]
  * With no names: all queries. Pass EXPLAIN=1 to print formatted plans.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val names = args.lift(2).map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = SparkEntry.localSession()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (sys.env.contains("EXPLAIN")) fn(spark, sfDir).explain("formatted")
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
