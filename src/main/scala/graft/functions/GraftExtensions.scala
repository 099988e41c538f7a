package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions hook for the engine's native functions —
  * the idiomatic injection path for cluster deployments:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * ([[GraftExtensions.register]] covers already-built sessions, e.g.
  * tests and the driver-run mains.) Catalyst rules/strategies are
  * deliberately NOT injected: per SURVEY.md §4.2, every operator in the
  * surface is expressible with built-in plans, and the only justified
  * custom extension point is scalar expressions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.natives.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {

  /** Every native function: SQL name, expression class, builder. */
  private val natives: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VecDot], args => VecDot(args(0), args(1))),
    ("h60", classOf[H60], args => H60(args.head)),
    ("shingle3", classOf[Shingle3], args => Shingle3(args.head)),
    ("winnow4", classOf[Winnow4], args => Winnow4(args.head)))

  /** Idempotently register every native function as a temp SQL function
    * of `spark`, so query builders can call them by name. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    natives.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
