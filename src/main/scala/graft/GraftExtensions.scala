package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.VectorDistance
import graft.model.IndexKind.Metric

/** Session extension that registers the engine's native expressions as SQL
  * functions, so plain `spark.sql` can use them:
  *
  * {{{
  *   val spark = Sessions.local("spark.sql.extensions" -> classOf[GraftExtensions].getName)
  *   spark.sql("SELECT vector_distance_cosine(a, b) FROM t")
  * }}}
  *
  * [[GraftExtensions.register]] does the same on an already-built session
  * (temp functions) — handy in notebooks/tests.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.builders.foreach { case (name, implClass, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        // the entry's OWN expression class — DESCRIBE FUNCTION geohash
        // must not report VectorDistance as the implementation
        new ExpressionInfo(implClass, name),
        builder))
    }
}

object GraftExtensions {

  /** (name, implementing expression class, builder) per SQL function. */
  private[graft] val builders: Seq[(String, String, Seq[Expression] => Expression)] =
    Metric.all.map { m =>
      val name = s"vector_distance_${m.name}"
      (name, classOf[VectorDistance].getName, { (args: Seq[Expression]) =>
        require(args.length == 2, s"$name expects exactly 2 arguments")
        VectorDistance(args.head, args(1), m): Expression
      })
    } :+ (("geohash", classOf[graft.functions.GeohashExpr].getName,
      { (args: Seq[Expression]) =>
        // geohash(latlon_array, precision_int_literal) — the geo story's
        // SQL face (store the hash as a string property, prefix-filter it)
        require(args.length == 2, "geohash expects exactly 2 arguments")
        val precision = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"geohash precision must be an integer literal (got $other)")
        }
        graft.functions.GeohashExpr(args.head, precision): Expression
      }))

  /** Register all engine functions as temp functions on a live session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
