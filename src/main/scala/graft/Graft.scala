package graft

import graft.functions.{DotProduct, JaroWinklerSimilarity, TopKBy, UnicodeNorm}
import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Library facade: one call makes every graft-native Catalyst
  * expression available to SQL users of the session.
  *
  * {{{
  * Graft.install(spark)
  * spark.sql("SELECT jaro_winkler('IBM', 'IBM INDIA')")
  * }}}
  *
  * Or cluster-wide via config (no code change):
  * `--conf spark.sql.extensions=graft.GraftExtensions`. */
object Graft {
  /** Every SQL function: (name, expression class, builder). */
  private[graft] val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("jaro_winkler", classOf[JaroWinklerSimilarity], es => JaroWinklerSimilarity(es(0), es(1))),
    ("dot_product", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    ("unicode_norm", classOf[UnicodeNorm], es => UnicodeNorm(es(0), es(1))),
    ("top_k_by", classOf[TopKBy], es =>
      TopKBy(es(0), es(1), es(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))

  def install(spark: SparkSession): Unit =
    Functions.foreach { case (name, _, builder) => GraftBridge.registerFunction(spark, name, builder) }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit =
    Graft.Functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
