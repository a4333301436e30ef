package graft

import graft.functions.{HammingDistance, SimHashFp}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: registers graft's native expressions
  * and the [[SingleTaskSort]] AQE runtime optimizer rule on sessions
  * built with
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or spark.sql.extensions=graft.GraftExtensions
  *
  * [[Tables.session]], the library's one session builder, installs it.
  * For sessions the library doesn't build (the driver's), the same
  * functions self-register via their Column APIs; the rule is absent
  * there and every global sort keeps its range exchange.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectRuntimeOptimizerRule(SingleTaskSort)
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("hamming"),
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming"),
      exprs => HammingDistance(exprs(0), exprs(1))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[SimHashFp].getName, "simhash_fp"),
      exprs => SimHashFp(exprs.head)))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("first_byte"),
      new ExpressionInfo(classOf[graft.functions.FirstByte].getName, "first_byte"),
      exprs => graft.functions.FirstByte(exprs.head)))
  }
}
