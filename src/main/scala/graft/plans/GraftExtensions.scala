package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes the engine's SQL functions
  * (the [[NativeFunctions]] rows with SQL arities) available to ANY
  * session created with
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *   ...
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`), including pure-SQL users
  * in thrift-server / connect deployments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.table.filter(_.sqlArities.nonEmpty).foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[NativeCall].getName, f.name), f.fromSql _))
    }
}
