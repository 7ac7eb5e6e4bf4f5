package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim: Column <-> catalyst Expression conversion lives behind
  * `private[sql]` in Spark 4 (sql/classic split). Custom native
  * expressions (graft.plans.*) need exactly two entry points, plus Spark's
  * own WRONG_NUM_ARGS error for their SQL builders; exposing them from
  * inside the sql package is the minimal, recompilation-safe bridge (same
  * approach used by third-party Spark extension libraries).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def wrongNumArgs(name: String, valid: Seq[Int], actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, valid, actual)
}
