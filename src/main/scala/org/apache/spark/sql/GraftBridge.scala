package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression conversion
  * (Spark 4 moved Column onto ColumnNode; classic.ExpressionUtils does
  * the conversion but is sql-private). Standard extension-library shim —
  * the only Spark-internal surface this project touches.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The FULLY-CONVERTED catalyst tree behind a Column. [[expression]]
    * returns a lazy `ColumnNodeExpression` wrapper whose catalyst
    * shape only materializes during analysis — a tree-walking caller
    * (bounds extraction for file skipping) that pattern-matches
    * catalyst nodes sees nothing through it. This applies the same
    * converter analysis would. */
  def convertedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a hand-built LogicalPlan as a DataFrame (classic Dataset.ofRows
    * is sql-private). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Recognize a metadata-servable aggregate column — `count(*)` /
    * `count(attr)` / `min(attr)` / `max(attr)` / `sum(attr)`, possibly
    * aliased — and return its form (`cnt`/`nn`/`min`/`max`/`sum`) plus
    * the bare attribute name. Deliberately STRICT, mirroring
    * `Manifest.boundsFromPredComplete`: no DISTINCT, no expressions or casts
    * over the attribute (a cast changes sum/overflow semantics), no
    * FILTER — anything unrecognized is None and the caller must run
    * the real plan. Matches at the ColumnNode layer because that is
    * what the Spark 4 Column API builds (`Column.node` is sql-private,
    * hence the bridge). */
  def statsServableAgg(c: Column): Option[(String, Option[String])] = {
    import org.apache.spark.sql.internal._
    def strip(n: ColumnNode): ColumnNode = n match {
      case Alias(child, _, _, _) => strip(child)
      case _ => n
    }
    def attr(n: ColumnNode): Option[String] = n match {
      case UnresolvedAttribute(parts, _, _, _) => Some(parts.mkString("."))
      case _ => None
    }
    strip(c.node) match {
      case UnresolvedFunction("count", Seq(Literal(_, _, _)),
          false, _, _, _) => Some(("cnt", None))
      case UnresolvedFunction("count", Seq(a), false, _, _, _) =>
        attr(a).map(n => ("nn", Some(n)))
      case UnresolvedFunction(f @ ("min" | "max" | "sum"), Seq(a),
          false, _, _, _) =>
        attr(a).map(n => (f, Some(n)))
      case _ => None
    }
  }

}
