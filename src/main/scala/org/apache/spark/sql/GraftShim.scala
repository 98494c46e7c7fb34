package org.apache.spark.sql

import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression, If, Literal, RuntimeReplaceable, StringTrim, With}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.execution.datasources.csv.TextInputCSVDataSource
import org.apache.spark.sql.types.{StringType, StructType}

/** Bridge between graft's custom Catalyst `Expression`s and the public
  * `Column` API.
  *
  * Spark 4 rebased `Column` onto `ColumnNode` (connect/classic split), so
  * the Spark-3-era `new Column(expr)` is gone; the supported conversion
  * helpers live in `org.apache.spark.sql.classic` with `private[sql]`
  * visibility. This object sits in the `org.apache.spark.sql` package for
  * access, and is the ONLY place in graft that does so.
  */
object GraftShim {

  /** Wrap a Catalyst expression as a user-facing Column. */
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Recover the Catalyst expression behind a (classic) Column. */
  def toExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a custom LogicalPlan as a DataFrame — the entry point for
    * graft's injected plan nodes (e.g. [[graft.plans.AsOfJoinPlan]]).
    * `Dataset.ofRows` is private[sql]; this is the sanctioned crossing.
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
  ): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every queued listener event (including
    * QueryExecutionListener dispatches, which ride the shared
    * LiveListenerBus) has been delivered — lets a writer read
    * listener-captured observed metrics immediately after its write
    * action returns. `waitUntilEmpty` is private[spark]; this shim is
    * the sanctioned crossing point.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a custom expression under a SQL function name, so
    * `spark.sql("SELECT graft_erf(x) ...")` works alongside the Column API.
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression,
  ): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Spark's own CSV schema inference over `lines` with `header` as the
    * header line: the inference scan of `TextInputCSVDataSource.infer`
    * (one job) without its `take(1)` header job. `options` are the
    * reader's options, `inferSchema` included, as the CSV source parses
    * them. `inferFromDataset` and the session conf are private[sql].
    */
  def inferCsvSchema(
      spark: SparkSession,
      lines: Dataset[String],
      header: String,
      options: Map[String, String],
  ): StructType = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    TextInputCSVDataSource.inferFromDataset(spark, lines, Some(header), parsed)
  }

  /** `CASE WHEN trim(c) <> '' THEN c END` with `c` evaluated once per row.
    * The `CASE WHEN` form evaluates `c` twice, since subexpression
    * elimination does not share a value with its condition. This binds
    * `c` with Spark 4's `With`, the sharing `nullif` uses; the optimizer
    * computes a costly `c` once in a projection below.
    */
  def emptyToNull(c: Column): Column = toColumn(EmptyToNull(toExpression(c)))

  /** Built when analysis has resolved `child`: `With` needs its type. */
  private case class EmptyToNull(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {
    override lazy val replacement: Expression = With(child) { case Seq(v) =>
      val s = if (v.dataType.isInstanceOf[StringType]) v
        else Cast(v, StringType, Some(internal.SQLConf.get.sessionLocalTimeZone))
      If(EqualTo(StringTrim(s), Literal("")), Literal.create(null, v.dataType), v)
    }
    override protected def withNewChildInternal(newChild: Expression): EmptyToNull = copy(child = newChild)
  }
}
