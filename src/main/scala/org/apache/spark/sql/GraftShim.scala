package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.encoders.{encoderFor, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression, If, Literal, RuntimeReplaceable, StringTrim, With}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.csv.TextInputCSVDataSource
import org.apache.spark.sql.types.{DataType, StringType, StructType}

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

  /** `df`'s rows decoded by `enc` straight into one presized array, the
    * only copy on the driver beside the serialized result blocks:
    * `Dataset.collect` first builds an `Array[InternalRow]` and then maps
    * it. Runs as a SQL execution like `collect`, so listeners see it.
    * `executeCollectIterator` and the encoder's deserializer are
    * private[sql].
    */
  def collectDecoded[T: Encoder: ClassTag](df: DataFrame): Array[T] = {
    val qe = df.queryExecution
    val fromRow = encoderFor[T].resolveAndBind(qe.analyzed.output).createDeserializer()
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val (n, rows) = qe.executedPlan.executeCollectIterator()
      val out = new Array[T](n.toInt)
      var i = 0
      rows.foreach { r => out(i) = fromRow(r); i += 1 }
      out
    }
  }

  /** The encoder of a `dataType` column's external values (`Row.get`'s
    * types), for decoding a column whose type is known only at run time.
    */
  def externalEncoder(dataType: DataType): Encoder[Any] =
    RowEncoder.encoderForDataType(dataType, lenient = false).asInstanceOf[Encoder[Any]]

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
