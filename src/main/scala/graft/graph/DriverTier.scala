package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, GraftShim}
import org.apache.spark.sql.types.LongType

/** The one driver-memory tier behind every operator that iterates on the
  * driver: the 11 `*Adaptive` graph entry points (this package and
  * NearDup.connectedComponentsAdaptive), the KMeans Lloyd fits and the
  * Bradley–Terry MM rounds. An input that fits the driver iterates in
  * memory instead of paying one round of scheduler latency per
  * distributed iteration, the way a broadcast join collects a small
  * side; anything bigger runs the operator's distributed loop unchanged.
  *
  * The decision: the input is counted, and the driver tier is taken when
  * count × the caller's bytes per row is within [[BudgetBytes]], one
  * budget in bytes derived from the driver's max heap. Otherwise the same
  * frame goes to `distributed`. The count is a job (EAGER); callers pass
  * a checkpointed frame so the count and whichever tier runs share one
  * materialization ([[pairs]] and [[triples]] checkpoint for the graph
  * kit).
  *
  * The collect ([[GraftShim.collectDecoded]]) decodes each serialized
  * result row through the caller's `Encoder` straight into the array the
  * driver loop reads: there is no `Array[Row]` (or `Array[InternalRow]`)
  * beside it. A caller's bytes per row are the collect's peak: the
  * decoded row plus its serialized form, held until the collect returns.
  * Measured on a JDK 17 driver with compressed oops (1M rows of large
  * long ids): a `(Long, Long)` peaks at 91 B per row (a tuple of two
  * boxed longs, 60 B, plus 28 B serialized), a `(Long, Long, Long)` at
  * 117.5 B; the former `Array[Row]`-then-tuples collect peaked at 145 B
  * and 233 B.
  */
object DriverTier {

  /** Bytes the driver tier's collect may hold at its peak: 1/128 of the
    * driver's max heap (64 MiB at the 8 GiB default heap, 16 MiB at
    * 2 GiB). At 8 GiB this admits fewer bytes than each operator's
    * former row or element bound did at its peak.
    */
  val BudgetBytes: Long = Runtime.getRuntime.maxMemory / 128

  /** Peak bytes per `(Long, Long)` row: tuple 24 + two boxed longs 32 +
    * slot 4, plus a 24 B unsafe row and its 4 B length, rounded up.
    */
  private val PairBytes = 92L

  /** Peak bytes per `(Long, Long, Long)` row: tuple 24 + three boxed
    * longs 48 + slot 4, plus a 32 B unsafe row and its 4 B length,
    * rounded up.
    */
  private val TripleBytes = 120L

  /** Two-column graph tier: `driver` gets the rows as (c0, c1). */
  def pairs(edges: DataFrame)(distributed: DataFrame => DataFrame)(
      driver: Array[(Long, Long)] => DataFrame): DataFrame =
    longs(edges, PairBytes, distributed, driver)(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), implicitly)

  /** Three-column graph tier: `driver` gets the rows as (c0, c1, c2). */
  def triples(edges: DataFrame)(distributed: DataFrame => DataFrame)(
      driver: Array[(Long, Long, Long)] => DataFrame): DataFrame =
    longs(edges, TripleBytes, distributed, driver)(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong), implicitly)

  /** The graph kit's entry: the projection is lazily localCheckpointed,
    * and the driver tier is considered only when EVERY projected column
    * is LongType. Operators that accept any numeric id cast to long
    * before calling; those whose driver loop is exact only on long
    * inputs pass their columns uncast, so other types fall through
    * without a count.
    */
  private def longs[T: Encoder: ClassTag](
      edges: DataFrame,
      rowBytes: Long,
      distributed: DataFrame => DataFrame,
      driver: Array[T] => DataFrame,
  ): DataFrame = {
    val e = edges.localCheckpoint(eager = false)
    if (e.schema.forall(_.dataType == LongType)) choose(e, rowBytes)(distributed)(driver)
    else distributed(e)
  }

  /** The tier decision and collect: `driver` gets `input`'s rows decoded
    * as `T` when they fit [[BudgetBytes]] at `rowBytes` (the collect's
    * peak per row) each, else `distributed` gets `input`.
    */
  def choose[T: Encoder: ClassTag, R](input: DataFrame, rowBytes: Long)(
      distributed: DataFrame => R)(driver: Array[T] => R): R =
    if (input.count() <= BudgetBytes / rowBytes) driver(GraftShim.collectDecoded[T](input))
    else distributed(input)
}
