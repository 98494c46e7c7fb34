package graft.graph

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** The one driver-memory tier behind every `*Adaptive` operator (the
  * graph kit and NearDup.connectedComponentsAdaptive): a graph that fits
  * the driver iterates in memory instead of paying one round of
  * scheduler latency per distributed iteration, the way a broadcast
  * join collects a small side; anything bigger runs the operator's
  * distributed loop unchanged.
  *
  * The decision: the caller's projection is lazily localCheckpointed, so
  * the sizing count and whichever tier runs share one materialization of
  * the subtree above it. The driver tier is taken only when EVERY
  * projected column is LongType and the row count is at most
  * `maxDriverEdges`; the rows are then collected once as long tuples.
  * Otherwise the checkpointed frame goes to `distributed`. Operators that
  * accept any numeric id cast to long before calling; those whose driver
  * loop is exact only on long inputs pass their columns uncast, so other
  * types fall through. EAGER: on long inputs the count runs a job.
  *
  * Driver cost, measured on a JDK 17 driver with compressed oops: the
  * collected `Row`s retain about 100 B per long pair (130 B per triple)
  * and the tuples built from them 45 B (100 B). Both are live at once,
  * beside the serialized result blocks, so the [[MaxDriverEdges]] default
  * needs roughly 0.3 GB (pairs) to 0.5 GB (triples) of transient driver
  * heap before the operator's own maps. Size the bound down for small
  * drivers: 0 sends every non-empty graph to `distributed`, a negative
  * bound every graph.
  */
object DriverTier {

  /** Default row bound of every adaptive operator. */
  val MaxDriverEdges: Long = 2000000L

  /** Two-column tier: `driver` gets the rows as (c0, c1). */
  def pairs(edges: DataFrame, maxDriverEdges: Long)(distributed: DataFrame => DataFrame)(
      driver: Array[(Long, Long)] => DataFrame): DataFrame =
    choose(edges, maxDriverEdges, distributed, driver, r => (r.getLong(0), r.getLong(1)))

  /** Three-column tier: `driver` gets the rows as (c0, c1, c2). */
  def triples(edges: DataFrame, maxDriverEdges: Long)(distributed: DataFrame => DataFrame)(
      driver: Array[(Long, Long, Long)] => DataFrame): DataFrame =
    choose(edges, maxDriverEdges, distributed, driver,
      r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  private def choose[T: ClassTag](
      edges: DataFrame,
      maxDriverEdges: Long,
      distributed: DataFrame => DataFrame,
      driver: Array[T] => DataFrame,
      row: Row => T,
  ): DataFrame = {
    val e = edges.localCheckpoint(eager = false)
    if (e.schema.forall(_.dataType == LongType) && e.count() <= maxDriverEdges)
      driver(e.collect().map(row))
    else distributed(e)
  }
}
