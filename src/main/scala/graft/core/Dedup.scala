package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators — SURVEY.md §2.6 (W1) plus the beyond-reference
  * exact/near-duplicate family a training-data pipeline needs.
  *
  * W1 is the reference's signature dedup: `row_number` over
  * `partitionBy(evidence keys).orderBy(score desc)` then keep row 1
  * (`IMPC.py:39-50,453-462`).
  *
  * Scale notes:
  *  - [[topOnePerKey]] is one hash-partition shuffle on the key columns;
  *    with AQE skew-join/skew-agg handling enabled, hot keys split fine.
  *  - Callers MUST pass a total order (unique tiebreaker) or the survivor
  *    is nondeterministic across runs/cluster sizes.
  *  - [[bestRowPerKey]] does the same with `max_by` semantics via an
  *    aggregate, which map-side-combines (partial aggregation) and so
  *    shuffles far less than the window variant when duplicates are many —
  *    prefer it at scale when only the surviving row (not its rank) matters.
  */
object Dedup {

  /** W1: keep the single best row per key group (window variant).
    * `order` must be a total order for determinism.
    */
  def topOnePerKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Aggregation-based "keep best per key": shuffles pre-combined partial
    * aggregates instead of whole rows. `orderCol` max wins; ties broken by
    * packing the tiebreaker into the struct ordering.
    */
  def bestRowPerKey(df: DataFrame, keys: Seq[String], orderCols: Seq[String]): DataFrame = {
    val payload = struct((orderCols ++ df.columns.filterNot(orderCols.contains)).map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max(payload).as("__best"))
      .select(df.columns.map(c => col(s"__best.$c").as(c)): _*)
  }

  /** Exact content dedup: normalize → hash → keep min id per hash.
    * The 100 TB path: the shuffle carries only (hash, id), not documents;
    * survivors join back by id.
    */
  def exactTextDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(Cleanup.normalizeText(col(textCol)))
    val survivors = df
      .select(col(idCol), h.as("__h"))
      .groupBy("__h")
      .agg(min(col(idCol)).as(idCol))
      .drop("__h")
    df.join(survivors, Seq(idCol), "left_semi")
  }
}
