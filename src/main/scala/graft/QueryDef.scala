package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared once: its name, the builder Verify runs
  * and the DuckDB oracle checks, that oracle's SQL, and — where the
  * verified shape carries exact columns that exist only to satisfy the
  * oracle — the approximate shape a user would run, which Bench times
  * instead.
  *
  * @param build     the verified shape (Verify, the oracle gate, the specs)
  * @param oracleSql DuckDB SQL over the same parquet tables
  * @param bench     the shape Bench times; None times `build`
  */
final case class QueryDef(
    name: String,
    build: QueryDef.Builder,
    oracleSql: String,
    bench: Option[QueryDef.Builder] = None)

object QueryDef {
  /** (session, testdata directory) => the query's DataFrame. */
  type Builder = (SparkSession, String) => DataFrame

  /** Name → entry. Fails naming every duplicate: a `Map(...)` literal
    * would silently keep the last of two equal keys.
    */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  /** The subset named by a `SPARK_GRAFT_ONLY` value (comma-separated);
    * None when unset. Checked by [[checked]].
    */
  def only(raw: Option[String], known: String => Boolean): Option[Set[String]] =
    raw.map(value => checked("SPARK_GRAFT_ONLY", value.split(",").toSeq, known).toSet)

  /** `names` trimmed, blanks and repeats dropped, in order. Fails naming
    * every name outside `known`, and on a list that names nothing — a
    * typo must not turn into an empty run that a gate counts as green.
    * `source` names where the list came from in the message.
    */
  def checked(source: String, names: Seq[String], known: String => Boolean): Seq[String] = {
    val kept = names.map(_.trim).filter(_.nonEmpty).distinct
    val unknown = kept.filterNot(known).sorted
    require(unknown.isEmpty, s"$source names unknown queries: ${unknown.mkString(", ")}")
    require(kept.nonEmpty, s"$source names no query: '${names.mkString(",")}'")
    kept
  }
}
