package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Runtime data-QC assertions — the reference's test strategy (SURVEY.md
  * §5.2): expected row-count windows (`AzGeneBurden.py:126-132`, 28k–30k;
  * `GenebassGeneBurden.py:64-68`), invariant checks (no zero p-values
  * after repair `AzGeneBurden.py:120-124`; key uniqueness
  * `IMPC.py:295-296`), fraction windows (`ChEMBL.py:59-63`).
  *
  * Each helper triggers ONE action and fails loudly. At scale, prefer
  * calling several on a persisted DataFrame, or fold invariants into a
  * single `agg` pass like [[assertAll]].
  */
object Qc {

  /** @param written what the K1 sink left, when the check that failed
    *                ran during that write
    */
  final case class QcException(msg: String, written: Option[Writers.Written] = None)
      extends RuntimeException(msg)

  def assertCountBetween(df: DataFrame, lo: Long, hi: Long, what: String = "rows"): Long = {
    val n = df.count()
    if (n < lo || n > hi) throw QcException(s"$what count $n outside expected [$lo, $hi]")
    n
  }

  /** Key-uniqueness invariant (`IMPC.py:295-296`) in one aggregate pass. */
  def assertUniqueKey(df: DataFrame, keys: Seq[String]): Unit = {
    val cols = keys.map(col)
    val r = df.agg(count(lit(1)).as("n"), countDistinct(cols.head, cols.tail: _*).as("d")).head()
    if (r.getLong(0) != r.getLong(1))
      throw QcException(s"key ${keys.mkString(",")} not unique: ${r.getLong(0)} rows, ${r.getLong(1)} distinct")
  }

  /** No-values-matching invariant, e.g. zero p-values after repair. */
  def assertNone(df: DataFrame, predicate: org.apache.spark.sql.Column, what: String): Unit = {
    val n = df.filter(predicate).count()
    if (n != 0) throw QcException(s"$n rows violate invariant: $what")
  }

  /** Fraction-in-window check (`ChEMBL.py:59-63`: stopped-trial share
    * 8–15%) as a single pass.
    */
  def assertFractionBetween(
      df: DataFrame,
      predicate: org.apache.spark.sql.Column,
      lo: Double,
      hi: Double,
      what: String,
  ): Double = {
    val r = df.agg(
      sum(when(predicate, 1L).otherwise(0L)).as("m"),
      count(lit(1)).as("n")).head()
    val frac = if (r.getLong(1) == 0) 0.0 else r.getLong(0).toDouble / r.getLong(1)
    if (frac < lo || frac > hi)
      throw QcException(f"$what fraction $frac%.4f outside [$lo, $hi]")
    frac
  }

  /** Zero-cost QC via `Dataset.observe`: metrics accumulate DURING the
    * pipeline's own action instead of re-scanning with a separate
    * count()/agg() job (every helper above, like the reference's eager
    * QC asserts, pays one extra pass — at 100 TB that is a second full
    * scan). Attach near the scan, run the normal write, then validate
    * with [[observedMetrics]].
    */
  def observed(df: DataFrame, name: String, metrics: org.apache.spark.sql.Column*): DataFrame = {
    require(metrics.nonEmpty, "observed needs at least one metric column")
    df.observe(name, metrics.head, metrics.tail: _*)
  }

  /** Metrics recorded by [[observed]] for the LAST completed action that
    * ran this Dataset's own QueryExecution (collect/foreach/toLocalIterator;
    * empty before any such action). `df.write` builds a NEW QueryExecution,
    * so for writes read the metrics from a `QueryExecutionListener` (the
    * listener receives every execution, including writes) — or in
    * streaming, from `StreamingQueryProgress.observedMetrics`.
    */
  def observedMetrics(df: DataFrame): Map[String, org.apache.spark.sql.Row] =
    df.queryExecution.observedMetrics

  // ---------------- evidence-contract validation (reference §5.1) ------
  // The reference validates every evidence file against a versioned JSON
  // Schema before accepting it (`Snakefile:110,130,154` runs
  // opentargets_validator over each output). That splits into two
  // Spark-native halves: [[Contracts.assertConforms]] checks the SCHEMA
  // shape from plan metadata (no data pass); the rules here check the
  // VALUES — required/enums/patterns/array shapes as per-row violation
  // predicates, counted either in one aggregate pass (validateEvidence)
  // or for free during the output write itself via Dataset.observe
  // (writeJsonGzSingle's contract parameter).

  /** Declarative output contract. All field names are dot paths, so
    * nested struct members validate like top-level columns.
    *
    * @param required        must be non-null on every row
    * @param enums           when present, value must be one of the listed
    * @param patterns        when present, value must match the regex
    * @param nonEmptyArrays  when present, array must have ≥1 element
    * @param elementRequired (arrayField, memberField): every element of
    *                        the array must carry a non-null member — the
    *                        nested-shape check JSON Schema does with
    *                        items.required
    */
  final case class EvidenceContract(
      required: Seq[String] = Nil,
      enums: Map[String, Seq[String]] = Map.empty,
      patterns: Map[String, String] = Map.empty,
      nonEmptyArrays: Seq[String] = Nil,
      elementRequired: Seq[(String, String)] = Nil,
  ) {
    def isEmpty: Boolean =
      required.isEmpty && enums.isEmpty && patterns.isEmpty &&
        nonEmptyArrays.isEmpty && elementRequired.isEmpty
  }

  /** Compile a contract to (rule label, row-violates predicate) pairs.
    * A path that doesn't exist at all fails analysis — loudly, like a
    * schema mismatch should. Presence rules ignore nulls (that's what
    * `required` is for), mirroring JSON Schema's required-vs-type split.
    */
  def contractViolations(c: EvidenceContract): Seq[(String, Column)] = {
    val req = c.required.map(p => s"required:$p" -> col(p).isNull)
    val en = c.enums.toSeq.map { case (p, allowed) =>
      s"enum:$p" -> (col(p).isNotNull && !col(p).isin(allowed: _*))
    }
    val pat = c.patterns.toSeq.map { case (p, re) =>
      s"pattern:$p" -> (col(p).isNotNull && !col(p).rlike(re))
    }
    val arr = c.nonEmptyArrays.map(p => s"nonEmptyArray:$p" -> (col(p).isNotNull && size(col(p)) === 0))
    val el = c.elementRequired.map { case (p, m) =>
      s"elementRequired:$p.$m" -> (col(p).isNotNull && exists(col(p), e => e.getField(m).isNull))
    }
    req ++ en ++ pat ++ arr ++ el
  }

  /** One aggregate column per rule, counting violating rows (coalesce:
    * an empty DataFrame has zero violations, not null). Shared by the
    * one-pass and observe paths so the two gates can never drift.
    */
  private def contractAggs(c: EvidenceContract): Seq[Column] = {
    val rules = contractViolations(c)
    require(rules.nonEmpty, "empty contract")
    rules.map { case (label, pred) =>
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as(label)
    }
  }

  /** Validate in ONE aggregate job; returns per-rule violation counts and
    * throws [[QcException]] naming every violated rule if any count > 0.
    */
  def validateEvidence(df: DataFrame, c: EvidenceContract): Map[String, Long] = {
    val aggs = contractAggs(c)
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val counts = contractCounts(row)
    failOnViolations(counts)
    counts
  }

  /** Attach the contract's violation counters as observed metrics: they
    * accumulate DURING the caller's own action (e.g. the output write) —
    * zero extra scans. Read them back per [[observedMetrics]]'s rules and
    * hand the metric row to [[contractCounts]]/[[failOnViolations]].
    */
  def observedEvidence(
      df: DataFrame,
      c: EvidenceContract,
      name: String = "evidence_contract",
  ): DataFrame =
    observed(df, name, contractAggs(c): _*)

  /** Violation counts from an observed-metrics row (all its columns are
    * rule counters by construction in [[observedEvidence]]).
    */
  def contractCounts(metrics: Row): Map[String, Long] =
    metrics.schema.fieldNames.map(f => f -> metrics.getAs[Long](f)).toMap

  def failOnViolations(counts: Map[String, Long], written: Option[Writers.Written] = None): Unit = {
    val bad = counts.toSeq.sortBy(_._1).collect { case (l, n) if n != 0 => s"$l=$n" }
    if (bad.nonEmpty) throw QcException(s"evidence contract violations: ${bad.mkString(", ")}", written)
  }

  /** Several boolean invariants in ONE job: each predicate is counted in a
    * single aggregate pass; returns violation counts keyed by label.
    */
  def assertAll(df: DataFrame, invariants: Seq[(String, org.apache.spark.sql.Column)]): Unit = {
    // coalesce: sum over ZERO rows is null; an empty DataFrame has zero
    // violations and must pass, not NPE.
    val aggs = invariants.map { case (label, pred) =>
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as(label)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bad = invariants.zipWithIndex.collect {
      case ((label, _), i) if row.getLong(i) != 0 => s"$label=${row.getLong(i)}"
    }
    if (bad.nonEmpty) throw QcException(s"invariant violations: ${bad.mkString(", ")}")
  }
}
