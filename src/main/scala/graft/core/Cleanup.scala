package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

/** String/regex cleanup library — SURVEY.md §2.9.
  *
  * The reference's densest competence is regex-driven normalization:
  * rulebook folds (`PanelApp.py:18-56,129-150`), `regexp_extract`
  * harvesting (`PanelApp.py:158-197`), `translate` scrubs
  * (`cancerBiomarkers.py:121-123`), conditional-null scrubs
  * (`PanelApp.py:213-216`).
  *
  * All of these are pure narrow projections: they stay inside whole-stage
  * codegen, never shuffle, and push no work to the driver — safe at any
  * scale.
  */
object Cleanup {

  /** Regex rulebook: apply (pattern → replacement) rules in order to one
    * column (reference's PanelApp phenotype rulebook applied in a fold).
    */
  def applyRegexRules(df: DataFrame, column: String, rules: Seq[(String, String)]): DataFrame =
    rules.foldLeft(df) { case (acc, (pat, rep)) =>
      acc.withColumn(column, regexp_replace(col(column), pat, rep))
    }

  /** Same rulebook as a single Column expression (composable). */
  def regexRules(c: Column, rules: Seq[(String, String)]): Column =
    rules.foldLeft(c) { case (acc, (pat, rep)) => regexp_replace(acc, pat, rep) }

  /** Whitespace-collapse + trim + lowercase: the canonical text key used
    * for fingerprinting/dedup.
    */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Conditional-null scrub: blank string → null (`PanelApp.py:213-216`),
    * `when(trim(c) =!= "", c)` with `c` evaluated once per row.
    */
  def emptyToNull(c: Column): Column =
    GraftShim.emptyToNull(c)

  /** Dictionary replace with exact-match semantics (reference
    * `df.replace(dict)` — `AzGeneBurden.py:255`, `CvdiGeneBurden.py:194`):
    * only exact cell matches are replaced, everything else passes through.
    */
  def dictReplace(df: DataFrame, columns: Seq[String], mapping: Map[String, String]): DataFrame =
    df.na.replace(columns, mapping)

  /** Last-path-segment extraction: `element_at(split(c, "/"), -1)`
    * (reference `common/evidence.py:315` — URL → ontology ID).
    */
  def lastSegment(c: Column, sep: String = "/"): Column =
    element_at(split(c, sep), -1)
}
