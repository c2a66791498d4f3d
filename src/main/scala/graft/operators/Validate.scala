package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Layout + data-quality validation (SURVEY.md §2.2 P4-P10, P16).
  *
  * Reference: utils/utils_transform.py:77-136. All predicates operate on RAW
  * STRING columns (validation precedes casting in the reference). Flags are
  * materialized as named boolean columns so Catalyst reuses the trimmed
  * subexpression instead of recomputing it per predicate (the reference
  * recomputes `astype(str).str.strip()` for every check).
  */
object Validate {

  /** Outcome of the P16 layout check (utils/utils_transform.py:77-101):
    * missing expected columns → hard failure; extra columns → warn only.
    */
  final case class LayoutCheck(missing: Seq[String], extra: Seq[String]) {
    def ok: Boolean = missing.isEmpty
  }

  def checkLayout(df: DataFrame, expected: Seq[String] = Layout.validColumns): LayoutCheck =
    checkLayout2(df.columns.toSeq, expected)

  /** Same set-diff over already-extracted column names (e.g. a CSV header
    * line read driver-side — [[graft.Pipeline.checkHeader]]).
    */
  def checkLayout2(actual: Seq[String], expected: Seq[String] = Layout.validColumns): LayoutCheck =
    LayoutCheck(expected.diff(actual), actual.diff(expected))

  /** P4: non-null ∧ non-blank ∧ email-regex (utils/utils_transform.py:112-116). */
  def validEmail(c: Column): Column =
    c.isNotNull && trim(c) =!= "" && trim(c).rlike(Layout.emailRegex)

  /** P5: null is valid; else non-blank ∧ date-shape regex
    * (utils/utils_transform.py:121-129). NOTE: a blank/whitespace-only
    * non-null value is INVALID (fails the `ne("")` arm), matching pandas.
    */
  def validDate(c: Column): Column =
    c.isNull || (trim(c) =!= "" && trim(c).rlike(Layout.dateRegex))

  /** Adds `valid_email`, one `valid_<dateCol>` per date column, `valid_dates`,
    * `is_valid` (utils/utils_transform.py:104-134). Column names with spaces
    * are preserved (backtick-quoted on access).
    */
  def withValidityFlags(df: DataFrame,
                        emailCol: String = "email",
                        dateCols: Seq[String] = Layout.dateColumns): DataFrame = {
    val flagged = dateCols.foldLeft(df.withColumn("valid_email", validEmail(col(s"`$emailCol`")))) {
      (d, c) => d.withColumn(s"valid_$c", validDate(col(s"`$c`")))
    }
    val validDates = dateCols.map(c => col(s"`valid_$c`")).reduce(_ && _)
    flagged
      .withColumn("valid_dates", validDates)
      .withColumn("is_valid", col("valid_email") && col("valid_dates"))
  }

  /** P7/P8: one-pass split into (valid, invalid). Both frames retain the
    * validity flags (the error expansion needs them); callers drop them via
    * [[Prepare.dropFlags]]. The parent is NOT materialized here:
    * [[graft.Pipeline.processBatch]] materializes the flagged frame ONCE
    * ([[Materialize.frame]]), so both sides filter that checkpoint, and the
    * source is scanned in a single pass.
    */
  def split(flagged: DataFrame): (DataFrame, DataFrame) =
    (flagged.filter(col("is_valid")), flagged.filter(!col("is_valid")))

  /** Flag columns added by [[withValidityFlags]]. */
  def flagColumns(dateCols: Seq[String] = Layout.dateColumns): Seq[String] =
    Seq("valid_email") ++ dateCols.map(c => s"valid_$c") ++ Seq("valid_dates", "is_valid")
}
