package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Projection / rename / type-coercion operators (SURVEY §2.2; reference
  * behavior at /root/reference/flows/pipeline.py:118-148).
  *
  * All helpers are pure `Column` functions so they stay inside whole-stage
  * codegen and Catalyst can push/prune around them.
  */
object Normalize {

  /** P1 — column-name normalization: `strip().lower().replace(" ", "_")`
    * (pipeline.py:118). Pure metadata rename, no job.
    */
  def normalizeNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normName): _*)

  def normName(c: String): String = c.trim.toLowerCase.replace(" ", "_")

  /** P2 — string standardization with pandas-faithful null-coding
    * (pipeline.py:120-128): `astype(str).str.strip()[.str.lower()]` then an
    * EXACT-match replace of null literals. The replace runs AFTER trim/lower,
    * so on lowercased columns the literal "None" has already become "none"
    * and is NOT nulled — that quirk is preserved (see normTransactionType).
    */
  def normStr(c: Column, lowerCase: Boolean, nullLiterals: Seq[String]): Column = {
    val trimmed = trim(c.cast("string"))
    val v       = if (lowerCase) lower(trimmed) else trimmed
    when(v.isin(nullLiterals: _*), lit(null).cast("string")).otherwise(v)
  }

  /** pipeline.py:121 — trim; ""/"nan"/"None" → null. */
  def normAddress(c: Column): Column =
    normStr(c, lowerCase = false, Seq("", "nan", "None"))

  /** pipeline.py:123 — trim+lower; the replace map {"","nan","None"} is
    * applied to the ALREADY-lowercased value, so only ""/"nan" can match.
    */
  def normTransactionType(c: Column): Column =
    normStr(c, lowerCase = true, Seq("", "nan"))

  /** pipeline.py:124-128 — trim; ""/"nan"/"None"/"0" → null. */
  def normRegion(c: Column): Column =
    normStr(c, lowerCase = false, Seq("", "nan", "None", "0"))

  /** pandas read_csv's DEFAULT na_values (pandas.io.parsers STR_NA_VALUES,
    * pandas 2.2) — the reference ingests with pd.read_csv(path) and no
    * na_values override (pipeline.py:45), so these tokens are ALREADY NaN
    * when its pre-clean DQ profile runs. Spark's CSV reader only nulls the
    * empty field; [[pandasNaToNull]] closes the gap at ingest. EXACT match,
    * untrimmed — pandas matches the raw token (skipinitialspace=False), so
    * " None " survives ingest there and must survive here (the later
    * clean-step replace handles the trimmed forms; DifferentialRefSpec pins
    * both layers against the reference itself).
    */
  val PandasNaTokens: Seq[String] = Seq(
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null")

  /** Null-code pandas' default NA tokens in a string column (see
    * [[PandasNaTokens]]). Pure Column fn — stays in codegen.
    */
  def pandasNaToNull(c: Column): Column =
    when(c.isin(PandasNaTokens: _*), lit(null).cast("string")).otherwise(c)

  /** P3 — `pd.to_numeric(errors="coerce")`: unparseable → null, never error.
    * Spark 4 runs ANSI-on by default where a bare `cast` THROWS on bad input;
    * `try_cast` reproduces coerce-to-null semantics.
    */
  def tryNum(c: Column): Column = c.try_cast("double")
}
