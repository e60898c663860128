package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar cleansing / parsing functions mirrored from the reference's
  * extract-side string handling (SURVEY.md §2.8). All are pure Column
  * compositions — codegen-friendly, no UDFs — so Catalyst can fold,
  * push, and whole-stage-compile them.
  *
  * Reference behaviors reproduced:
  *  - CR/LF/pipe stripping (/root/reference/MQ/mosaiq_person.sql:118-119,
  *    /root/reference/CNExT/cnext_note.sql:90-97)
  *  - empty-string ⇄ NULL normalization
  *    (/root/reference/Delphi/step_03_location.py:63-82)
  *  - NAACCR sentinel-date parsing (/root/reference/CNExT/cnext_person.sql:53-91)
  *  - soft casts, NULL on failure
  *    (/root/reference/Delphi/MSSQL_Vertica_Translations/README.md:127-130)
  */
object Cleansing {

  /** F5: strip CR/LF and replace the pipe delimiter, then trim.
    * Extracts are pipe-delimited so embedded delimiters corrupt rows. */
  def cleanse(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "[\r\n]", ""), "\\|", "-"))

  /** F5: `'' -> NULL` (the Python loader's `_clean`). */
  def emptyToNull(c: Column): Column = nullif(trim(c), lit(""))

  /** Vertica `::!` soft cast: NULL on failure, never error. The string→int
    * case routes through the native [[TryCastInt]] kernel: Spark 4's TRY
    * cast throws/catches per failing row (~5µs of fillInStackTrace per
    * NULL — at 10^10 rows that is the dominant cost of the whole
    * expression); the kernel runs the identical `UTF8String.toInt`
    * grammar exception-free (equality fuzz-pinned in TryCastIntSpec). */
  def softCast(c: Column, to: String): Column =
    if (to == "int" || to == "integer") TryCastInt(c) else c.try_cast(to)

  /** F3: NAACCR 8-char date `YYYYMMDD` with sentinel handling:
    *  - '00000000' / '99999999' = unknown → NULL
    *  - '88888888' = not applicable → NULL
    *  - month '99' → '01', day '99' → '01' (partial-date padding)
    * (/root/reference/CNExT/cnext_person.sql:53-91,
    *  /root/reference/CNExT/cnext_visit_detail.sql:64-99)
    */
  def parseNaaccrDate(c: Column): Column = {
    val yyyy = substring(c, 1, 4)
    val mm   = substring(c, 5, 2)
    val dd   = substring(c, 7, 2)
    val mm2  = when(mm === "99" || mm === "00", lit("01")).otherwise(mm)
    val dd2  = when(dd === "99" || dd === "00", lit("01")).otherwise(dd)
    when(c.isNull || length(c) =!= 8, lit(null).cast("date"))
      .when(c.isin("00000000", "99999999", "88888888"), lit(null).cast("date"))
      .when(yyyy === "9999" || yyyy === "0000", lit(null).cast("date"))
      .otherwise(to_date(concat(yyyy, mm2, dd2), "yyyyMMdd"))
  }

  /** F4: ICD-O style code formatting — STUFF(c,4,0,'.'): C509 → C50.9. */
  def icdDot(c: Column): Column =
    when(length(c) > 3, concat(substring(c, 1, 3), lit("."), substring(c, 4, 64)))
      .otherwise(c)

  /** F8: latest of two timestamps, null-safe (CASE picking max(Edit_DtTm)). */
  def latestOf(a: Column, b: Column): Column = greatest(a, b)

  /** X2: RTF → plain text (/root/reference/MQ/mosaiq_note.sql:76's
    * dbo.RTF2TXT). Regex strip of control words + group braces +
    * whitespace collapse — the 95% case of clinical-note RTF; kept as a
    * pure Column chain so it codegens and pushes like any other scalar. */
  def rtfToText(c: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(c,
      "\\\\[a-zA-Z]+-?[0-9]* ?", " "), // control words (\par, \fs24 ...)
      "[{}]", ""),                      // group braces
      "\\s+", " "))                     // collapse runs
}
