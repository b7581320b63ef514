package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar unit/date conversions (SURVEY.md §2.2 E6/E7/E9/E24) — pure
  * `when/otherwise` Catalyst expressions, fully codegen'd.
  */
object Conversions {
  private def d(s: String): Column = lit(new java.math.BigDecimal(s))

  /** E6 — temperature to °C (extract/extractor.py:423-455). Unit codes
    * follow the ORD enum: 1=C, 2=F, 3=K; unspecified (0) falls back to the
    * control-type defaults: AMBIENT→25, ICE_BATH→0, DRY_ICE→−78.5,
    * LIQUID_N2→−196.
    */
  def temperatureToCelsius(value: Column, unit: Column, controlType: Column): Column =
    when(unit === 1, value)
      .when(unit === 2, (value - 32) * 5 / 9)
      .when(unit === 3, value - lit(273.15))
      .when(controlType === 2, lit(25.0))
      .when(controlType === 6, lit(0.0))
      .when(controlType === 9, lit(-78.5))
      .when(controlType === 11, lit(-196.0))

  /** Exact inverse directions (multiply/add only — lossless in decimal, used
    * by the oracle-checked conversion query; the reference's divide
    * directions live in [[temperatureToCelsius]]/[[rxnTimeToHours]] and are
    * spec-tested with tolerance). */
  def celsiusToFahrenheitExact(dec: Column): Column = dec * d("1.8") + 32
  def celsiusToKelvinExact(dec: Column): Column = dec + d("273.15")

  /** E7 — reaction time to hours (extract/extractor.py:457-474): 1=h, 2=min,
    * 3=s, 4=day; rounded to 2 dp like the reference. */
  def rxnTimeToHours(value: Column, unit: Column): Column =
    round(
      when(unit === 1, value)
        .when(unit === 2, value / 60)
        .when(unit === 3, value / 3600)
        .when(unit === 4, value * 24), 2)

  /** E9 — `%m/%d/%Y` date parse, coerce-to-null on failure
    * (extract/extractor.py:483-499). `try_to_date` mirrors pandas'
    * `errors="coerce"` and stays null-on-fail under ANSI mode. */
  def parseUsDate(c: Column): Column =
    to_date(try_to_timestamp(c, lit("MM/dd/yyyy")))

  /** E24 — grant date from the dataset filename
    * (extract/extractor.py:52-81): `uspto-grants-YYYY_MM` into a date. */
  def grantDateFromFilename(c: Column): Column = {
    val m = regexp_extract(c, "uspto-grants-(\\d{4}_\\d{2})", 1)
    when(m =!= "", to_date(m, "yyyy_MM")) // ANSI-safe: no parse of ''
  }
}
