package graft.functions

import java.time.{DateTimeException, LocalDate, ZoneId}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Scalar unit, number and date conversions of the extract (SURVEY.md §2.2
  * E6/E7/E9/E15/E24) as plain Scala functions, called once per reaction
  * inside [[graft.extract.Extract.extractReactions]]' typed map. Each must
  * give what its Spark expression gives (`when` chains, `round`,
  * `try_cast`, `try_to_timestamp`/`to_date`), so the extract's output does
  * not depend on which form runs; ExtractParitySpec keeps those
  * expressions as its oracle. A caller that needs a Column wraps the
  * scalar in a UDF ([[parseUsDate]] for the q22 registry query).
  */
object Conversions {
  private def d(s: String): Column = lit(new java.math.BigDecimal(s))

  /** E6 — temperature to °C (extract/extractor.py:423-455). Unit codes
    * follow the ORD enum: 1=C, 2=F, 3=K; any other unit falls back to the
    * control-type defaults: AMBIENT→25, ICE_BATH→0, DRY_ICE→−78.5,
    * LIQUID_N2→−196. A known unit with no value stays null.
    */
  def temperatureToCelsius(value: Option[Double], unit: Int, control: Int): Option[Double] =
    unit match {
      case 1 => value
      case 2 => value.map(v => (v - 32) * 5 / 9)
      case 3 => value.map(_ - 273.15)
      case _ => control match {
        case 2 => Some(25.0)
        case 6 => Some(0.0)
        case 9 => Some(-78.5)
        case 11 => Some(-196.0)
        case _ => None
      }
    }

  /** Exact inverse directions (multiply/add only — lossless in decimal, used
    * by the oracle-checked conversion query; the reference's divide
    * directions live in [[temperatureToCelsius]]/[[rxnTimeToHours]] and are
    * spec-tested with tolerance). */
  def celsiusToFahrenheitExact(dec: Column): Column = dec * d("1.8") + 32
  def celsiusToKelvinExact(dec: Column): Column = dec + d("273.15")

  /** `round(x, 2)` on a double: HALF_UP through the decimal form of `x`,
    * NaN and ±Infinity unchanged, as Spark's `round`. */
  def round2(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue

  /** E7 — reaction time to hours (extract/extractor.py:457-474): 1=h, 2=min,
    * 3=s, 4=day; rounded to 2 dp like the reference. */
  def rxnTimeToHours(value: Option[Double], unit: Int): Option[Double] =
    (unit match {
      case 1 => value
      case 2 => value.map(_ / 60)
      case 3 => value.map(_ / 3600)
      case 4 => value.map(_ * 24)
      case _ => None
    }).map(round2)

  /** E15 — does `s` cast to a double (extract/extractor.py:754-781)?
    * Spark's string → double cast: `toDouble` (which trims chars ≤ ' ' and
    * takes Java's literal forms, "1d" and "0x1p3" included), else the
    * case-insensitive `inf`/`infinity`/`nan` literals. The first test skips
    * the exception both would throw for a string that cannot start a
    * number (most SMILES). False for null. */
  def isNumeric(s: String): Boolean = {
    if (s == null) return false
    var i = 0
    while (i < s.length && s.charAt(i) <= ' ') i += 1
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    i < s.length && "0123456789.NnIi".indexOf(s.charAt(i).toInt) >= 0 &&
      (try { s.toDouble; true }
      catch {
        case _: NumberFormatException =>
          Cast.processFloatingPointSpecialLiterals(s, false) != null
      })
  }

  private val grantMonth = "uspto-grants-(\\d{4}_\\d{2})".r.unanchored

  /** E9/E24 date parsing in one time zone (a session's
    * `spark.sql.session.timeZone`): Spark's own `to_timestamp` formatter
    * (`SimpleDateFormat` legacy fallback, parsing mode), then its
    * timestamp → date cast. Build it on the driver, once per query; the
    * formatter reads the session's time-parser policy when built. */
  final class Dates(zone: ZoneId) extends Serializable {
    private def formatter(pattern: String) = TimestampFormatter(pattern, zone,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true)
    private val usDate = formatter("MM/dd/yyyy")
    private val yearMonth = formatter("yyyy_MM")

    private def day(micros: Long): LocalDate =
      LocalDate.ofEpochDay(DateTimeUtils.microsToDays(micros, zone))

    /** E9 — `%m/%d/%Y` date, null when it does not parse
      * (extract/extractor.py:483-499, pandas' `errors="coerce"`), as
      * `to_date(try_to_timestamp(s, 'MM/dd/yyyy'))`. Strict: one-digit
      * months and days do not parse. */
    def parseUsDate(s: String): LocalDate =
      if (s == null) null
      else
        try day(usDate.parse(s))
        catch { case _: DateTimeException | _: java.text.ParseException => null }

    /** E24 — grant date from the dataset file name
      * (extract/extractor.py:52-81): the first day of the `YYYY_MM` after
      * `uspto-grants-`; null for a name without it. A `YYYY_MM` that is no
      * month (`2016_13`) throws, naming the file. */
    def grantDate(fileName: String): LocalDate =
      if (fileName == null) null
      else fileName match {
        case grantMonth(m) =>
          try day(yearMonth.parse(m))
          catch {
            case e @ (_: DateTimeException | _: java.text.ParseException) =>
              throw new IllegalArgumentException(
                s"ORD file $fileName: grant month $m is not a valid YYYY_MM", e)
          }
        case _ => null
      }
  }

  object Dates {
    /** Parsers in the time zone of the active session's conf. */
    def session(): Dates =
      new Dates(DateTimeUtils.getZoneId(SQLConf.get.sessionLocalTimeZone))
  }

  /** Column form of [[Dates.parseUsDate]] in the session time zone, for
    * the q22 registry query. */
  def parseUsDate(c: Column): Column = {
    val dates = Dates.session()
    udf((s: String) => dates.parseUsDate(s)).apply(c)
  }
}
