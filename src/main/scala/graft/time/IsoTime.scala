package graft.time

import java.time.{DateTimeException, Instant}
import java.time.chrono.IsoChronology
import java.time.format.{DateTimeFormatter, DateTimeFormatterBuilder, ResolverStyle}
import java.time.temporal.ChronoField

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Canonical ISO-8601 timestamp text at UTC, in `Instant.toString`'s shape
  * over millisecond instants:
  *
  *  - offset rendered as `Z`
  *  - no fractional seconds when the instant is whole-second
  *    (GeotabTranslatorTest.kt:60 asserts `"2023-10-26T10:00:00Z"`)
  *  - a 3-digit millisecond fraction otherwise (`.100Z`, `.120Z`)
  *  - years outside 0000–9999 signed (`-0001`, `+10000`)
  *
  * The reference translators format with
  * `DateTimeFormatter.ISO_OFFSET_DATE_TIME.withZone(UTC)`
  * (GeotabTranslator.kt:89,108–109), which on JDK 17 drops trailing zeros
  * of the fraction (`.1Z`, `.12Z`); the wire bytes here keep the 3-digit
  * form, which the DuckDB oracle and TranslatorSpec pin.
  *
  * Each function is ONE expression node: a `StaticInvoke` of a java.time
  * call. A Column used k times in a plan is copied k times, and filter
  * pushdown re-inlines aliases into predicates, so a multi-node spelling
  * here multiplies through every translator reference. Output does not
  * depend on the session time zone.
  */
object IsoTime {

  // Spark timestamps are epoch MICROseconds in a Long: beyond
  // |Long.MaxValue/1000| ms an instant has no timestamp value, so an
  // absurd but schema-valid epoch surfaces as NULL (the quarantine path).
  private val MaxSafeMs = Long.MaxValue / 1000L

  /** True iff the epoch-millis value survives [[isoFromEpochMillis]] —
    * translators include this in their validity gate so an unrepresentable
    * epoch QUARANTINES (matching the "poison the record" divergence
    * contract) instead of passing through with a NULL dateTime.
    * between(), not abs()<=: under non-ANSI SQL abs(Long.MinValue) wraps
    * to Long.MinValue (negative), so an abs-guard PASSES the one value it
    * exists to reject. */
  def representableMs(epochMs: Column): Column =
    epochMs.between(-MaxSafeMs, MaxSafeMs)

  /** epoch milliseconds → canonical ISO-8601 UTC string. Null-safe; an
    * out-of-range epoch (|ms| > Long.MaxValue/1000) yields NULL — poison
    * the record, never the job. */
  def isoFromEpochMillis(epochMs: Column): Column =
    invoke("isoOfMillis", StringType, epochMs)

  /** epoch seconds → canonical ISO-8601 UTC string (CalAmpTranslator.kt:100–101).
    * try_multiply: under ANSI mode a plain ×1000 on an absurd epoch THROWS —
    * overflow must surface as NULL so callers fold it into the poison path
    * (the reference's Kotlin wraps silently and emits garbage; quarantining
    * is our documented divergence). */
  def isoFromEpochSeconds(epochS: Column): Column =
    isoFromEpochMillis(try_multiply(epochS, lit(1000L)))

  /** ISO-8601 string (offset or `Z`, optional fraction) → epoch millis.
    * Mirrors `Instant.parse(s).toEpochMilli()` (GeotabTranslator.kt:108) and
    * yields NULL on unparseable input instead of raising (the poison-message
    * path — GeotabTranslator.kt:154–157 drops such records). Accepts what
    * `Instant.parse` accepts except:
    *
    *  - a `.` with no fraction digits (`…:00.Z`),
    *  - `T24:00:00` and the leap second `23:59:60` (strict resolution),
    *  - instants outside Spark's microsecond timestamp range.
    *
    * Sub-millisecond digits truncate exactly as `toEpochMilli` does. */
  def epochMillisFromIso(iso: Column): Column =
    invoke("millisOfIso", LongType, iso)

  private def invoke(kernel: String, dataType: DataType, arg: Column): Column =
    Bridge.column(StaticInvoke(getClass, dataType, kernel,
      Seq(Bridge.expression(arg)), returnNullable = true))

  /** Kernel of [[isoFromEpochMillis]]; public for the generated code. */
  def isoOfMillis(ms: Long): UTF8String =
    if (ms < -MaxSafeMs || ms > MaxSafeMs) null
    else UTF8String.fromString(Instant.ofEpochMilli(ms).toString)

  // ISO_INSTANT's grammar (case-insensitive, signed years past 4 digits,
  // `+HH:MM[:ss]` or `Z` offsets), with the fraction's `.` requiring a
  // digit and STRICT field ranges
  private val isoParser: DateTimeFormatter = new DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .append(DateTimeFormatter.ISO_LOCAL_DATE)
    .appendLiteral('T')
    .appendValue(ChronoField.HOUR_OF_DAY, 2).appendLiteral(':')
    .appendValue(ChronoField.MINUTE_OF_HOUR, 2).appendLiteral(':')
    .appendValue(ChronoField.SECOND_OF_MINUTE, 2)
    .optionalStart().appendFraction(ChronoField.NANO_OF_SECOND, 1, 9, true).optionalEnd()
    .appendOffsetId()
    .toFormatter()
    .withChronology(IsoChronology.INSTANCE)
    .withResolverStyle(ResolverStyle.STRICT)

  /** Kernel of [[epochMillisFromIso]]; public for the generated code. */
  def millisOfIso(s: UTF8String): java.lang.Long =
    try {
      val i = isoParser.parse(s.toString, Instant.from(_))
      val micros = Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L)
      Math.floorDiv(micros, 1000L)
    } catch {
      case _: DateTimeException | _: ArithmeticException => null
    }
}
