package graft

import graft.time.IsoTime
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The built-in spellings `IsoTime` used before its java.time kernels:
  * `date_format` + `pmod` + `lpad` for printing, a six-pattern
  * `try_to_timestamp` coalesce for parsing. Kept as the reference the
  * kernels are compared against. Both depend on a UTC session. */
object IsoTimeReference {
  private val MaxSafeMs = Long.MaxValue / 1000L

  def isoFromEpochMillis(epochMs: Column): Column = {
    val safe   = when(epochMs.between(-MaxSafeMs, MaxSafeMs), epochMs)
    val base   = date_format(timestamp_millis(safe), "yyyy-MM-dd'T'HH:mm:ss")
    val msPart = pmod(safe, lit(1000L))
    when(safe.isNull, lit(null).cast("string"))
      .when(msPart === 0L, concat(base, lit("Z")))
      .otherwise(concat(base, lit("."), lpad(msPart.cast("string"), 3, "0"), lit("Z")))
  }

  def epochMillisFromIso(iso: Column): Column = {
    val pats = Seq(0, 3, 9).flatMap { n =>
      val frac = if (n == 0) "" else s".${"S" * n}"
      Seq(s"yyyy-MM-dd'T'HH:mm:ss${frac}XXX",
          s"yyyy-MM-dd'T'HH:mm:ss${frac}XXXXX")
    }
    unix_millis(coalesce(pats.map(p => try_to_timestamp(iso, lit(p))): _*))
  }
}

/** Differential test: the `IsoTime` kernels against [[IsoTimeReference]],
  * case by case, output and NULL-ness. Inputs go through an RDD-backed
  * frame so the kernels run in generated code, and through a local frame,
  * which the optimizer evaluates with the interpreted path. */
class IsoTimeSpec extends SparkSpec {

  private val MaxSafeMs = Long.MaxValue / 1000L
  // the earliest instant today's parser can hold: it multiplies the epoch
  // SECOND by 10^6 first, which overflows below -9223372036854 s
  private val MinParsedMs = -9223372036854000L
  private def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString

  private def rddFrame(field: StructField, values: Seq[Any]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(values.map(Row(_)), 4),
      StructType(Seq(field)))

  /** Rows (input, reference, kernel) where the two disagree, evaluated
    * both generated and interpreted. */
  private def mismatches(field: StructField, values: Seq[Any],
                         ref: Column => Column, kernel: Column => Column): Seq[Row] = {
    val x = col(field.name)
    val generated = rddFrame(field, values)
      .select(x, ref(x).as("ref"), kernel(x).as("kernel"))
    val interpreted = spark.createDataFrame(
      java.util.Arrays.asList(values.map(Row(_)): _*), StructType(Seq(field)))
      .select(x, ref(x).as("ref"), kernel(x).as("kernel"))
    Seq(generated, interpreted).flatMap(
      _.filter(!(col("ref") <=> col("kernel"))).limit(20).collect())
  }

  private val epochs: Seq[Long] = {
    val rnd = new scala.util.Random(20231026L)
    val uniform = Seq.fill(10000)(rnd.nextLong() % (MaxSafeMs + 1))
    // 1900..2100, where real records live
    val recent = Seq.fill(2000)(-2208988800000L +
      (rnd.nextDouble() * 6311433600000L).toLong)
    val yearEdges = Seq(
      -62198755200000L, // -0001-01-01
      -62167219200000L, // 0000-01-01
      253370764800000L, // 9999-01-01
      253402300800000L) // +10000-01-01
    val bases = Seq(0L, MaxSafeMs - 999L, 1698314400000L) ++ yearEdges
    val subSecond = for {
      b <- bases ++ bases.map(b => -b - 1000L); f <- Seq(0, 1, 100, 120, 999)
    } yield b + f
    uniform ++ recent ++ subSecond ++ yearEdges.flatMap(e => Seq(e - 1, e + 1)) ++
      Seq(0L, -1L, MaxSafeMs, -MaxSafeMs, MaxSafeMs + 1, -MaxSafeMs - 1,
        Long.MaxValue, Long.MinValue)
  }

  test("isoFromEpochMillis: the java.time kernel prints today's bytes") {
    val bad = mismatches(StructField("ms", LongType), epochs :+ null,
      IsoTimeReference.isoFromEpochMillis, IsoTime.isoFromEpochMillis)
    assert(bad.isEmpty, s"mismatches (ms, reference, kernel):\n${bad.mkString("\n")}")
  }

  test("epochMillisFromIso: the java.time kernel accepts and rejects what today does") {
    import spark.implicits._
    val t = "2023-10-26T10:00:00"
    val fractions = (0 to 10).map(n => "1234567890".take(n))
      .flatMap(f => Seq(s"$t.${f}Z", s"$t.$f+05:30", s"$t.$f-00:00"))
    val listed = Seq(
      // PropSpec's accepted and rejected lists
      "2023-10-26T10:00:00Z", "2023-10-26T11:00:00.5+01:00",
      "2023-10-26", "2023-10-26 10:00:00Z", "2023-10-26T10:00:00.Z", "not-a-time",
      // where Instant.parse and today's parser part ways
      "2023-10-26T24:00:00Z", "2016-12-31T23:59:60Z",
      // calendar, case, offsets
      "2023-02-29T10:00:00Z", "2024-02-29T10:00:00Z", "2023-10-26t10:00:00z",
      s"${t}+0530", s"${t}+05:30:15", s"${t}-05:30:15", s"${t}-00:00",
      s"${t}+05", s"${t}+18:00", s"${t}+18:01", s"${t}+5:30", s"${t}UTC",
      s"${t}GMT+01:00", "2023-10-26T10:00Z", "2023-10-26T1:00:00Z",
      // signed and 5-digit years
      "-0001-01-01T00:00:00Z", "0000-01-01T00:00:00Z", "+0000-01-01T00:00:00Z",
      "9999-12-31T23:59:59.999Z", "+10000-01-01T00:00:00Z", "10000-01-01T00:00:00Z",
      "+2023-10-26T10:00:00Z", "-2023-10-26T10:00:00Z", iso(MaxSafeMs), iso(MinParsedMs),
      // surrounding spaces and other framing
      s" ${t}Z", s"${t}Z ", s"\t${t}Z", s"${t}Z\n", "", " ")
    // every printed epoch parses back
    val printed = rddFrame(StructField("ms", LongType), epochs.filter(_ >= MinParsedMs))
      .select(IsoTime.isoFromEpochMillis(col("ms"))).as[String].collect().toSeq
    val bad = mismatches(StructField("iso", StringType),
      fractions ++ listed ++ printed :+ null,
      IsoTimeReference.epochMillisFromIso, IsoTime.epochMillisFromIso)
    assert(bad.isEmpty, s"mismatches (iso, reference, kernel):\n${bad.mkString("\n")}")
  }

  test("epochMillisFromIso: instants past the microsecond range are NULL, not an error") {
    import spark.implicits._
    // today's parser throws ArithmeticException on these (the job dies);
    // the kernel quarantines them like any other unparseable time. The
    // printer reaches down to -MaxSafeMs, so the lowest printable instants
    // are among them.
    val past = Seq(iso(MaxSafeMs + 1), iso(MinParsedMs - 1), iso(-MaxSafeMs),
      "+300000-01-01T00:00:00Z", "-300000-01-01T00:00:00Z", "+999999999-12-31T23:59:59Z")
    past.foreach { s =>
      val e = intercept[Exception](Seq(s).toDF("iso")
        .select(IsoTimeReference.epochMillisFromIso(col("iso"))).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s)
    }
    val got = rddFrame(StructField("iso", StringType), past)
      .select(IsoTime.epochMillisFromIso(col("iso"))).collect()
    assert(got.forall(_.isNullAt(0)))
  }
}
