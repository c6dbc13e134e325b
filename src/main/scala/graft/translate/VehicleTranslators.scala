package graft.translate

import graft.model.Cmf
import graft.time.IsoTime
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A translator's output: the happy path and the poison path.
  *
  * The reference drops poison records with a log line
  * (GeotabTranslator.kt:154–157 returns null on any parse/validation error);
  * we return them as a first-class quarantine DataFrame instead — same
  * observable happy path, auditable error path (SURVEY.md §2.3 R4).
  */
final case class Translated(valid: DataFrame, quarantine: DataFrame)

/** The three per-source → CMF translators, re-expressed as pure Catalyst
  * expression pipelines (`from_json` + `select`) instead of per-record
  * functions. No UDFs, no mapPartitions: each translator is one narrow
  * projection that whole-stage-codegen fuses with the surrounding plan, so at
  * 100 TB it runs scan-speed with zero shuffles.
  *
  * Semantics cloned from the reference (file:line cited per rule below):
  *  - GeotabTranslator.kt:91–158  (ISO input, enum decode, custom fields)
  *  - CalAmpTranslator.kt:83–141  (epoch-seconds×1000)
  *  - FordTranslator.kt:99–156    (epoch-ms, nested coords, rpm Int→Double)
  *
  * Error contract (all three): Jackson with Kotlin data classes fails the
  * whole record on (a) malformed JSON, (b) missing required constructor args,
  * (c) unknown top-level fields (`FAIL_ON_UNKNOWN_PROPERTIES` default) — the
  * record is dropped, never the job. We reproduce (a) via PERMISSIVE
  * `from_json` null-out, (b) via required-field predicates, (c) via a
  * `json_object_keys` ⊆ allowed-keys check.
  */
object VehicleTranslators {

  /** GeotabInputMessage (GeotabTranslator.kt:34–47). */
  val geotabInputSchema: StructType = StructType(Seq(
    StructField("Device_ID", StringType),
    StructField("Vehicle_ID", StringType),
    StructField("Record_DateTime", StringType),
    StructField("Latitude", DoubleType),
    StructField("Longitude", DoubleType),
    StructField("Odometer_mi", DoubleType),
    StructField("EngineSpeed_rpm", DoubleType),
    StructField("Fuel_Level_pct", DoubleType),
    StructField("Ignition_Status", StringType),
    StructField("customGeotabField1", StringType),
    StructField("customGeotabField2", IntegerType)
  ))

  /** CalAmpInputMessage (CalAmpTranslator.kt:31–42). */
  val calAmpInputSchema: StructType = StructType(Seq(
    StructField("unit_id", StringType),
    StructField("vid", StringType),
    StructField("msg_ts", LongType),
    StructField("gps_lat", DoubleType),
    StructField("gps_lon", DoubleType),
    StructField("speed_mph", DoubleType),
    StructField("fuel_percent", DoubleType),
    StructField("voltage", DoubleType),
    StructField("calAmpSpecificValue", StringType)
  ))

  /** FordInputMessage's top-level keys (FordTranslator.kt:30–52); the
    * nested FordCoordinates and the open `fordExtraData: Map<String,Any>`
    * arrive as raw JSON text. */
  private val fordAllKeys = Seq("vin", "esn", "captureTime", "coords",
    "vehicleSpeed", "fuelRemainingGallons", "rpm", "fordExtraData")

  /** Jackson-parity strictness: a syntactically valid JSON object with a
    * top-level key outside the input data class is rejected
    * (FAIL_ON_UNKNOWN_PROPERTIES — load_test.py:32–42 relies on this to
    * poison the Geotab path). `json_object_keys` is null on non-objects;
    * those are caught by the malformed check already. */
  private def hasUnknownKeys(valueCol: Column, allowed: Seq[String]): Column = {
    val keys = call_function("json_object_keys", valueCol)
    coalesce(size(array_except(keys, array(allowed.map(lit): _*))) > 0, lit(false))
  }

  /** Parse each message ONCE with the `json_tuple` generator into `_j_*`
    * string columns. A `from_json` struct alias would be substituted into
    * every downstream field reference by Catalyst's filter-pushdown, cloning
    * the (non-codegen) parse per reference; a Generate node is not an alias
    * and cannot be inlined, so the parse stays single. */
  private def jsonTupled(raw: DataFrame, fields: Seq[String]): DataFrame =
    raw.select(col("*"),
      json_tuple(col("value"), fields: _*).as(fields.map(f => s"_j_$f")))

  private def j(f: String): Column = col(s"_j_$f")
  /** ANSI-safe numeric widening: a non-numeric string in a numeric field
    * must poison the record (Jackson parity), not fail the job. */
  private def jd(f: String): Column = expr(s"try_cast(_j_$f AS DOUBLE)")
  private def jl(f: String): Column = expr(s"try_cast(_j_$f AS BIGINT)")
  private def ji(f: String): Column = expr(s"try_cast(_j_$f AS INT)")
  /** Jackson parity for OPTIONAL numeric fields: absent/null is fine, but a
    * present non-numeric value fails the whole record (InvalidFormatException
    * in the reference's data-class binding). */
  private def optNumOk(fields: (String => Column), names: Seq[String]): Column =
    names.map(f => j(f).isNull || fields(f).isNotNull).reduce(_ && _)

  private def finish(tagged: DataFrame, cmf: Column,
                     jcols: Seq[String]): Translated =
    Translated(
      valid = tagged.filter(col("_ok")).drop("_ok")
        .withColumn("cmf", cmf)
        .withColumn("cmf_json", CmfJson.wire(col("cmf")))
        .drop(jcols.map(f => s"_j_$f"): _*),
      quarantine = tagged.filter(!col("_ok")).select("value"))

  /** Geotab raw JSON → CMF. Input DataFrame needs a `value` StringType column
    * (one message per row). `tenant` plays the role of `context.tenant`
    * (GeotabTranslator.kt:141). */
  def geotab(raw: DataFrame, tenant: String): Translated = {
    val fields = geotabInputSchema.fieldNames.toSeq
    val parsed = jsonTupled(raw, fields)
    val epochSource = IsoTime.epochMillisFromIso(j("Record_DateTime"))
    val ok = j("Device_ID").isNotNull && j("Vehicle_ID").isNotNull &&
      epochSource.isNotNull &&
      jd("Latitude").isNotNull && jd("Longitude").isNotNull &&
      optNumOk(jd, Seq("Odometer_mi", "EngineSpeed_rpm", "Fuel_Level_pct")) &&
      (j("customGeotabField2").isNull ||
        ji("customGeotabField2").isNotNull) &&
      !hasUnknownKeys(col("value"), fields)
    val tagged = parsed.withColumn("_ok", coalesce(ok, lit(false)))

    val dateTime = IsoTime.isoFromEpochMillis(epochSource)
    val telemetry = Cmf.telemetryStruct(Map(
      "location" -> struct(dateTime.as("timestamp"), jd("Longitude").as("lon"),
        jd("Latitude").as("lat")),
      "odometerCanMi" -> jd("Odometer_mi"),
      "engineRpm" -> jd("EngineSpeed_rpm"),
      "fuelLevelPct" -> jd("Fuel_Level_pct"),
      "ignitionStatus" -> Cmf.enumNormalize(j("Ignition_Status"), Seq("ON", "OFF"))
    ))
    // filterValues { it != null } (GeotabTranslator.kt:130–133) ≡ to_json's
    // default null-field dropping.
    val ssd = to_json(struct(
      j("customGeotabField1").as("customGeotabField1"),
      ji("customGeotabField2").as("customGeotabField2")))
    val cmf = Cmf.envelope(dateTime, epochSource, j("Vehicle_ID"), j("Device_ID"),
      lit(tenant), lit("Geotab"), j("Vehicle_ID"), telemetry, ssd,
      Map("translator" -> lit("GeotabTranslator_v1.0")))
    finish(tagged, cmf, fields)
  }

  /** CalAmp raw JSON → CMF. `msg_ts` is epoch SECONDS; epochSource is
    * seconds×1000 (CalAmpTranslator.kt:100). */
  def calAmp(raw: DataFrame, tenant: String): Translated = {
    val fields = calAmpInputSchema.fieldNames.toSeq
    val parsed = jsonTupled(raw, fields)
    // try_multiply: ANSI mode would throw on a schema-valid message whose
    // msg_ts overflows ×1000; overflow → NULL → quarantined (the reference's
    // Kotlin wraps silently — quarantine is the documented divergence)
    val epochSource = try_multiply(jl("msg_ts"), lit(1000L))
    val ok = j("unit_id").isNotNull && j("vid").isNotNull &&
      epochSource.isNotNull && IsoTime.representableMs(epochSource) &&
      jd("gps_lat").isNotNull && jd("gps_lon").isNotNull &&
      optNumOk(jd, Seq("speed_mph", "fuel_percent", "voltage")) &&
      !hasUnknownKeys(col("value"), fields)
    val tagged = parsed.withColumn("_ok", coalesce(ok, lit(false)))
    val dateTime = IsoTime.isoFromEpochMillis(epochSource)
    val telemetry = Cmf.telemetryStruct(Map(
      "location" -> struct(dateTime.as("timestamp"), jd("gps_lon").as("lon"),
        jd("gps_lat").as("lat")),
      "speedGpsMph" -> jd("speed_mph"),
      "fuelLevelPct" -> jd("fuel_percent"),
      "batteryVoltage" -> jd("voltage")
    ))
    val ssd = to_json(struct(j("calAmpSpecificValue").as("calAmpSpecificValue")))
    val cmf = Cmf.envelope(dateTime, epochSource, j("vid"), j("unit_id"),
      lit(tenant), lit("CalAmp"), j("vid"), telemetry, ssd,
      Map("translator" -> lit("CalAmpTranslator_v1.0")))
    finish(tagged, cmf, fields)
  }

  /** Ford raw JSON → CMF. Two independent timestamps: envelope from
    * `captureTime`, location from `coords.ts` (FordTranslator.kt:116–117);
    * `rpm` Int widened to Double (:127); `fordExtraData` forwarded verbatim,
    * `{}` when absent (:131). The nested `coords` object costs one extra
    * (tiny) json_tuple over its extracted text. */
  def ford(raw: DataFrame, tenant: String): Translated = {
    val top = fordAllKeys
    val sub = Seq("latValue", "lonValue", "ts")
    val parsed = jsonTupled(raw, top)
      .select(col("*"),
        json_tuple(col("_j_coords"), sub: _*).as(sub.map(f => s"_j_c_$f")))
    val ok = j("vin").isNotNull && j("esn").isNotNull &&
      jl("captureTime").isNotNull &&
      IsoTime.representableMs(jl("captureTime")) && j("coords").isNotNull &&
      jd("c_latValue").isNotNull && jd("c_lonValue").isNotNull &&
      jl("c_ts").isNotNull && IsoTime.representableMs(jl("c_ts")) &&
      optNumOk(jd, Seq("vehicleSpeed", "fuelRemainingGallons")) &&
      (j("rpm").isNull || ji("rpm").isNotNull) &&
      // fordExtraData: Map<String,Any> binding requires a JSON OBJECT.
      // KNOWN LIMITATION (json_tuple type erasure): a STRING value whose
      // text happens to look like an object ("{\"a\":1}") extracts to the
      // same unescaped text as a real object and passes this guard, where
      // Jackson would reject the record — distinguishing them needs a raw
      // JSON tokenizer, which no built-in exposes. Same erasure accepts
      // non-string scalars in string-typed fields.
      (j("fordExtraData").isNull ||
        call_function("json_object_keys", j("fordExtraData")).isNotNull) &&
      !hasUnknownKeys(col("value"), fordAllKeys) &&
      // FAIL_ON_UNKNOWN_PROPERTIES applies to the NESTED FordCoordinates
      // binding too — an unknown key inside coords must quarantine exactly
      // like one at the top level (json_tuple surfaces the coords object's
      // raw text, so the same key check applies)
      !hasUnknownKeys(j("coords"), sub)
    val tagged = parsed.withColumn("_ok", coalesce(ok, lit(false)))

    val dateTime = IsoTime.isoFromEpochMillis(jl("captureTime"))
    val locTime = IsoTime.isoFromEpochMillis(jl("c_ts"))
    val telemetry = Cmf.telemetryStruct(Map(
      "location" -> struct(locTime.as("timestamp"), jd("c_lonValue").as("lon"),
        jd("c_latValue").as("lat")),
      "speedGpsMph" -> jd("vehicleSpeed"),
      "fuelLevelGallon" -> jd("fuelRemainingGallons"),
      "engineRpm" -> ji("rpm").cast(DoubleType)
    ))
    // fordExtraData is forwarded verbatim as raw JSON text; `{}` when absent.
    val ssd = coalesce(j("fordExtraData"), lit("{}"))
    val cmf = Cmf.envelope(dateTime, jl("captureTime"), j("vin"), j("esn"),
      lit(tenant), lit("Ford"), j("vin"), telemetry, ssd,
      Map("translator" -> lit("FordTranslator_v1.0")))
    finish(tagged, cmf, top ++ sub.map(f => s"c_$f"))
  }
}

/** CMF wire-format serialization. Jackson serializes the Kotlin data classes
  * with nulls included and fields in declaration order; `sourceSpecificData`
  * is a raw JSON object, which `to_json` would re-escape as a string — so the
  * envelope is serialized in two parts and the payload spliced in verbatim. */
object CmfJson {
  def wire(cmf: Column): Column = {
    val head = to_json(cmf.dropFields("sourceSpecificData", "meta"),
      Map("ignoreNullFields" -> "false"))
    val meta = to_json(cmf("meta"), Map("ignoreNullFields" -> "false"))
    concat(
      substring_trailer_drop(head),
      lit(",\"sourceSpecificData\":"), cmf("sourceSpecificData"),
      lit(",\"meta\":"), coalesce(meta, lit("null")),
      lit("}"))
  }

  /** `head` minus its trailing `}` so more members can be appended. */
  private def substring_trailer_drop(c: Column): Column =
    c.substr(lit(1), length(c) - 1)
}
