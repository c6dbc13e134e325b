package ingestbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.gen.RawGen
import graft.pipeline.Pipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One micro-batch of one query, read back from `StreamingQuery.recentProgress`.
  * `srcRows(i)` is the rows read from input topic `i` in this trigger. */
final case class Trig(query: String, batchId: Long, startMs: Long,
                      durations: Map[String, Long], rows: Long,
                      srcRows: IndexedSeq[Long]) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  def ms(phase: String): Double = durations.getOrElse(phase, 0L).toDouble
}

/** Running streaming queries (publish + dead-letter for a full topology, as
  * `Pipeline.runVehicleTopology` returns them) and the sink directories. */
final case class Topology(queries: Seq[(String, StreamingQuery)],
                          bus: String = "", deadLetterDir: String = "") {
  def awaitAll(): Unit = queries.foreach(_._2.processAllAvailable())
  def stop(): Unit = queries.foreach { case (_, q) =>
    try q.stop() catch { case _: Exception => () } }
  def failed: Int = queries.count(_._2.exception.isDefined)
}

object Progress {
  /** Data-carrying triggers of `q`, in batch order. Source progress entries
    * are mapped to input topics by their description (the file source names
    * its directory); a source whose description names no topic (the
    * `graft-spool` stream) takes the one topic left over. */
  def triggers(name: String, q: StreamingQuery, topics: Seq[String]): Seq[Trig] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val descs = p.sources.map(_.description).toSeq
      val direct = descs.map(d => topics.indexWhere(t => d.contains(s"/$t")))
      val rest = topics.indices.filterNot(direct.contains).iterator
      val idx = direct.map(i => if (i >= 0) i else rest.next())
      val rows = Array.fill(topics.size)(0L)
      idx.zip(p.sources).foreach { case (i, s) => rows(i) += s.numInputRows }
      val d = p.durationMs
      val durations = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      Trig(name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        durations, p.numInputRows, rows.toIndexedSeq)
    }.sortBy(_.batchId)

  /** For each file (given in arrival order within its topic), the end of the
    * first trigger whose cumulative rows from that topic cover it, or -1 if
    * no trigger did. Files are consumed whole and in arrival order, so the
    * cumulative row count identifies the trigger exactly. */
  def visibleMs(files: Seq[SpoolFile], trigs: Seq[Trig], nTopics: Int): Array[Long] = {
    val cum = Array.fill(nTopics)(0L)
    val marks = trigs.map { t =>
      (0 until nTopics).foreach(i => cum(i) += t.srcRows(i)); (t.endMs, cum.clone())
    }
    val prefix = Array.fill(nTopics)(0L)
    files.map { f =>
      prefix(f.source) += f.records
      val p = prefix(f.source)
      marks.find(_._2(f.source) >= p).map(_._1).getOrElse(-1L)
    }.toArray
  }

  /** A file is visible once every query of the topology has committed it. */
  def visibleAll(files: Seq[SpoolFile], perQuery: Seq[Seq[Trig]], nTopics: Int): Array[Long] = {
    val vs = perQuery.map(visibleMs(files, _, nTopics))
    files.indices.map(i => if (vs.exists(_(i) < 0)) -1L else vs.map(_(i)).max).toArray
  }
}

/** Rendered input pools, kept on disk next to the build they came from:
  * rendering is harness work and the same for every seed, so a run renders
  * only when the program (and so the rendering) changed. */
object Rendered {
  def cached(dir: Path, name: String)(make: => Seq[String]): Array[String] = {
    val f = dir.resolve(name)
    if (Files.exists(f)) return Files.readAllLines(f).toArray(Array.empty[String])
    val xs = make
    Files.createDirectories(dir)
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, xs.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    xs.toArray
  }
}

/** Seeded record selection and the expected-outcome bookkeeping. */
object Draw {
  /** `n` pool indices: concatenated seeded permutations of `0 until pool`. */
  def indices(rng: java.util.Random, n: Int, pool: Int): Array[Int] = {
    val out = new Array[Int](n)
    var filled = 0
    while (filled < n) {
      val perm = (0 until pool).toArray
      var i = pool - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1
      }
      val take = math.min(pool, n - filled)
      System.arraycopy(perm, 0, out, filled, take)
      filled += take
    }
    out
  }

  /** 64-bit FNV-1a of the UTF-8 bytes: multisets of records are compared
    * through this digest instead of holding every payload twice. */
  def digest(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes("UTF-8")
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xff); h *= 0x100000001b3L; i += 1 }
    h
  }

  final class Bag[K] {
    val m = mutable.HashMap.empty[K, Int]
    def add(k: K): Unit = m(k) = m.getOrElse(k, 0) + 1
    def size: Long = m.values.map(_.toLong).sum
    /** Records missing, duplicated or unexpected in `actual`. */
    def diff(actual: Bag[K]): Long =
      (m.keySet ++ actual.m.keySet).toSeq
        .map(k => math.abs(m.getOrElse(k, 0) - actual.m.getOrElse(k, 0)).toLong).sum
  }

  def split[A](xs: Seq[A], per: Int): Seq[Seq[A]] = xs.grouped(per).toSeq
}

/** The vehicle topology's inputs: raw Geotab, CalAmp and Ford messages from
  * `RawGen` (10% malformed, 10% missing a required field: `event_id % 10`
  * of 0 and 5), in `Pipeline.vehicleBindings` order. */
final class VehicleInput(val ids: IndexedSeq[Array[Long]], val values: IndexedSeq[Array[String]]) {
  def pool: Int = ids.map(_.length).min
}

object Vehicle {
  val bindings: Seq[Pipeline.TranslatorBinding] = Pipeline.vehicleBindings
  val topics: Seq[String] = bindings.map(_.source.outputTopic)
  private val sourceTypes = Seq("Geotab", "CalAmp", "Ford")
  private val devicePrefix = Seq("geo-", "cal-", "esn-")

  def poison(eventId: Long): Boolean = eventId % 10 == 0 || eventId % 10 == 5

  def render(spark: SparkSession, corpusDir: String, cache: Path): VehicleInput = {
    val rendered = Seq("geotab" -> RawGen.geotabRaw _, "calamp" -> RawGen.calAmpRaw _,
      "ford" -> RawGen.fordRaw _).map { case (name, f) =>
      Rendered.cached(cache, s"$name.tsv") {
        f(RawGen.events(spark, corpusDir)).select("event_id", "value").orderBy("event_id")
          .collect().toSeq.map(r => s"${r.getLong(0)}\t${r.getString(1)}")
      }.map { line => val t = line.indexOf('\t'); (line.take(t).toLong, line.drop(t + 1)) }
    }
    new VehicleInput(rendered.map(_.map(_._1)).toIndexedSeq, rendered.map(_.map(_._2)).toIndexedSeq)
  }

  def start(spark: SparkSession, work: Path): Topology = {
    val spool = work.resolve("spool"); val bus = work.resolve("bus")
    val dl = work.resolve("dead-letter")
    topics.foreach(t => Files.createDirectories(spool.resolve(t)))
    val (p, d) = Pipeline.runVehicleTopology(spark, spool.toString, bus.toString,
      dl.toString, work.resolve("checkpoint").toString)
    Topology(Seq("publish" -> p, "dead-letter" -> d), bus.toString, dl.toString)
  }

  /** Expected outcome (reference parity): the translators emit no
    * `meta.tenantId`, so the bus stays empty, every poisoned message lands
    * in the dead-letter sink under its translator's function name with its
    * original bytes, and every valid one lands there as `filterer`. */
  final class Expect {
    val quarantine = new Draw.Bag[(String, Long)]
    val translated = new Draw.Bag[(Int, Long)]
    var records = 0L
    def add(source: Int, eventId: Long, value: String): Unit = {
      records += 1
      if (poison(eventId)) quarantine.add(bindings(source).functionName -> Draw.digest(value))
      else translated.add(source -> eventId)
    }
  }

  /** Records not delivered exactly once as expected. */
  def check(spark: SparkSession, t: Topology, e: Expect): Long = {
    val bus = Spool.readBus(t.bus).size.toLong
    val q = new Draw.Bag[(String, Long)]
    val v = new Draw.Bag[(Int, Long)]
    var unexpected = 0L
    if (Files.exists(Paths.get(t.deadLetterDir, "_spark_metadata"))) {
      spark.read.parquet(t.deadLetterDir)
        .select(col("source"), col("value"),
          get_json_object(col("value"), "$.sourceType"),
          get_json_object(col("value"), "$.deviceId"))
        .collect().foreach { r =>
          if (r.getString(0) == "filterer") {
            val s = sourceTypes.indexOf(r.getString(2))
            val dev = Option(r.getString(3)).getOrElse("")
            if (s >= 0 && dev.startsWith(devicePrefix(s)))
              scala.util.Try(dev.substring(devicePrefix(s).length).toLong).toOption
                .fold(unexpected += 1)(id => v.add(s -> id))
            else unexpected += 1
          } else q.add(r.getString(0) -> Draw.digest(r.getString(1)))
        }
    }
    bus + unexpected + e.quarantine.diff(q) + e.translated.diff(v)
  }
}

/** Routable CMF for the tenant fan-out: real translator output with
  * `meta.tenantId` set from a seeded Zipf(1.1) draw over 100 tenants, plus
  * 10% unroutable messages in `RawGen.cmfRoutingRaw`'s drop classes (no
  * meta, null / empty / blank tenantId, malformed JSON). */
object Tenant {
  val topic = "cmf-events"
  val tenants = 100
  private val cdf = {
    val w = (1 to tenants).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def tenantName(r: Int): String = f"tenant-$r%03d"
  def topicOf(tenant: String): String = s"persistent://$tenant/integration/telemetry"

  /** Valid translated CMF for every rendered vehicle record, sorted. */
  def render(spark: SparkSession, corpusDir: String, cache: Path): Array[String] =
    Rendered.cached(cache, "cmf.txt") {
      val ev = RawGen.events(spark, corpusDir)
      Vehicle.bindings.zip(Seq(RawGen.geotabRaw _, RawGen.calAmpRaw _, RawGen.fordRaw _))
        .flatMap { case (b, raw) =>
          b.translate(raw(ev), "acme").valid.select("cmf_json").collect().map(_.getString(0))
        }.sorted
    }

  /** One message derived from `cmf`: (payload, Some(topic)) or (payload, None)
    * when the Filterer must drop it. */
  def message(cmf: String, rng: java.util.Random): (String, Option[String]) = {
    val at = cmf.lastIndexOf(",\"meta\":{")
    require(at > 0 && cmf.endsWith("}"), s"unexpected CMF shape: ${cmf.take(200)}")
    def withMeta(tenantJson: String) =
      cmf.substring(0, at) + ",\"meta\":{\"tenantId\":" + tenantJson + "," +
        cmf.substring(at + ",\"meta\":{".length)
    val u = rng.nextDouble()
    val hit = java.util.Arrays.binarySearch(cdf, u)
    val t = tenantName(1 + (if (hit >= 0) hit else -hit - 1).min(tenants - 1))
    if (rng.nextInt(10) != 0) (withMeta("\"" + t + "\""), Some(topicOf(t)))
    else rng.nextInt(5) match {
      case 0 => (cmf.substring(0, at) + "}", None)
      case 1 => (withMeta("null"), None)
      case 2 => (withMeta("\"\""), None)
      case 3 => (withMeta("\"   \""), None)
      case _ => ("{\"meta\":{\"tenantId\":\"" + t + "\"}," + cmf.substring(1, cmf.length / 2), None)
    }
  }

  /** The `runVehicleTopology` shape fed at the CMF topic: the publish query
    * routes through `Pipeline.routeCmf` into the `graft-spool` topics sink,
    * the dead-letter query keeps the Filterer's drops as `filterer`. */
  def start(spark: SparkSession, work: Path): Topology = {
    val cmfDir = work.resolve("spool").resolve(topic)
    Files.createDirectories(cmfDir)
    val bus = work.resolve("bus").toString
    val dl = work.resolve("dead-letter").toString
    val ckpt = work.resolve("checkpoint")
    def cmf = spark.readStream.format(graft.sources.SpoolDataSource.NAME).load(cmfDir.toString)
    val publish = Pipeline.routeCmf(cmf).routed.select("topic", "value")
      .writeStream.format(graft.sources.SpoolDataSource.NAME)
      .option("topics", "true").option("path", bus)
      .option("checkpointLocation", ckpt.resolve("publish").toString)
      .outputMode("append").start()
    val deadLetter = Pipeline.routeCmf(cmf).dropped
      .withColumn("source", lit("filterer"))
      .writeStream.format("parquet").partitionBy("source")
      .option("path", dl)
      .option("checkpointLocation", ckpt.resolve("dead-letter").toString)
      .outputMode("append").start()
    Topology(Seq("publish" -> publish, "dead-letter" -> deadLetter), bus, dl)
  }

  final class Expect {
    val routed = new Draw.Bag[(String, Long)]
    val dropped = new Draw.Bag[Long]
    var records = 0L
    def add(m: (String, Option[String])): Unit = {
      records += 1
      m._2.fold(dropped.add(Draw.digest(m._1)))(t => routed.add(t -> Draw.digest(m._1)))
    }
  }

  /** Routable messages must sit in their tenant's topic with their original
    * bytes, unroutable ones in the dead-letter sink as `filterer`, each once. */
  def check(spark: SparkSession, t: Topology, e: Expect): Long = {
    val r = new Draw.Bag[(String, Long)]
    Spool.readBus(t.bus).foreach { case (topic, v) => r.add(topic -> Draw.digest(v)) }
    val d = new Draw.Bag[Long]
    var unexpected = 0L
    if (Files.exists(Paths.get(t.deadLetterDir, "_spark_metadata")))
      spark.read.parquet(t.deadLetterDir).select("source", "value").collect().foreach { row =>
        if (row.getString(0) == "filterer") d.add(Draw.digest(row.getString(1)))
        else unexpected += 1
      }
    unexpected + e.routed.diff(r) + e.dropped.diff(d)
  }
}
