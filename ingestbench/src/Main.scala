package ingestbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Benchmark entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <work dir> --out <artifact dir> --cache <corpus cache dir>
  *      --render <rendered-input cache dir>
  *      [--record <expected/curation.json>]
  * }}}
  * The last stdout line is the result object; the line before it carries
  * the run's validity and diagnostic fields. */
object Main {
  /** End-to-end metrics (untraced run) and their units. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_rps" -> "1/s", "e2e_latency_p50_ms" -> "ms",
    "e2e_latency_p90_ms" -> "ms", "cpu_s_per_mrec" -> "s", "batch_total_s" -> "s",
    "batch_cpu_s" -> "s", "live_heap_mb" -> "MiB", "delivered_share" -> "share")

  val perLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "sources.files_listed_per_trigger" -> "count", "sources.backlog_files" -> "count",
    "sources.read_rps" -> "1/s", "sources.latest_offset_ms.files_1k" -> "ms",
    "sources.latest_offset_ms.files_10k" -> "ms",
    "streaming.trigger_ms.p50" -> "ms", "streaming.trigger_ms.p99" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.triggers" -> "count",
    "streaming.records_per_trigger" -> "count", "streaming.jobs_per_trigger" -> "count",
    "streaming.stages_per_trigger" -> "count", "streaming.tasks_per_trigger" -> "count",
    "streaming.task_s_per_mrec" -> "s", "streaming.gc_s_per_mrec" -> "s",
    "streaming.shuffle_bytes" -> "bytes",
    "translate.geotab.rps" -> "1/s", "translate.calamp.rps" -> "1/s",
    "translate.ford.rps" -> "1/s", "translate.valid_share" -> "share",
    "translate.passes_per_record" -> "count",
    "pipeline.source_reads_per_record" -> "count", "pipeline.speedup_vs_local1" -> "x",
    "pipeline.isolation.read_s" -> "s", "pipeline.isolation.translate_s" -> "s",
    "pipeline.isolation.route_s" -> "s", "pipeline.isolation.sink_s" -> "s",
    "route.rps" -> "1/s", "route.routed_share" -> "share", "route.tenants" -> "count",
    "route.max_tenant_share" -> "share",
    "sink.add_batch_ms" -> "ms", "sink.commit_ms" -> "ms",
    "sink.commit_ms.files_1k" -> "ms", "sink.commit_ms.files_10k" -> "ms",
    "sink.files_per_epoch" -> "count", "sink.mean_file_kb" -> "KiB",
    "sink.dead_letter_add_batch_ms" -> "ms") ++
    Curation.queries.flatMap { case (q, _) => Seq(s"ops.$q.s" -> "s", s"ops.$q.task_s" -> "s") } ++
    Seq("ops.build_s" -> "s", "ops.optimize_s" -> "s", "ops.physical_s" -> "s",
      "ops.execute_s" -> "s", "ops.jobs" -> "count", "ops.stages" -> "count",
      "ops.tasks" -> "count", "ops.shuffle_mb" -> "MiB", "ops.spill_mb" -> "MiB",
      "ops.gc_s" -> "s", "ops.codegen_ms" -> "ms", "trace.overhead_pct" -> "%")

  val workloads = Seq("vehicle_catchup", "vehicle_paced", "tenant_fanout", "curation_batch")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(workloads.contains(workload), s"unknown workload $workload; one of ${workloads.mkString(", ")}")
    val run = new Run(workload, need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("out")),
      Paths.get(need("cache")), Paths.get(need("render")), a.get("record").map(Paths.get(_)))
    val code = try { run.execute(); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    // Spark's non-daemon threads must not keep a finished run alive
    sys.exit(code)
  }
}

/** What one drain or paced window left behind. */
final case class Window(topo: Topology, files: Seq[SpoolFile],
                        arrivedMs: Array[Long], dueMs: Array[Long],
                        trigs: Seq[Seq[Trig]], visible: Array[Long],
                        records: Long, cpuS: Double, endMs: Long)

/** One benchmark run: set-up, measurement, output check, result lines. */
final class Run(workload: String, seed: Long, seconds: Int, traced: Boolean,
                work: Path, out: Path, cache: Path, renderCache: Path,
                record: Option[Path]) {
  private val cores = Runtime.getRuntime.availableProcessors()
  private val rng = new java.util.Random(seed)
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val detail = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0L
  private var failed = 0L
  private var valid = true
  private var spark: SparkSession = _
  private val spans = new Spans
  private var jobTrace: JobTrace = _

  // Inputs. Streaming workloads draw from a 30k-row `events` table; the
  // curation corpus has the sf0.01 proportions of the reference test tables.
  private val streamCorpus = cache.resolve(s"corpus-${Corpus.Version}-stream").toString
  private val batchCorpus = cache.resolve(s"corpus-${Corpus.Version}-batch").toString
  private val setupReps = 3

  // Catch-up: a 12k-record backlog (4k per source) in files of 200 records.
  // A drain takes about 10 s, so a run makes seconds / 10 drains (at least
  // two) and reports their median. The count is fixed rather than "until
  // the time is up": at a window of two drains' length, a time limit makes
  // it two drains on a slow host and three on a fast one.
  private val catchupPerSource = 4000
  private val catchupPerFile = 200
  // Paced loads are fixed constants, measured on a 4-core host (files arrive
  // round-robin over the topics). Vehicle: every trigger costs ~7 s
  // whatever its size. Tenant fan-out: a trigger costs ~1 s plus ~0.2 s per
  // input file (its sink writes a file per tenant per task), so it
  // saturates near 5 files/s. A steady stream at a quarter of that still
  // made trigger sizes feed back into trigger times, and the median latency
  // swung ±40% between runs; bursts of 5 files every 4 s give each burst
  // its own trigger with the pipeline idle in between (same records/s).
  private val pacedIntervalMs = 1000
  private val pacedPerFile = 200
  private val tenantBurstEveryMs = 4000
  private val tenantBurstFiles = 5
  private val tenantPerFile = 250
  private val tenantIsolationRecords = 5000
  // A paced run is invalid when its generator runs late or its backlog
  // grows: the last third of the files waiting more than twice as long as
  // the first third (plus a second for trigger alignment).
  private val maxLateP99Ms = 100.0

  def execute(): Unit = {
    Files.createDirectories(work); Files.createDirectories(out)
    detail("workload") = workload; detail("seed") = seed; detail("cores") = cores
    detail("traced") = traced
    // a harness session generates the corpus and renders the inputs; set-up
    // stops it before its first measured session build
    spark = Util.session(cores, work)
    val g0 = System.nanoTime()
    Corpus.ensure(spark, streamCorpus, 1, 30000)
    Corpus.ensure(spark, batchCorpus, 1, 10000)
    detail("corpus_s") = Util.secondsSince(g0)
    workload match {
      case "vehicle_catchup" => catchup()
      case "vehicle_paced" => pacedVehicle()
      case "tenant_fanout" => tenantFanout()
      case "curation_batch" => curation()
    }
    if (traced) {
      spans.write(out.resolve("spans.jsonl"))
      detail("spans") = spans.size
      detail("spans_file") = out.resolve("spans.jsonl").toString
    }
    if (spark != null) spark.stop()
    val shown = if (traced) Main.perLayer else Main.endToEnd
    val missing = shown.map(_._1).filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    detail("valid") = valid
    println(Json.obj(Seq("detail" -> detail.toMap)))
    println(Json.obj(Seq("correct" -> (failed == 0 && valid), "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> shown.map { case (k, u) => k -> Map("value" -> metrics(k), "unit" -> u) }
        .toMap)))
  }

  private val born = System.nanoTime()
  /** Progress line on stderr (the run log), with seconds since start. */
  private def log(msg: String): Unit =
    System.err.println(f"[ingestbench] ${Util.secondsSince(born)}%7.1f s $msg")

  private def clearSessions(): Unit = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  /** Set-up measured `setupReps` times (session build plus warm pass) and
    * reported as the median; the last session stays up for the run. The
    * warm pass drains one file per topic of the workload's own records,
    * enough for the JIT to compile the per-record paths. */
  private def setup(warm: (SparkSession, Path) => Unit): Unit = {
    val times = (1 to setupReps).map { i =>
      spark.stop(); clearSessions()
      val t0 = System.nanoTime()
      spark = Util.session(cores, work)
      warm(spark, work.resolve(s"warm-$i"))
      Util.secondsSince(t0)
    }
    metrics("setup_s") = Util.median(times)
    log(s"setup done: ${times.mkString(", ")}")
    detail("setup_samples_s") = times
  }

  private def warmTopology(lines: Seq[Seq[String]], topics: Seq[String],
                           start: (SparkSession, Path) => Topology)
                          (s: SparkSession, dir: Path): Unit = {
    topics.zip(lines).zipWithIndex.foreach { case ((t, ls), i) =>
      Spool.write(dir.resolve("spool").resolve(t), i, 0, Seq(ls))
    }
    val topo = start(s, dir)
    try topo.awaitAll() finally topo.stop()
  }

  private def e2eLatency(lat: Seq[Double]): Unit = {
    metrics("e2e_latency_p50_ms") = Util.quantile(lat, 0.5)
    metrics("e2e_latency_p90_ms") = Util.quantile(lat, 0.9)
    detail("latency_samples") = lat.size
  }

  private def heap(): Unit = metrics("live_heap_mb") = Util.liveHeapMb()

  private def delivered(records: Long, bad: Long, failedQueries: Long): Unit = {
    attempted += records
    failed += bad + failedQueries
    metrics("delivered_share") = 1.0 - failed.toDouble / math.max(1L, attempted)
    detail("failed_share") = failed.toDouble / math.max(1L, attempted)
  }

  // ---------------------------------------------------------------- streaming

  /** Drains a pre-written backlog: starts the queries, waits until they have
    * processed everything, and leaves them running for the caller. */
  private def drain(dir: Path, files: Seq[SpoolFile], topics: Seq[String],
                    start: (SparkSession, Path) => Topology): Window = {
    val cpu0 = Util.cpuSeconds
    val t0 = Util.nowMs
    val topo = start(spark, dir)
    topo.awaitAll()
    val cpu = Util.cpuSeconds - cpu0
    val trigs = topo.queries.map { case (n, q) => Progress.triggers(n, q, topics) }
    val vis = Progress.visibleAll(files, trigs, topics.size)
    val at = Array.fill(files.size)(t0)
    Window(topo, files, at, at, trigs, vis, files.map(_.records.toLong).sum, cpu,
      if (vis.isEmpty) t0 else vis.max)
  }

  /** Open-loop run: pre-renders one file per arrival (`due`: nanoseconds
    * from the start, in order) into staging, starts the queries, lets the
    * feed thread rename files in on schedule, then waits until everything
    * fed has been processed. */
  private def paced(dir: Path, topics: Seq[String], due: IndexedSeq[Long], perFile: Int,
                    next: Int => String,
                    start: (SparkSession, Path) => Topology): Window = {
    val n = due.size
    val staging = dir.resolve("staging")
    val files = (0 until n).map { k =>
      val s = k % topics.size
      Spool.write(staging.resolve(topics(s)), s, k / topics.size,
        Seq(Seq.fill(perFile)(next(s)))).head
    }
    val topo = start(spark, dir)
    val moves = files.map(f => (staging.resolve(topics(f.source)).resolve(f.name),
      dir.resolve("spool").resolve(topics(f.source)).resolve(f.name)))
    val feed = new Feed(moves, due)
    val cpu0 = Util.cpuSeconds
    feed.start(); feed.join()
    if (feed.error != null) throw feed.error
    val feedEnd = Util.nowMs
    topo.awaitAll()
    val cpu = Util.cpuSeconds - cpu0
    val trigs = topo.queries.map { case (nm, q) => Progress.triggers(nm, q, topics) }
    val vis = Progress.visibleAll(files, trigs, topics.size)
    val late = feed.lateMs
    detail("generator_late_p99_ms") = Util.quantile(late, 0.99)
    detail("generator_late_max_ms") = late.max
    val backlog = files.indices.count(i => vis(i) < 0 || vis(i) > feedEnd)
    detail("backlog_end_files") = backlog
    detail("offered_files_per_s") = n.toDouble / seconds
    detail("offered_records_per_s") = n.toDouble * perFile / seconds
    val wait = files.indices.map(i => if (vis(i) < 0) Double.MaxValue else (vis(i) - feed.dueMs(i)).toDouble)
    val third = math.max(1, n / 3)
    val (early, lateWait) = (Util.median(wait.take(third)), Util.median(wait.takeRight(third)))
    detail("latency_first_third_ms") = early
    detail("latency_last_third_ms") = lateWait
    if (Util.quantile(late, 0.99) > maxLateP99Ms) {
      valid = false; detail("invalid_reason") = "generator late"
    } else if (lateWait > 2 * early + 1000) {
      valid = false; detail("invalid_reason") = "backlog grew"
    }
    Window(topo, files, feed.doneMs.clone(), feed.dueMs.clone(), trigs, vis,
      files.map(_.records.toLong).sum, cpu, feedEnd)
  }

  /** Every trigger of a window, one JSON object per line, for diagnosis. */
  private def dumpTriggers(tag: String, w: Window): Unit = {
    val lines = w.trigs.flatten.map(t => Json.obj(Seq("query" -> t.query, "batch" -> t.batchId,
      "start_ms" -> t.startMs, "rows" -> t.rows, "duration_ms" -> t.durations)))
    Files.write(out.resolve(s"triggers-$tag.jsonl"), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def pacedMetrics(w: Window): Unit = {
    val lat = w.files.indices.filter(w.visible(_) > 0).map(i => (w.visible(i) - w.dueMs(i)).toDouble)
    e2eLatency(lat)
    val span = (w.visible.max - w.dueMs.min) / 1000.0
    metrics("throughput_rps") = w.records / span
    metrics("cpu_s_per_mrec") = w.cpuS / w.records * 1e6
    // a micro-batch of the query that spends the most time in triggers (the
    // publish path here); both queries' CPU is charged to its triggers
    val busiest = w.trigs.maxBy(_.map(_.ms("triggerExecution")).sum)
    metrics("batch_total_s") = Util.median(busiest.map(_.ms("triggerExecution") / 1000.0))
    metrics("batch_cpu_s") = w.cpuS / math.max(1, busiest.size)
    detail("records") = w.records
    detail("files") = w.files.size
  }

  /** Per-layer streaming metrics from traced windows of one topology shape. */
  private def streamLayers(ws: Seq[Window], topics: Seq[String], spoolRead: Seq[Boolean],
                           translating: Boolean): Unit = {
    val records = ws.map(_.records).sum.toDouble
    val all = ws.flatMap(_.trigs.flatten)
    def med(f: Trig => Double) = Util.median(all.map(f))
    metrics("sources.latest_offset_ms") = med(_.ms("latestOffset"))
    metrics("sources.get_batch_ms") = med(_.ms("getBatch"))
    // listings per trigger: the graft-spool stream lists its directory in
    // latestOffset and again in planInputPartitions, the file source once
    val listed = ws.flatMap { w =>
      w.trigs.flatten.map { t =>
        w.files.indices.filter(i => w.arrivedMs(i) <= t.startMs)
          .map(i => if (spoolRead(w.files(i).source)) 2.0 else 1.0).sum
      }
    }
    metrics("sources.files_listed_per_trigger") = Util.median(listed)
    val backlog = ws.flatMap { w =>
      w.trigs.flatMap { qt =>
        val vis = Progress.visibleMs(w.files, qt, topics.size)
        qt.map { t =>
          w.files.indices.count(i => w.arrivedMs(i) <= t.startMs &&
            !(vis(i) > 0 && vis(i) <= t.startMs)).toDouble
        }
      }
    }
    metrics("sources.backlog_files") = Util.median(backlog)
    metrics("streaming.trigger_ms.p50") = Util.quantile(all.map(_.ms("triggerExecution")), 0.5)
    metrics("streaming.trigger_ms.p99") = Util.quantile(all.map(_.ms("triggerExecution")), 0.99)
    metrics("streaming.query_planning_ms") = med(_.ms("queryPlanning"))
    metrics("streaming.wal_commit_ms") = med(_.ms("walCommit"))
    metrics("streaming.commit_offsets_ms") = med(_.ms("commitOffsets"))
    metrics("streaming.triggers") = all.size
    metrics("streaming.records_per_trigger") = all.map(_.rows).sum.toDouble / all.size
    val units = ws.flatMap(w => w.topo.queries.zip(w.trigs).flatMap { case ((_, q), ts) =>
      ts.map(t => s"${q.id}/${t.batchId}") }).toSet
    val tot = jobTrace.totals(jobTrace.jobsWhere(units.contains))
    metrics("streaming.jobs_per_trigger") = tot.jobs.toDouble / all.size
    metrics("streaming.stages_per_trigger") = tot.stages.toDouble / all.size
    metrics("streaming.tasks_per_trigger") = tot.tasks.toDouble / all.size
    metrics("streaming.task_s_per_mrec") = tot.runS / records * 1e6
    metrics("streaming.gc_s_per_mrec") = tot.gcS / records * 1e6
    metrics("streaming.shuffle_bytes") = tot.shuffleBytes.toDouble
    metrics("pipeline.source_reads_per_record") = all.map(_.rows).sum / records
    metrics("translate.passes_per_record") =
      if (translating) all.map(_.rows).sum / records else 0.0
    // sink: the publish query writes the graft-spool bus, the dead-letter
    // query the parquet sink; addBatch minus the span of its jobs is the
    // driver's serial commit
    val pub = ws.flatMap(w => w.topo.queries.zip(w.trigs).collect {
      case (("publish", q), ts) => ts.map(t => (q.id.toString, t)) }.flatten)
    val dead = ws.flatMap(w => w.trigs.flatten.filter(_.query == "dead-letter"))
    metrics("sink.add_batch_ms") = Util.median(pub.map(_._2.ms("addBatch")))
    metrics("sink.commit_ms") = Util.median(pub.map { case (id, t) =>
      val js = jobTrace.jobsOf(s"$id/${t.batchId}")
      val busy = if (js.isEmpty) 0L else js.map(_.endMs).max - js.map(_.startMs).min
      math.max(0.0, t.ms("addBatch") - busy)
    })
    metrics("sink.dead_letter_add_batch_ms") = Util.median(dead.map(_.ms("addBatch")))
    val (busFiles, busBytes) = ws.map(w => Spool.busFiles(w.topo.bus))
      .foldLeft((0, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    metrics("sink.files_per_epoch") = busFiles.toDouble / math.max(1, pub.size)
    metrics("sink.mean_file_kb") = if (busFiles == 0) 0.0 else busBytes / 1024.0 / busFiles
    ws.foreach(w => w.topo.queries.zip(w.trigs).foreach { case ((_, q), ts) =>
      Trace.emitStream(spans, jobTrace, q.id.toString, ts) })
  }

  /** `graft.obs.Metrics` on the traced run's session, toggled together with
    * the job listener. `publish` writes its Prometheus textfile while the
    * queries still run (the listener drops a query's series when it stops)
    * and cross-checks the ingested-row counter against the records the
    * benchmark fed; a mismatch is reported in the detail line. */
  private final class MetricsHook {
    private val (ql, sl) = graft.obs.Metrics.install(spark)
    private var attached = true
    def set(on: Boolean): Unit = if (on != attached) {
      if (on) {
        spark.sparkContext.addSparkListener(jobTrace)
        spark.listenerManager.register(ql); spark.streams.addListener(sl)
      } else {
        spark.sparkContext.removeSparkListener(jobTrace)
        spark.listenerManager.unregister(ql); spark.streams.removeListener(sl)
      }
      attached = on
    }
    def publish(w: Window): Unit = publish(w.trigs.flatten.map(_.rows).sum, w.records)
    /** `want`: rows the queries' own progress reports they read (each query
      * reads every fed record once per scan of its source). */
    def publish(want: Long, fed: Long): Unit = {
      val path = out.resolve("metrics.prom")
      def reported(): Long = graft.obs.Metrics.prometheusText(ql, sl).linesIterator
        .filter(_.startsWith("graft_stream_input_rows_sum{"))
        .map(_.split(' ').last.toDouble.toLong).sum
      // listener events arrive asynchronously: give the bus time to drain
      val deadline = System.nanoTime() + 5000000000L
      while (want > 0 && reported() != want && System.nanoTime() < deadline) Thread.sleep(100)
      graft.obs.Metrics.writeTextfile(path.toString, ql, sl)
      detail("metrics_textfile") = path.toString
      detail("metrics_input_rows") = reported()
      detail("benchmark_input_rows") = want
      detail("benchmark_records_fed") = fed
      detail("metrics_rows_match") = reported() == want
    }
  }

  private var hook: MetricsHook = _

  /** Attaches the job listener and `graft.obs.Metrics`. */
  private def startTrace(): Unit = {
    jobTrace = new JobTrace
    spark.sparkContext.addSparkListener(jobTrace)
    hook = new MetricsHook
  }

  /** Cumulative isolation runs over one backlog: read only, + translate,
    * + union/route, + sinks; all but the last write to `noop`. */
  private def isolation(files: Seq[Seq[Seq[String]]], topics: Seq[String],
                        rungs: Seq[(String, (SparkSession, Path) => Topology)],
                        sinkSeconds: Option[Double]): Unit = {
    // the last rung, + sinks, is the full topology; a catch-up run has
    // already drained it over a backlog of the same size
    sinkSeconds.foreach(metrics("pipeline.isolation.sink_s") = _)
    def run(name: String, start: (SparkSession, Path) => Topology): Window = {
      val dir = work.resolve(s"isolation-$name")
      val fs = topics.indices.flatMap(s => Spool.write(dir.resolve("spool").resolve(topics(s)),
        s, 0, files(s)))
      val w = drain(dir, fs, topics, start)
      w.topo.stop()
      Util.deleteRecursively(dir)
      w
    }
    def secs(w: Window) = (w.endMs - w.arrivedMs.min) / 1000.0
    rungs.foreach { case (name, start) =>
      log(s"isolation rung $name")
      val w = run(name, start)
      metrics(s"pipeline.isolation.${name}_s") = secs(w)
      if (name == "read") metrics("sources.read_rps") = w.records / secs(w)
      if (name == "sink") {
        // the same drain once more with tracing on gives the overhead
        hook.set(true)
        val t = run("sink-traced", start)
        hook.set(false)
        metrics("trace.overhead_pct") = (secs(t) / secs(w) - 1) * 100
      }
    }
  }

  private def noop(df: org.apache.spark.sql.DataFrame, dir: Path): StreamingQuery =
    df.writeStream.format("noop")
      .option("checkpointLocation", dir.resolve("checkpoint").toString).start()

  private def spoolProbe(): Unit = {
    log("spool growth probe")
    Seq(1000 -> "1k", 10000 -> "10k").foreach { case (n, tag) =>
      val dir = work.resolve(s"growth-$tag")
      val (offMs, commitMs) = Probes.spoolGrowth(spark, dir, n)
      metrics(s"sources.latest_offset_ms.files_$tag") = offMs
      metrics(s"sink.commit_ms.files_$tag") = commitMs
      Util.deleteRecursively(dir)
    }
  }

  /** Per-layer metrics of layers this workload bypasses read 0: all of
    * them with no argument, else those under the given prefixes. */
  private def zeroLayers(prefixes: String*): Unit =
    Main.perLayer.map(_._1)
      .filter(k => prefixes.isEmpty || prefixes.exists(k.startsWith))
      .foreach(k => metrics.getOrElseUpdate(k, 0.0))

  private def vehicleRungs: Seq[(String, (SparkSession, Path) => Topology)] = {
    import graft.pipeline.Pipeline
    def spool(d: Path) = d.resolve("spool").toString
    Seq(
      "read" -> ((s: SparkSession, d: Path) => Topology(Seq("read" -> noop(
        Vehicle.bindings.map(b => b.source.stream(s, spool(d)).select("value"))
          .reduce(_ unionByName _), d)))),
      "translate" -> ((s: SparkSession, d: Path) => Topology(Seq("translate" -> noop(
        Pipeline.vehicleCmfStream(s, spool(d)).valid, d)))),
      "route" -> ((s: SparkSession, d: Path) => Topology(Seq("route" -> noop(
        Pipeline.routeCmf(Pipeline.vehicleCmfStream(s, spool(d)).valid).routed
          .select("topic", "value"), d)))))
  }

  private def vehicleBacklog(input: VehicleInput, expect: Vehicle.Expect): Seq[Seq[Seq[String]]] =
    (0 until 3).map { s =>
      val idx = Draw.indices(rng, catchupPerSource, input.pool)
      idx.foreach(i => expect.add(s, input.ids(s)(i), input.values(s)(i)))
      Draw.split(idx.toSeq.map(input.values(s)(_)), catchupPerFile)
    }

  private def writeBacklog(dir: Path, backlog: Seq[Seq[Seq[String]]]): Seq[SpoolFile] =
    Vehicle.topics.indices.flatMap(s =>
      Spool.write(dir.resolve("spool").resolve(Vehicle.topics(s)), s, 0, backlog(s)))

  private val spoolRead: Seq[Boolean] =
    Vehicle.bindings.map(_.source.sparkFormat == graft.sources.SpoolDataSource.NAME)

  private def renderVehicle(): VehicleInput = {
    val t0 = System.nanoTime()
    val in = Vehicle.render(spark, streamCorpus, renderCache)
    detail("render_s") = Util.secondsSince(t0)
    in
  }

  private val warmRecords = 1000

  /** Warm input: the first records of each pool, the same for every seed. */
  private def vehicleWarm(input: VehicleInput): Seq[Seq[String]] =
    input.values.map(_.take(warmRecords).toSeq)

  private def catchup(): Unit = {
    val input = renderVehicle()
    setup(warmTopology(vehicleWarm(input), Vehicle.topics, Vehicle.start))
    // a traced run alternates untraced and traced drains after a first
    // untraced one (the first drain of a run is the slowest); the ratio of
    // the later ones is the tracing overhead
    if (traced) startTrace()
    val drains = mutable.ArrayBuffer.empty[(Window, Boolean)]
    val count = math.max(if (traced) 3 else 2, seconds / 10)
    while (drains.size < count) {
      val k = drains.size
      val on = traced && k % 2 == 1
      if (traced) hook.set(on)
      val e = new Vehicle.Expect
      val dir = work.resolve(s"drain-$k")
      val w = drain(dir, writeBacklog(dir, vehicleBacklog(input, e)), Vehicle.topics,
        Vehicle.start)
      if (on) hook.publish(w)
      heap()
      w.topo.stop()
      delivered(e.records, Vehicle.check(spark, w.topo, e), w.topo.failed)
      drains += (w -> on)
      log(s"drain $k done")
    }
    if (traced) hook.set(false)
    val ws = drains.map(_._1).toSeq
    def secs(w: Window) = (w.endMs - w.arrivedMs.min) / 1000.0
    metrics("throughput_rps") = Util.median(ws.map(w => w.records / secs(w)))
    e2eLatency(ws.flatMap(w => w.visible.filter(_ > 0).map(v => (v - w.arrivedMs.min).toDouble)))
    metrics("cpu_s_per_mrec") = ws.map(_.cpuS).sum / ws.map(_.records).sum * 1e6
    metrics("batch_total_s") = Util.median(ws.map(secs))
    metrics("batch_cpu_s") = Util.median(ws.map(_.cpuS))
    detail("drains") = ws.size
    detail("records") = ws.map(_.records).sum
    detail("drain_s") = ws.map(secs)
    if (traced) {
      val on = drains.filter(_._2).map(_._1).toSeq
      val off = drains.drop(1).filterNot(_._2).map(_._1).toSeq
      metrics("trace.overhead_pct") =
        (Util.median(on.map(secs)) / Util.median(off.map(secs)) - 1) * 100
      streamLayers(on, Vehicle.topics, spoolRead, translating = true)
      vehicleProbes(input, Some(Util.median(ws.map(secs))))
      log("local[1] baseline")
      // the single-thread baseline: the same drain at local[1]
      val e = new Vehicle.Expect
      val backlog = vehicleBacklog(input, e)
      spark.stop(); clearSessions()
      spark = Util.session(1, work)
      warmTopology(vehicleWarm(input), Vehicle.topics, Vehicle.start)(spark, work.resolve("warm-local1"))
      val dir = work.resolve("drain-local1")
      val w1 = drain(dir, writeBacklog(dir, backlog), Vehicle.topics, Vehicle.start)
      w1.topo.stop()
      metrics("pipeline.speedup_vs_local1") = secs(w1) / Util.median(ws.map(secs))
      detail("local1_drain_s") = secs(w1)
      zeroLayers()
    }
  }

  /** Layer probes shared by the vehicle workloads. */
  private def vehicleProbes(input: VehicleInput, sinkSeconds: Option[Double]): Unit = {
    log("translate and route probes")
    metrics ++= Probes.translate(spark, input, 10000, cores)
    val cmf = Tenant.render(spark, streamCorpus, renderCache)
    metrics ++= Probes.route(spark, cmf.take(20000).toSeq, cores)
    val e = new Vehicle.Expect
    val sink = if (sinkSeconds.isEmpty) Seq("sink" -> ((s: SparkSession, d: Path) =>
      Vehicle.start(s, d))) else Nil
    isolation(vehicleBacklog(input, e), Vehicle.topics, vehicleRungs ++ sink, sinkSeconds)
    spoolProbe()
  }

  private def pacedVehicle(): Unit = {
    val input = renderVehicle()
    setup(warmTopology(vehicleWarm(input), Vehicle.topics, Vehicle.start))
    val need = (seconds * 1000 / pacedIntervalMs / 3 + 1) * pacedPerFile
    def window(tag: String): (Window, Vehicle.Expect) = {
      val e = new Vehicle.Expect
      val picks = (0 until 3).map(_ => Draw.indices(rng, need, input.pool))
      val pos = Array.fill(3)(0)
      val next = (s: Int) => {
        val i = picks(s)(pos(s)); pos(s) += 1
        e.add(s, input.ids(s)(i), input.values(s)(i))
        input.values(s)(i)
      }
      (paced(work.resolve(tag), Vehicle.topics,
        Spool.arrivals(rng, seconds * 1000 / pacedIntervalMs, seconds), pacedPerFile, next,
        Vehicle.start), e)
    }
    runPaced(window, Vehicle.topics, spoolRead, translating = true,
      () => vehicleProbes(input, None))
  }

  /** Shared tail of the two paced workloads: the measured window, output
    * check, metrics, and in a traced run the layer probes. */
  private def runPaced(window: String => (Window, AnyRef), topics: Seq[String],
                       spoolRead: Seq[Boolean], translating: Boolean,
                       probes: () => Unit): Unit = {
    def finish(w: Window, e: AnyRef): Unit = {
      val bad = e match {
        case v: Vehicle.Expect => Vehicle.check(spark, w.topo, v)
        case t: Tenant.Expect => Tenant.check(spark, w.topo, t)
      }
      delivered(w.records, bad, w.topo.failed)
    }
    // a traced run traces its whole window; the tracing overhead comes
    // from an untraced and a traced drain of the full topology (isolation)
    if (traced) startTrace()
    val (w, e) = window("paced")
    log("paced window done")
    dumpTriggers("paced", w)
    if (traced) hook.publish(w)
    heap()
    w.topo.stop()
    finish(w, e)
    pacedMetrics(w)
    if (traced) {
      hook.set(false)
      streamLayers(Seq(w), topics, spoolRead, translating)
      probes()
      zeroLayers()
    }
  }

  private def tenantFanout(): Unit = {
    val t0 = System.nanoTime()
    val cmf = Tenant.render(spark, streamCorpus, renderCache)
    detail("render_s") = Util.secondsSince(t0)
    val warmRng = new java.util.Random(0)
    setup(warmTopology(Seq(cmf.take(tenantPerFile).toSeq.map(Tenant.message(_, warmRng)._1)),
      Seq(Tenant.topic), Tenant.start))
    def window(tag: String): (Window, Tenant.Expect) = {
      val e = new Tenant.Expect
      val due = for (b <- 0 until seconds * 1000 / tenantBurstEveryMs;
                     _ <- 0 until tenantBurstFiles) yield b * tenantBurstEveryMs * 1000000L
      val picks = Draw.indices(rng, due.size * tenantPerFile, cmf.length)
      var pos = 0
      val next = (_: Int) => {
        val m = Tenant.message(cmf(picks(pos)), rng); pos += 1
        e.add(m); m._1
      }
      (paced(work.resolve(tag), Seq(Tenant.topic), due, tenantPerFile, next,
        Tenant.start), e)
    }
    val rungs: Seq[(String, (SparkSession, Path) => Topology)] = {
      def src(s: SparkSession, d: Path) = s.readStream.format(graft.sources.SpoolDataSource.NAME)
        .load(d.resolve("spool").resolve(Tenant.topic).toString)
      Seq(
        "read" -> ((s: SparkSession, d: Path) => Topology(Seq("read" -> noop(src(s, d), d)))),
        "route" -> ((s: SparkSession, d: Path) => Topology(Seq("route" -> noop(
          graft.pipeline.Pipeline.routeCmf(src(s, d)).routed.select("topic", "value"), d)))),
        "sink" -> ((s: SparkSession, d: Path) => Tenant.start(s, d)))
    }
    runPaced(window, Seq(Tenant.topic), Seq(true), translating = false, () => {
      val msgs = Draw.indices(rng, 20000, cmf.length).toSeq.map(i => Tenant.message(cmf(i), rng)._1)
      log("route probe")
      metrics ++= Probes.route(spark, msgs, cores)
      isolation(Seq(Draw.split(Draw.indices(rng, tenantIsolationRecords, cmf.length).toSeq
        .map(i => Tenant.message(cmf(i), rng)._1), catchupPerFile)), Seq(Tenant.topic), rungs,
        None)
      spoolProbe()
      // curation_batch is too long to gate (see README.md); its ops layer is
      // measured here by one traced pass, cold: its wall times include code
      // generation, which ops.codegen_ms reports
      log("curation traced pass")
      Curation.materialize(spark, batchCorpus)
      tracedPass(Curation.queries.map(_._1), publishMetrics = false)
    })
  }

  // ----------------------------------------------------------------- curation

  private lazy val expected = loadExpected()

  /** A curation query's rows and checksum against `expected/curation.json`. */
  private def checked(q: String, res: (Long, Long)): Unit = {
    attempted += 1
    val ok = expected.get(q).forall { case (n, h) => n == res._1 && h == res._2 }
    if (!ok) {
      failed += 1
      detail(s"mismatch.$q") = s"rows=${res._1} checksum=${java.lang.Long.toHexString(res._2)}"
    }
  }

  private def curation(): Unit = {
    val names = Curation.queries.map(_._1)
    val warmSums = mutable.LinkedHashMap.empty[String, (Long, Long)]
    setup { (s, _) =>
      Curation.materialize(s, batchCorpus)
      names.foreach(q => warmSums(q) = Curation.withFence(s)(Curation.execute(Curation.build(s, batchCorpus, q))))
    }
    record.foreach { path =>
      val body = warmSums.map { case (q, (n, h)) =>
        q -> Map("rows" -> n, "checksum" -> java.lang.Long.toHexString(h)) }
      Files.write(path, (Json.obj(Seq("corpus" -> Corpus.Version,
        "queries" -> body.toMap)) + "\n").getBytes("UTF-8"))
    }
    // (wall s, cpu s, per-query wall s) per pass; the seed orders each pass
    val passes = mutable.ArrayBuffer.empty[(Double, Double, Map[String, Double])]
    val outRows = mutable.ArrayBuffer.empty[Long]
    def pass(): Unit = {
      val order = new scala.util.Random(rng).shuffle(names)
      val cpu0 = Util.cpuSeconds
      val times = order.map { q =>
        val t0 = System.nanoTime()
        val res = Curation.withFence(spark)(Curation.execute(Curation.build(spark, batchCorpus, q)))
        val sec = Util.secondsSince(t0)
        checked(q, res); outRows += res._1
        q -> sec
      }
      passes += ((times.map(_._2).sum, Util.cpuSeconds - cpu0, times.toMap))
    }
    val t0 = System.nanoTime()
    do pass() while (Util.secondsSince(t0) < seconds)
    heap()
    val totals = passes.map(_._1).toSeq
    metrics("batch_total_s") = Util.median(totals)
    metrics("batch_cpu_s") = Util.median(passes.map(_._2).toSeq)
    metrics("throughput_rps") = names.size / metrics("batch_total_s")
    e2eLatency(passes.flatMap(_._3.values.map(_ * 1000)).toSeq)
    metrics("cpu_s_per_mrec") = passes.map(_._2).sum / math.max(1L, outRows.sum) * 1e6
    metrics("delivered_share") = 1.0 - failed.toDouble / math.max(1L, attempted)
    detail("failed_share") = failed.toDouble / math.max(1L, attempted)
    detail("passes") = passes.size
    detail("pass_s") = totals
    detail("query_s") = names.map(q => q -> Util.median(passes.map(_._3(q)).toSeq)).toMap
    if (traced) {
      val total = tracedPass(names, publishMetrics = true)
      metrics("trace.overhead_pct") = (total / Util.median(totals) - 1) * 100
      zeroLayers()
    }
  }

  /** One more pass with the listener attached, each query split into plan
    * build, optimization, physical planning and execution. */
  private def tracedPass(names: Seq[String], publishMetrics: Boolean): Double = {
    startTrace()
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram records each compilation's time in ms
    def cgMs = cg.getSnapshot.getMean * cg.getCount
    val cg0 = cgMs
    val phase = mutable.LinkedHashMap("build" -> 0.0, "optimize" -> 0.0, "physical" -> 0.0,
      "execute" -> 0.0)
    var total = 0.0
    names.foreach { q =>
      spark.sparkContext.setLocalProperty("ingestbench.unit", q)
      val t = Array.fill(5)(0L)
      t(0) = Util.nowMs
      Curation.withFence(spark) {
        val df = Curation.build(spark, batchCorpus, q); t(1) = Util.nowMs
        df.queryExecution.optimizedPlan; t(2) = Util.nowMs
        df.queryExecution.executedPlan; t(3) = Util.nowMs
        checked(q, Curation.execute(df)); t(4) = Util.nowMs
      }
      spark.sparkContext.setLocalProperty("ingestbench.unit", null)
      val qid = spans.add(s"query $q", t(0), t(4), 0L, q)
      val ph = phase.keys.toSeq.zipWithIndex.map { case (p, i) =>
        phase(p) += (t(i + 1) - t(i)) / 1000.0
        (spans.add(p, t(i), t(i + 1), qid, q), t(i), t(i + 1))
      }
      jobTrace.emit(spans, q, q, ph, qid)
      metrics(s"ops.$q.s") = (t(4) - t(0)) / 1000.0
      metrics(s"ops.$q.task_s") = jobTrace.totals(jobTrace.jobsOf(q)).runS
      total += (t(4) - t(0)) / 1000.0
    }
    phase.foreach { case (p, s) => metrics(s"ops.${p}_s") = s }
    val tot = jobTrace.totals(jobTrace.jobsWhere(names.contains))
    metrics("ops.jobs") = tot.jobs; metrics("ops.stages") = tot.stages
    metrics("ops.tasks") = tot.tasks.toDouble
    metrics("ops.shuffle_mb") = tot.shuffleBytes / 1048576.0
    metrics("ops.spill_mb") = tot.spillBytes / 1048576.0
    metrics("ops.gc_s") = tot.gcS
    metrics("ops.codegen_ms") = cgMs - cg0
    if (publishMetrics) hook.publish(0, 0)
    hook.set(false)
    total
  }

  private def loadExpected(): Map[String, (Long, Long)] = {
    val p = Paths.get("ingestbench", "expected", "curation.json")
    if (record.isDefined || !Files.exists(p)) return Map.empty
    val text = new String(Files.readAllBytes(p), "UTF-8")
    val corpus = "\"corpus\":\"([^\"]+)\"".r.findFirstMatchIn(text).map(_.group(1))
    require(corpus.contains(Corpus.Version), s"$p was recorded for corpus $corpus")
    "\"([a-z0-9_]+)\":\\{\"rows\":(\\d+),\"checksum\":\"([0-9a-f]+)\"\\}".r
      .findAllMatchIn(text).map(m =>
        m.group(1) -> (m.group(2).toLong, java.lang.Long.parseUnsignedLong(m.group(3), 16)))
      .toMap
  }
}
