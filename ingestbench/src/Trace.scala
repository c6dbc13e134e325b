package ingestbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A timed interval at a layer boundary. `trigger` names the unit of work
  * it belongs to (`<query>/<batchId>` for a micro-batch, the query name for
  * a curation query); `parent` is the id of the span that caused it (0 for
  * a root). */
final case class Span(id: Long, name: String, startMs: Long, endMs: Long,
                      parent: Long, trigger: String, attrs: Map[String, Any])

/** Spans held in memory and written once, as JSON lines, when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  def add(name: String, startMs: Long, endMs: Long, parent: Long, trigger: String,
          attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    all.add(Span(id, name, startMs, endMs, parent, trigger, attrs))
    id
  }
  def size: Int = all.size
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "parent" -> s.parent, "trigger" -> s.trigger,
        "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Job, stage and task counters from Spark's listener bus, attached only in
  * traced runs. Jobs are attributed to their unit of work through the local
  * properties the job carries: a micro-batch's query id and batch id, or the
  * `ingestbench.unit` property the curation harness sets. */
final class JobTrace extends SparkListener {
  import JobTrace._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new Stage(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val unit = prop("sql.streaming.queryId") match {
      case Some(q) => s"$q/${prop("streaming.sql.batchId").getOrElse("?")}"
      case None => prop("ingestbench.unit").getOrElse("")
    }
    jobs.put(e.jobId, new Job(e.jobId, e.time, unit, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.submitted = e.stageInfo.submissionTime.getOrElse(Util.nowMs)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.completed = e.stageInfo.completionTime.getOrElse(Util.nowMs)
    if (s.submitted == 0L) s.submitted = e.stageInfo.submissionTime.getOrElse(s.completed)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      s.runMs.addAndGet(m.executorRunTime)
      s.gcMs.addAndGet(m.jvmGCTime)
      s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def jobsOf(unit: String): Seq[Job] =
    jobs.values.asScala.toSeq.filter(_.unit == unit).sortBy(_.id)
  def jobsWhere(p: String => Boolean): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => p(j.unit)).sortBy(_.id)
  def stagesOf(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i)))
      .filter(_.tasks.get > 0)

  /** Totals over a set of jobs. */
  def totals(js: Seq[Job]): Totals = {
    val ss = stagesOf(js)
    Totals(js.size, ss.size, ss.map(_.tasks.get).sum, ss.map(_.runMs.get).sum / 1000.0,
      ss.map(_.gcMs.get).sum / 1000.0, ss.map(_.shuffleWrite.get).sum,
      ss.map(_.spill.get).sum)
  }

  /** Emits job and stage spans under the phase span that was open when each
    * job started (`phases`: (span id, start, end)). */
  def emit(spans: Spans, unit: String, trigger: String,
           phases: Seq[(Long, Long, Long)], fallback: Long): Unit =
    jobsOf(unit).foreach { j =>
      val parent = phases.find(p => j.startMs >= p._2 && j.startMs <= p._3)
        .map(_._1).getOrElse(fallback)
      val jid = spans.add(s"job ${j.id}", j.startMs, math.max(j.endMs, j.startMs), parent, trigger)
      j.stageIds.flatMap(i => Option(stages.get(i))).filter(_.tasks.get > 0).foreach { s =>
        spans.add(s"stage ${s.id}", s.submitted, s.completed, jid, trigger,
          Map("tasks" -> s.tasks.get, "task_ms" -> s.runMs.get, "gc_ms" -> s.gcMs.get,
            "shuffle_write_bytes" -> s.shuffleWrite.get, "spill_bytes" -> s.spill.get,
            "stage" -> s.name.takeWhile(_ != '\n').take(80)))
      }
    }
}

object JobTrace {
  final class Stage(val id: Int) {
    @volatile var name = ""; @volatile var submitted = 0L; @volatile var completed = 0L
    val tasks = new AtomicLong; val runMs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleWrite = new AtomicLong; val spill = new AtomicLong
  }
  final class Job(val id: Int, val startMs: Long, val unit: String,
                  val stageIds: Seq[Int]) { @volatile var endMs = 0L }
  final case class Totals(jobs: Int, stages: Int, tasks: Long, runS: Double,
                          gcS: Double, shuffleBytes: Long, spillBytes: Long)
}

object Trace {
  /** MicroBatchExecution's phase order inside one trigger. Progress reports
    * each phase's duration, not its start, so starts are laid end to end in
    * this order from the trigger start. */
  val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Trigger → phase → job → stage spans for one query's triggers. */
  def emitStream(spans: Spans, jt: JobTrace, queryId: String, trigs: Seq[Trig]): Unit =
    trigs.foreach { t =>
      val trigger = s"${t.query}/${t.batchId}"
      val tid = spans.add("trigger", t.startMs, t.endMs, 0L, trigger,
        Map("query" -> t.query, "rows" -> t.rows))
      var at = t.startMs
      val ph = phases.filter(t.durations.contains).map { p =>
        val end = at + t.durations(p)
        val id = spans.add(p, at, end, tid, trigger)
        val r = (p, (id, at, end)); at = end; r
      }
      // a job outside the reconstructed phase windows ran in addBatch
      jt.emit(spans, s"$queryId/${t.batchId}", trigger, ph.map(_._2),
        ph.find(_._1 == "addBatch").map(_._2._1).getOrElse(tid))
    }
}
