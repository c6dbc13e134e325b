package ingestbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Session factory, clocks and small statistics shared by every workload. */
object Util {
  /** Same session conventions as `graft.Bench` (UTC, nanosAsLong, shuffle
    * partitions = cores, codegen cache and cached-plan AQE coalescing), plus
    * a progress history long enough to hold every trigger of a run, so the
    * untraced run reads trigger timings from `recentProgress` instead of
    * attaching a listener. */
  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ingestbench")
      // shuffle/spill files and the warehouse stay inside the run's directory
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def nowMs: Long = System.currentTimeMillis()
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU seconds (all threads, read from the OS). */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Heap in use after a forced full GC, in MiB. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  /** Linear-interpolated quantile (numpy/`statistics` "inclusive" style). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally st.close()
    }
}

/** Minimal JSON rendering for the result and artifact files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
