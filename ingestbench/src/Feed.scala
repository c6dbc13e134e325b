package ingestbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** One spool file the harness wrote: which input it belongs to, its name,
  * and how many records it carries. */
final case class SpoolFile(source: Int, name: String, records: Int)

/** Spool-side harness I/O. Files are written complete into a staging
  * directory on the same file system and then renamed into the spool, so a
  * reader never sees a partial file; names are zero-padded sequence numbers,
  * which keeps them immutable and lexicographically increasing (the
  * `graft-spool` contract). */
object Spool {
  def name(seq: Int): String = f"part-$seq%08d"

  /** Writes `files` (records per file) for `source` into `dir`. */
  def write(dir: Path, source: Int, firstSeq: Int,
            files: Seq[Seq[String]]): Seq[SpoolFile] = {
    Files.createDirectories(dir)
    files.zipWithIndex.map { case (lines, k) =>
      val n = name(firstSeq + k)
      Files.write(dir.resolve(n), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      SpoolFile(source, n, lines.size)
    }
  }

  /** Percent-decoding of a `graft-spool` topic directory name, written
    * independently of the program so the output check does not trust the
    * code it checks. */
  def decodeTopic(dir: String): String = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < dir.length) {
      if (dir.charAt(i) == '%') {
        out.write(Integer.parseInt(dir.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(dir.charAt(i).toInt); i += 1 }
    }
    new String(out.toByteArray, "UTF-8")
  }

  private def visible(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** (topic, line) for every committed record under a topics-mode bus root. */
  def readBus(root: String): Seq[(String, String)] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return Seq.empty
    val dirs = Files.list(r).iterator().asScala.toSeq.filter(d => Files.isDirectory(d) && visible(d))
    dirs.flatMap { d =>
      val topic = decodeTopic(d.getFileName.toString)
      Files.list(d).iterator().asScala.toSeq.filter(f => Files.isRegularFile(f) && visible(f))
        .flatMap(f => Files.readAllLines(f).asScala.filter(_.nonEmpty).map(topic -> _))
    }
  }

  /** (files, bytes) committed under a bus root. */
  def busFiles(root: String): (Int, Long) = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) return (0, 0L)
    val files = Files.walk(r).iterator().asScala.toSeq
      .filter(f => Files.isRegularFile(f) && visible(f) && visible(f.getParent))
    (files.size, files.map(Files.size).sum)
  }

  /** `n` arrival times spread uniformly at random over `seconds` and sorted:
    * a Poisson process conditioned on its count, so every run offers the
    * same load. Seeded and fixed before the run starts, it avoids the phase
    * locking a constant interval shows against triggers of about the same
    * length. */
  def arrivals(rng: java.util.Random, n: Int, seconds: Int): IndexedSeq[Long] =
    IndexedSeq.fill(n)((rng.nextDouble() * seconds * 1e9).toLong).sorted
}

/** The open-loop load generator: one thread that renames pre-rendered files
  * from staging into their spool directories on a fixed schedule (file k is
  * due `dueNanos(k)` after the start). It never looks at the pipeline, so a
  * stall downstream cannot slow the offered load; `lateMs` records how far
  * the thread itself fell behind its schedule. */
final class Feed(moves: IndexedSeq[(Path, Path)], dueNanos: IndexedSeq[Long])
    extends Thread("ingestbench-feed") {
  setDaemon(true)
  val dueMs = new Array[Long](moves.size)
  val doneMs = new Array[Long](moves.size)
  @volatile var startWallMs = 0L
  @volatile var error: Throwable = null

  override def run(): Unit =
    try {
      val t0 = System.nanoTime()
      startWallMs = System.currentTimeMillis()
      var k = 0
      while (k < moves.size) {
        val due = t0 + dueNanos(k)
        var wait = due - System.nanoTime()
        while (wait > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos(wait)
          wait = due - System.nanoTime()
        }
        dueMs(k) = startWallMs + dueNanos(k) / 1000000L
        Files.move(moves(k)._1, moves(k)._2, StandardCopyOption.ATOMIC_MOVE)
        doneMs(k) = System.currentTimeMillis()
        k += 1
      }
    } catch { case t: Throwable => error = t }

  def lateMs: Seq[Double] = dueMs.indices.map(k => (doneMs(k) - dueMs(k)).toDouble)
}
