package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Outcome of one run: operation counts, checks and metrics. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** metric name -> (value, unit) */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val report = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val inputs = mutable.LinkedHashMap.empty[String, Any]

  /** Runs one operation, counting it; an exception or a failed check
    * counts it as failed. Returns whether it succeeded.
    */
  def op(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try {
      val r = body
      if (!r) note(s"$what: wrong output")
      r
    } catch {
      case e: Exception =>
        note(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
    if (!ok) failed += 1
    ok
  }

  def note(msg: String): Unit = if (failures.size < 20) failures += msg.take(400)
}

/** One workload of the benchmark. `generate` writes the seeded inputs
  * once; `setup` builds the engine-side state the deployment already has
  * before the timed work (a loaded store, a seeded index or feed). It runs
  * several times, each from scratch, and the last one is used. `warmup`
  * runs the workload's own work once, untimed; `timed` measures; `finish`
  * derives the metrics.
  */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
    val jobs: JobCounter, val work: Path, val seed: Long) {
  val out = new Outcome
  def generate(): Unit
  def setup(): Unit
  def warmup(): Unit
  def timed(seconds: Double): Unit
  def finish(): Unit

  /** Job counts per unit of work, in run order (reported). */
  val jobCounts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  protected def recordJobs(unit: String, n: Long): Unit =
    jobCounts.getOrElseUpdate(unit, mutable.ArrayBuffer.empty) += n

  /** Like-for-like guard: a repeat of a unit of work must launch as many
    * jobs as its first run; a repeat served from something an earlier run
    * left behind launches far fewer. Identical runs can differ by a job
    * or two where adaptive execution schedules stages over a shared cached
    * relation concurrently, so the guard allows 5% of the first count.
    */
  protected def guardJobs(unit: String, n: Long): Boolean = {
    recordJobs(unit, n)
    val first = jobCounts(unit).head
    val ok = math.abs(n - first) <= first / 20
    if (!ok) out.note(s"like-for-like guard: $unit ran $n jobs, its first run $first")
    ok
  }
}

object Dirs {
  def delete(p: Path): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(p.toFile)
  }

  /** `p`, emptied and re-created. */
  def fresh(p: Path): Path = { delete(p); Files.createDirectories(p) }

  /** (files, bytes) under `p`, recursively, hidden files included. */
  def usage(p: Path): (Long, Long) = {
    var files, bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) { files += 1; bytes += f.length }
    walk(p.toFile)
    (files, bytes)
  }

  def ms(ns: Long): Double = ns / 1e6
  def secs(ns: Long): Double = ns / 1e9
}
