package graft.sinkbench

import scala.collection.mutable

/** End-to-end measurements of one run, filled by the timed rounds.
  *
  * Every timed operation is counted in `attempted`; one that throws is
  * counted in `failed` and its message kept for stderr. Check failures go
  * to `errors` and turn the run's `correct` false.
  */
final class Meter {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  val errors = mutable.ArrayBuffer[String]()

  /** Summed wall and process CPU time of the ingest steps, and the rows
    * (documents) they handed to the engine. */
  var ingestNanos = 0L
  var ingestCpuNanos = 0L
  var rows = 0L
  val commitMs = mutable.ArrayBuffer[Double]()
  val pointMs = mutable.ArrayBuffer[Double]()
  val scanMs = mutable.ArrayBuffer[Double]()

  def cpuNanos(): Long = os.getProcessCpuTime

  /** Time one ingest step of `n` rows; `body` returns when the batch's
    * commit is visible. The step's wall time is its freshness sample. */
  def ingest(n: Long)(body: => Unit): Unit = {
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    op(body)
    val t1 = System.nanoTime()
    ingestNanos += t1 - t0
    ingestCpuNanos += cpuNanos() - c0
    rows += n
    commitMs += (t1 - t0) / 1e6
  }

  /** Time one read probe into `into`. */
  def read(into: mutable.ArrayBuffer[Double])(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    op(body)
    into += (System.nanoTime() - t0) / 1e6
  }

  private def op(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: Exception =>
        failed += 1
        failures += s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    }
  }

  def check(error: Option[String]): Unit = error.foreach(errors += _)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Bytes of every regular file under `dir` (0 if absent). */
  def dirBytes(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
    ()
  }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
