package graft.sinkbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession

/** What a workload gets from the harness. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val root: File,
    var meter: Meter,
    var tracer: Tracer) {
  def dir(name: String): File = new File(root, name)
  /** Global index of the next timed ingest step, across rounds. */
  var stepIndex = 0L
}

/** One workload: inputs made from the seed, and rounds. A round replays
  * the same generated input from an empty warehouse and checkpoint, so
  * every run attempts whole rounds of the same operations. Round -1 is the
  * untimed warm-up pass.
  */
trait Workload {
  /** Build the inputs (plain Scala, no Spark) under `ctx.dir("in")`. */
  def generate(ctx: Ctx): Unit
  /** Fresh state for round `r`: warehouse, checkpoint, initial index. */
  def setupRound(ctx: Ctx, r: Int): Unit
  /** The timed closed loop: ingest steps and read probes. */
  def runRound(ctx: Ctx, r: Int): Unit
  /** Stop the round's stream, check its final state (`full` adds the
    * costlier whole-table comparisons) and report per-round layer counts
    * to the tracer. Returns (stored bytes, live rows) of the round. */
  def endRound(ctx: Ctx, r: Int, full: Boolean): (Long, Long)
  /** Facts worth printing to stderr, e.g. session state the run changed. */
  def notes: Seq[String] = Nil
}

/** A stream's file source, stepped one batch at a time: batch files are
  * staged beside the watched directory `<dir>/src` beforehand, so making
  * one visible is a same-filesystem rename. */
object FileSource {
  def stage(ctx: Ctx, dir: File, names: Seq[String]): Unit = {
    val staged = new File(dir, "staged")
    staged.mkdirs()
    names.foreach(n => Files.copy(new File(ctx.dir("in"), n).toPath, new File(staged, n).toPath))
  }

  /** Make batch `name` visible to the stream, then wait for its commit. */
  def step(dir: File, name: String, q: StreamingQuery): Unit = {
    Files.move(new File(new File(dir, "staged"), name).toPath,
      new File(new File(dir, "src"), name).toPath, StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
  }
}

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1>`, plus
  * `--cores <n>` for the single-threaded reference run and `--out <dir>`.
  * Prints one JSON line last on stdout; exits 0 only when the run finished.
  */
object Main {

  /** Spark cores and shuffle partitions: fixed, never above the host's.
    * Two, so that JIT, GC and driver threads are not starved by tasks. */
  val DefaultCores = 2

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.get("cores").map(_.toInt)
      .getOrElse(math.min(DefaultCores, Runtime.getRuntime.availableProcessors()))
    val out = new File(opts.getOrElse("out", "sinkbench/out"))
    val workload: Workload = name match {
      case "backfill_fanout" => new Backfill
      case "cdc_stream"      => new CdcStream
      case "curate_stream"   => new CurateStream
      case other             => sys.error(s"unknown workload $other")
    }

    val root = new File(out, s"work-$name-$seed-${ProcessHandle.current().pid()}")
    Stats.deleteRecursively(root)
    root.mkdirs()
    val meter = new Meter
    val tracer = new Tracer(trace)
    val spark = session(cores)
    val ctx = new Ctx(spark, seed, root, meter, tracer)
    try {
      val g0 = System.nanoTime()
      workload.generate(ctx)
      val genNs = System.nanoTime() - g0
      val roundSetupNs = mutable.ArrayBuffer[Long]()
      var stored = (0L, 0L)
      def round(r: Int, full: Boolean): Long = {
        val s0 = System.nanoTime()
        workload.setupRound(ctx, r)
        val s1 = System.nanoTime()
        roundSetupNs += s1 - s0
        workload.runRound(ctx, r)
        val timed = System.nanoTime() - s1
        stored = workload.endRound(ctx, r, full)
        timed
      }

      // warm-up: one whole untimed round, checked like the others
      val w0 = System.nanoTime()
      ctx.meter = new Meter
      ctx.tracer = new Tracer(false)
      round(-1, full = false)
      Stats.deleteRecursively(ctx.dir("r-1"))
      meter.errors ++= ctx.meter.errors ++ ctx.meter.failures.map("warm-up: " + _)
      ctx.meter = meter
      ctx.tracer = tracer
      ctx.stepIndex = 0L
      val warmNs = System.nanoTime() - w0
      val preNs = System.nanoTime() - entryNs - genNs

      tracer.attach(spark)
      var timedNs = 0L
      var r = 0
      var last = false
      while (!last) {
        timedNs += round(r, full = true)
        last = timedNs >= seconds * 1e9
        if (!last) Stats.deleteRecursively(ctx.dir(s"r$r"))
        r += 1
      }
      tracer.detach(spark)

      // live driver heap after a full collection, at the end of the run
      // (twice more after a pause: Spark's context cleaner drops blocks
      // and broadcasts asynchronously once a collection found them dead)
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
      val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

      // set-up: entry to the end of the warm-up round, less input
      // generation, plus the median of the timed rounds' own set-ups
      val setupS = (preNs + Stats.median(roundSetupNs.drop(1).map(_.toDouble).toSeq)) / 1e9
      val e2e = endToEnd(meter, setupS, stored, heapMb)
      System.err.println(f"[sinkbench] $name seed $seed: rounds $r, steps ${meter.commitMs.size}, " +
        f"reads ${meter.pointMs.size}+${meter.scanMs.size}, ingest ${meter.ingestNanos / 1e9}%.2f s wall, ${meter.ingestCpuNanos / 1e9}%.3f s cpu, input generation ${genNs / 1e9}%.2f s, " +
        f"session ${(preNs - warmNs) / 1e9}%.2f s, warm-up round ${warmNs / 1e9}%.2f s, " +
        f"round set-ups ${roundSetupNs.map(n => f"${n / 1e9}%.2f").mkString("/")} s")
      System.err.println("[sinkbench] commit ms: " + meter.commitMs.map(x => f"$x%.0f").mkString(" ") +
        "; point ms: " + meter.pointMs.map(x => f"$x%.0f").mkString(" ") +
        "; scan ms: " + meter.scanMs.map(x => f"$x%.0f").mkString(" "))
      workload.notes.foreach(n => System.err.println(s"[sinkbench] note: $n"))
      meter.failures.distinct.take(5).foreach(f => System.err.println(s"[sinkbench] failed: $f"))
      meter.errors.take(20).foreach(e => System.err.println(s"[sinkbench] check: $e"))

      val metrics =
        if (!trace) e2e
        else {
          val layers = Layers.compute(tracer, meter.commitMs.size)
          Layers.write(new File(out, s"trace-$name-$seed.json"), name, seed, tracer, layers, e2e)
          layers
        }
      val body = metrics.map { case (k, (v, u)) =>
        s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${meter.errors.isEmpty}, "attempted": ${meter.attempted}, """ +
        s""""failed": ${meter.failed}, "metrics": {$body}}""")
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      spark.stop()
      Stats.deleteRecursively(root)
    }
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def session(cores: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", shufflePartitions = cores)
      .config("spark.default.parallelism", cores.toString)
      // a small, fixed status-store retention: the live heap measured at
      // the end must not depend on how many rounds the run fitted
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The end-to-end metrics, by the names BENCHMARK.json lists. */
  def endToEnd(m: Meter, setupS: Double, stored: (Long, Long),
      heapMb: Double): Seq[(String, (Double, String))] = Seq(
    "setup_s" -> (setupS, "s"),
    "rows_per_s" -> (m.rows / (m.ingestNanos / 1e9), "1/s"),
    "commit_p50_ms" -> (Stats.median(m.commitMs.toSeq), "ms"),
    "cpu_ms_per_krow" -> (m.ingestCpuNanos / 1e6 / (m.rows / 1000.0), "ms"),
    "read_point_p50_ms" -> (Stats.median(m.pointMs.toSeq), "ms"),
    "read_scan_p50_ms" -> (Stats.median(m.scanMs.toSeq), "ms"),
    "stored_bytes_per_row" -> (stored._1.toDouble / math.max(1L, stored._2), "B"),
    "heap_live_mb" -> (heapMb, "MB"))
}
