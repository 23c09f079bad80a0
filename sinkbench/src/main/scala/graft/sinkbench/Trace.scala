package graft.sinkbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.fs.ControlFs

/** One benchmark span: a call the benchmark makes into a module. Times
  * are epoch milliseconds, comparable with Spark's listener event times. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, batch: Long) {
  def ms: Double = endMs - startMs
  def module: String = name.takeWhile(_ != '.')
}

/** One timed ingest step: its window and the `ControlFs` op tallies it
  * moved (op -> (count, nanos)). */
final case class Step(batch: Long, startMs: Double, endMs: Double,
    fs: Map[String, (Long, Long)])

/** Spans, counters and Spark listener records of a traced run.
  *
  * With `enabled` false every method is a pass-through: the untraced run
  * that measures the end-to-end metrics records nothing. Spans are kept in
  * memory and written out once, after the timed rounds. The listener runs
  * on Spark's listener-bus thread; the benchmark's own calls stay on the
  * thread that drives the closed loop (or the stream thread it waits on).
  */
final class Tracer(val enabled: Boolean) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  val steps = mutable.ArrayBuffer[Step]()
  val counters = mutable.LinkedHashMap[String, Double]()
  private var open = List.empty[Int]
  private var nextId = 0
  /** Global index of the ingest step in progress (-1 outside steps). */
  @volatile var batch: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val (id, parent) = synchronized {
        val id = nextId; nextId += 1
        val p = open.headOption.getOrElse(-1)
        open = id :: open
        (id, p)
      }
      val t0 = nowMs()
      try body
      finally {
        val t1 = nowMs()
        synchronized {
          open = open.filterNot(_ == id)
          spans += Span(id, name, t0, t1, parent, batch)
        }
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  /** Wrap one ingest step: a root span plus its `ControlFs` delta. */
  def step[T](index: Long, name: String)(body: => T): T =
    if (!enabled) body
    else {
      batch = index
      val f0 = ControlFs.profileSnapshot()
      val t0 = nowMs()
      try span(name)(body)
      finally {
        val t1 = nowMs()
        val f1 = ControlFs.profileSnapshot()
        val d = f1.map { case (k, (c, n)) =>
          val (c0, n0) = f0.getOrElse(k, (0L, 0L))
          k -> ((c - c0, n - n0))
        }.filter(_._2._1 > 0)
        steps += Step(index, t0, t1, d)
        batch = -1L
      }
    }

  // ---- Spark listener records ---------------------------------------------

  final case class JobRec(id: Int, startMs: Long, var endMs: Long, module: Option[String])
  final case class StageRec(stageId: Int, module: Option[String], runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, time: Long)
  final case class Progress(runId: String, batchId: Long, durations: Map[String, Long])

  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  val progress = mutable.ArrayBuffer[Progress]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      // a streaming query stamps its start() call site on every job it
      // runs; those jobs are classified by the driver threads' stacks
      val module = Tracer.moduleOf(details).filterNot(_ == "streaming")
        .orElse(Tracer.submitterModule())
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, module)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages += StageRec(i.stageId, stageJob.get(i.stageId).flatMap(jobs.get).flatMap(_.module),
          m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
          i.completionTime.getOrElse(0L))
    }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) synchronized {
        val d = e.progress.durationMs
        val m = mutable.Map[String, Long]()
        d.forEach((k, v) => m(k) = v.longValue)
        progress += Progress(e.progress.runId.toString, e.progress.batchId, m.toMap)
      }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener bus has delivered every queued event, then
    * detach. `waitUntilEmpty` is Spark-internal, hence the reflection. */
  def detach(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L))
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {

  /** The engine module of a Spark call site: the package under `graft`
    * of the first engine frame in the long-form call site (the stack below
    * the Spark API call). `HotPath.pin` materializes a frame for whichever
    * module called it, so its frames are skipped in favour of the caller's.
    * None when no engine frame is on the stack: the benchmark's own action,
    * attributed later to the module of the span it ran in.
    */
  def moduleOf(callSite: String): Option[String] =
    callSite.split('\n').iterator.map(_.trim).flatMap(engineModule).nextOption()

  private def engineModule(frame: String): Option[String] =
    if (!frame.startsWith("graft.") || frame.startsWith("graft.sinkbench.") ||
      frame.startsWith("graft.operators.HotPath")) None
    else {
      val parts = frame.split('.')
      Some(if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1) else "graft")
    }

  /** The module of the engine code a driver thread is running Spark from
    * when a job starts: the first engine frame of each driver thread whose
    * stack passes through Spark, the most common one winning. Executor
    * task threads run engine expressions and are left out. Sampled on the
    * listener thread just after the job was submitted, so a job shorter
    * than the listener's delay can be missed (it then falls to the span). */
  def submitterModule(): Option[String] = {
    val found = Thread.getAllStackTraces.asScala.toSeq.flatMap { case (t, st) =>
      if (t.getName.startsWith("Executor task launch") ||
        !st.exists(_.getClassName.startsWith("org.apache.spark."))) None
      else st.iterator.flatMap(f => engineModule(f.getClassName)).nextOption()
    }
    if (found.isEmpty) None else Some(found.groupBy(identity).maxBy(_._2.size)._1)
  }
}
