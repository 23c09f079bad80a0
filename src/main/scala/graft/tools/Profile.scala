package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.fs.ControlFs

/** Where do a query's seconds go? — `sbt "runMain graft.tools.Profile <names>"`.
  *
  * For each named query (default: the bench's slowest dozen), warms it at
  * sf0.001, then runs it at `SPARK_GRAFT_SF_DIR` (default sf0.1)
  * `SPARK_GRAFT_PROFILE_REPEAT` times (default 2). Each timed run has
  * three outputs, printed and appended to `.work/profile.txt`:
  *
  *   1. the WALL/JOB/STAGE split: per-job wall (scheduler job start→end,
  *      with the job group/description and callsite so jobs map back to
  *      operators), executor task time and its components (shuffle
  *      read/write, GC) summed over stages, the slowest stages, and the
  *      DRIVER GAP — wall − Σ job wall: query planning, commit-log FS ops,
  *      checkpoint setup, stream initialization … everything that runs
  *      between jobs on the driver;
  *   2. the CONTROL-PLANE split: the run's [[ControlFs.profileSnapshot]]
  *      delta — count, ms and µs/op per filesystem primitive (plus the
  *      writer's `sparkWriteJob` phase), sorted by ms,
  *      and their total (ops overlapped by `HotPath` each count in full);
  *   3. the EXECUTED PLANS: `.work/profile-plans/<query>_run<r>.txt` holds
  *      the formatted, AQE-final plan of every execution the run's session
  *      completed, in completion order — the fixture's write commands
  *      (`WriteFiles`, `AQEShuffleRead` …) and, last, the final read that
  *      `.count()` runs.
  *
  * At the bench's 17 MB sf0.1 most queries are OVERHEAD-bound, so the gap
  * and the job COUNT are usually the story, not task compute
  * (OPTIMIZATION_r18.md §measure).
  *
  * This is the repo's one profiling instrument: a new measurement belongs
  * here, as another per-run output, not in another `main`.
  */
object Profile {
  final case class JobRow(id: Int, wallMs: Long, desc: String)

  private lazy val out = {
    Files.createDirectories(Paths.get(".work"))
    new java.io.PrintWriter(
      new java.io.FileWriter(".work/profile.txt", /*append=*/ true), /*autoFlush=*/ true)
  }
  private def emit(s: String): Unit = { println(s); out.println(s) }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPEAT", "2").toInt
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("maintenance_auto", "streaming_join", "search_bm25_indexed",
        "dedup_incremental", "pipeline_dedup_curate", "dedup_groups",
        "search_phrase_indexed", "maintenance_binpack", "ingest_partitioned",
        "knn_ivf", "transform_debezium", "streaming_evolution")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: $unknown")

    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // ad-hoc conf A/Bs: SPARK_GRAFT_CONF="k=v;k=v" applies runtime-settable
    // session confs before the sweep (e.g. state-store providerClass,
    // statePartitions) — measurement plumbing only, never query semantics
    sys.env.get("SPARK_GRAFT_CONF").foreach { s =>
      s.split(';').filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        println(s"[profile] conf $k=$v")
        spark.conf.set(k.trim, v.trim)
      }
    }

    val jobStarts = mutable.Map[Int, (Long, String)]()
    val jobs = mutable.ArrayBuffer[JobRow]()
    var taskTimeMs, gcMs, shufReadB, shufWriteB, inputB = 0L
    var nStages, nTasks = 0
    final case class StageRow(id: Int, name: String, tasks: Int, runMs: Long, deserMs: Long)
    val stages = mutable.ArrayBuffer[StageRow]()
    // executions are formatted after the run, off the timed window
    val executions = mutable.ArrayBuffer[(String, QueryExecution, Option[Exception])]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.synchronized { executions += ((funcName, qe, None)); () }
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
        executions.synchronized { executions += ((funcName, qe, Some(ex))); () }
    }
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties).flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobStarts(js.jobId) = (js.time, desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobStarts.remove(je.jobId).foreach { case (t0, desc) =>
          jobs += JobRow(je.jobId, je.time - t0, desc)
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        nStages += 1
        nTasks += sc.stageInfo.numTasks
        stages += StageRow(sc.stageInfo.stageId, sc.stageInfo.name.takeWhile(_ != '\n'),
          sc.stageInfo.numTasks, m.executorRunTime, m.executorDeserializeTime)
        taskTimeMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        inputB += m.inputMetrics.bytesRead
      }
    }

    def reset(): Unit = {
      jobStarts.clear(); jobs.clear(); stages.clear(); executions.clear()
      taskTimeMs = 0; gcMs = 0; shufReadB = 0; shufWriteB = 0; inputB = 0
      nStages = 0; nTasks = 0
    }
    def dropPinned(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
    }
    val planDir = Paths.get(".work/profile-plans")
    Files.createDirectories(planDir)
    def writePlans(file: String): Unit = {
      val txt = executions.zipWithIndex.map { case ((funcName, qe, failure), i) =>
        val plan =
          try qe.explainString(FormattedMode)
          catch { case e: Exception => s"<explain failed: ${e.getMessage}>" }
        val status = failure.fold("")(e => s" FAILED: ${e.getMessage}")
        s"==== execution $i: $funcName$status ====\n$plan\n"
      }.mkString("\n")
      Files.write(planDir.resolve(file), txt.getBytes(StandardCharsets.UTF_8))
      emit(s"   plans ${executions.size} executions -> $planDir/$file")
    }

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try { fn(spark, "/root/testdata/sf0.001").count(); () }
      catch { case e: Throwable => println(s"[profile] warmup $name failed: ${e.getMessage}") }
      dropPinned()
      for (r <- 1 to repeat) {
        reset()
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(planListener)
        val fs0 = ControlFs.profileSnapshot()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sf).count(); true }
        catch { case e: Throwable => println(s"[profile] $name FAILED: ${e.getMessage}"); false }
        val wallMs = (System.nanoTime() - t0) / 1000000
        val fs1 = ControlFs.profileSnapshot()
        // drain the listener bus before reading the buffers: waitUntilEmpty
        // (private[spark], via reflection) blocks until every queued event
        // is delivered — a fixed sleep undercounted stage rows on a loaded
        // host; the sleep stays as the fallback if the API moves
        try {
          val sc = spark.sparkContext
          val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
          bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(5000L))
        } catch { case _: Exception => Thread.sleep(500) }
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(planListener)
        if (ok) {
          val jobWall = jobs.map(_.wallMs).sum
          emit(f"== $name%-28s run$r wall ${wallMs / 1000.0}%7.3f s  " +
            f"jobs ${jobs.size}%3d (sum ${jobWall / 1000.0}%7.3f s)  driver-gap ${(wallMs - jobWall) / 1000.0}%7.3f s")
          emit(f"   stages $nStages%4d tasks $nTasks%5d  taskTime ${taskTimeMs / 1000.0}%8.3f s  " +
            f"gc ${gcMs / 1000.0}%6.3f s  input ${inputB / 1e6}%8.1f MB  shufR ${shufReadB / 1e6}%7.1f MB  shufW ${shufWriteB / 1e6}%7.1f MB")
          val top = jobs.sortBy(-_.wallMs).take(12)
          top.foreach(j => emit(f"   job ${j.id}%4d ${j.wallMs / 1000.0}%7.3f s  ${j.desc.take(110)}"))
          stages.sortBy(-_.runMs).take(8).foreach(s =>
            emit(f"   stage ${s.id}%4d tasks ${s.tasks}%4d run ${s.runMs / 1000.0}%8.3f s  " +
              f"deser ${s.deserMs / 1000.0}%7.3f s  ${s.name.take(90)}"))
          val fsOps = fs1.toSeq.map { case (op, (c, ns)) =>
            val (c0, ns0) = fs0.getOrElse(op, (0L, 0L))
            (op, c - c0, ns - ns0)
          }.filter(_._2 > 0).sortBy(-_._3)
          fsOps.foreach { case (op, c, ns) =>
            emit(f"   fs $op%-18s n $c%6d ${ns / 1e6}%9.1f ms  ${ns / 1e3 / c}%9.1f us/op")
          }
          emit(f"   fs ${"TOTAL"}%-18s n ${fsOps.map(_._2).sum}%6d ${fsOps.map(_._3).sum / 1e6}%9.1f ms")
        }
        writePlans(s"${name}_run$r.txt")
        dropPinned()
      }
    }
    spark.stop()
    out.close() // autoflush covers crashes; the close guarantees the tail
  }
}
