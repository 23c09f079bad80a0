package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.{EngineConfig, TableConfig}
import graft.sink.Ingest
import graft.table.{IceTable, TableMeta}

object OverlapSuite {

  /** Sleep in a task for up to `ms`, returning early once the task is killed. */
  def sleepUntilKilled(ms: Long): Unit = {
    val ctx = TaskContext.get()
    val end = System.nanoTime() + ms * 1000000L
    while (System.nanoTime() < end && (ctx == null || !ctx.isInterrupted())) Thread.sleep(20)
  }

  val slowId = udf { (id: Long) => sleepUntilKilled(30000); id }
}

/** The driver-side overlap contract of [[HotPath.overlap]] /
  * [[HotPath.inParallel]]: error precedence, cancellation of every
  * sibling job on failure, the bounded wait, and the caller's (not a pool
  * thread's creator's) local properties.
  */
class OverlapSuite extends AnyFunSuite {
  import OverlapSuite._

  private lazy val spark = TestSpark.spark
  private def sc = spark.sparkContext

  private def activeJobs(): Seq[Int] = sc.statusTracker.getActiveJobIds().toSeq

  /** A Spark job of two tasks that each run up to `ms` unless killed. */
  private def slowJob(ms: Long): Long =
    sc.parallelize(1 to 2, 2).map { x => sleepUntilKilled(ms); x }.count()

  private def awaitActiveJob(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    while (activeJobs().isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(activeJobs().nonEmpty, "the side's job never started")
  }

  /** Job-end events reach the status tracker asynchronously: allow them a
    * moment to drain, then require that no job shows up afterwards either
    * (a sibling still running would start or keep its job in that window).
    */
  private def assertNoActiveJobs(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (activeJobs().nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(activeJobs().isEmpty, s"jobs still active after the call: ${activeJobs()}")
    Thread.sleep(1500)
    assert(activeJobs().isEmpty, s"a job started after the call returned: ${activeJobs()}")
  }

  test("body and side both fail: the first failure surfaces, the other is suppressed onto it") {
    val sideErr = new IllegalStateException("side")
    val e = intercept[IllegalArgumentException] {
      HotPath.overlap("test", spark) { Thread.sleep(300); throw sideErr }(
        throw new IllegalArgumentException("body"))
    }
    assert(e.getMessage === "body")
    assert(e.getSuppressed.toSeq === Seq(sideErr))
  }

  test("a failed body cancels the side's running job and returns promptly") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      HotPath.overlap("test", spark)(slowJob(60000)) {
        awaitActiveJob()
        throw new IllegalStateException("body")
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage === "body")
    assert(e.getSuppressed.length === 1, "the side's cancellation rides on the body's error")
    assert(secs < 20, s"took $secs s")
    assertNoActiveJobs()
  }

  test("a failed side cancels the body's running job: the side's error wins") {
    val e = intercept[IllegalStateException] {
      HotPath.overlap("test", spark) {
        awaitActiveJob()
        throw new IllegalStateException("side")
      }(slowJob(60000))
    }
    assert(e.getMessage === "side")
    assertNoActiveJobs()
  }

  test("a wait past the bound cancels the call's jobs and throws a TimeoutException") {
    val t0 = System.nanoTime()
    val e = intercept[java.util.concurrent.TimeoutException] {
      HotPath.runTasks("test", spark, 2, 1.second)(
        Seq(() => slowJob(60000), () => ()))
    }
    assert(e.getMessage.startsWith("test:"))
    assert((System.nanoTime() - t0) / 1e9 < 20)
    assertNoActiveJobs()
  }

  test("a reused pool thread runs a task under the caller's job group, not its creator's") {
    def poolThreads(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-side-job").toSet
    def barrierTasks[T](n: Int)(body: => T): Seq[() => T] = {
      val latch = new CountDownLatch(n)
      Seq.fill(n)(() => { latch.countDown(); latch.await(20, TimeUnit.SECONDS); body })
    }
    // a streaming query's thread, whose group Spark cancels when the query
    // stops, grows the pool by at least two threads
    val before = poolThreads()
    val creator = new Thread(() => {
      sc.setJobGroup("stream-run-1", "a streaming query", interruptOnCancel = true)
      val n = before.size + 2
      HotPath.inParallel("test", spark, n)(barrierTasks(n)(()))
      ()
    })
    creator.start()
    creator.join()
    val created = poolThreads() -- before
    assert(created.nonEmpty)
    // every idle pool thread takes one of these tasks
    val n = poolThreads().size
    val seen = HotPath.inParallel("test", spark, n)(
      barrierTasks(n)((Thread.currentThread(), sc.getLocalProperty("spark.jobGroup.id"))))
    assert(seen.map(_._1).toSet.intersect(created).nonEmpty, "no task reused a creator's thread")
    assert(seen.map(_._2).forall(_ == null), s"groups seen: ${seen.map(_._2).distinct}")
  }

  test("K10: one table's failure fails Ingest.run with that error and leaves no job running") {
    val wh = TestSpark.freshDir("overlap-k10")
    val schema = StructType(Seq(StructField("id", LongType), StructField("slow", LongType)))
    // the bad table's write fails on the driver, before any job starts
    IceTable.create(Ingest.tablePath(EngineConfig(warehouse = wh), "bad"), schema,
      TableMeta(props = Map("write.distribution-mode" -> "bogus")))
    val cfg = EngineConfig(warehouse = wh, autoCreate = true,
      tables = Seq(TableConfig("good"), TableConfig("bad")))
    // the good table's write runs a job that lasts until it is cancelled
    val batch = spark.range(0, 4, 1, 4).select(col("id"), slowId(col("id")).as("slow"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException](Ingest.run(spark, batch, 0L, cfg))
    assert(e.getMessage.contains("write.distribution-mode"))
    assert((System.nanoTime() - t0) / 1e9 < 25)
    assertNoActiveJobs()
  }
}
