package graft.operators

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Hot-path policies for the engine's per-batch pipelines: pinning a
  * frame that feeds several jobs, spreading a narrow one, and overlapping
  * independent jobs on the driver.
  *
  * Pins are `localCheckpoint()`s by default: blocks stay on the executors
  * that computed them, lineage truncated. That is safe because every
  * streaming pin sits inside a `foreachBatch` body (or a `resolveBatch`
  * called from one): a lost executor fails the attempt, the stream
  * retries the SAME batch from its replayable source, and the batchId
  * fences (CommitLog's replay guard, the index folds' delete-then-write)
  * keep the retry exactly-once — a batch retry instead of a block
  * recompute, a latency choice, not a correctness one. On high-churn
  * fleets (spot/preemptible) set `spark.graft.hotpath.reliableCheckpoint
  * = true` plus `sparkContext.setCheckpointDir(...)`: the same pins become
  * reliable `checkpoint()`s on the cluster FS, with identical plans.
  * Replicated `persist` was rejected: it keeps lineage, so a
  * non-deterministic upstream could again be evaluated more than once.
  */
object HotPath {

  val ReliableConf = "spark.graft.hotpath.reliableCheckpoint"

  /** Materialize a per-batch frame once for multi-consumer reuse (see
    * object doc for the recovery story and the reliable-mode knob).
    */
  def pin(df: DataFrame): DataFrame = {
    val reliable =
      df.sparkSession.conf.getOption(ReliableConf).exists(_.toBoolean)
    if (reliable) df.checkpoint() else df.localCheckpoint()
  }

  /** `.pin()` at the end of a chain — same as [[pin]]. */
  implicit final class Pinnable(private val df: DataFrame) extends AnyVal {
    def pin(): DataFrame = HotPath.pin(df)
  }

  /** Spread an UNDER-PARALLEL frame across the cluster before a
    * CPU-heavy per-row kernel (minhash signatures, tokenization, codecs).
    *
    * A corpus that arrives as a handful of scan splits — one small
    * parquet file, a coalesced upstream exchange — serializes the kernel
    * on one core while the rest of the cluster idles (guide §2.5 "input
    * skew"). A corpus that is already wider than the cluster's core
    * count gains nothing from an extra exchange, so this is a strict
    * NO-OP there: at scale the scan has thousands of splits and no bytes
    * move.
    *
    * SCAN-SHAPED inputs only: the partition probe (`df.rdd`) is
    * plan-time for narrow plans, but under AQE it EXECUTES every
    * upstream shuffle stage of a plan that has one — and the repartition
    * would then re-run them (no cross-query exchange reuse). Frames that
    * already contain an aggregate/join/repartition/window/sort carry
    * shuffle partitioning (≈ cluster-parallel) and pass through
    * untouched, which also keeps the probe job-free by construction.
    */
  def spreadIfNarrow(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // KEEP IN SYNC with Spark upgrades: this allowlist names the logical
    // nodes that plan to a shuffle. A new shuffle-carrying node type
    // (or a rename) would silently fall through to the `df.rdd` probe,
    // which under AQE EXECUTES the upstream shuffle stages — plan-time
    // cost becomes job cost. The probe itself is plan-only for
    // scan-shaped frames (full physical planning, no job); on per-batch
    // trigger paths that is one planning pass per call, measured cheap
    // relative to the kernels it feeds (r18 ADVICE notes the trade).
    val hasExchangeShape = df.queryExecution.analyzed.collectFirst {
      case p @ (_: Aggregate | _: Join | _: RepartitionOperation | _: Window | _: Sort |
          _: Distinct | _: Deduplicate) => p
    }.nonEmpty
    if (hasExchangeShape) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }

  // ---- driver-side overlap --------------------------------------------

  /** Success-path bound on one overlap call's wait: far above any single
    * commit's writes at the scales this engine is measured at, so reaching
    * it means a hung job, which is cancelled and reported, not awaited. */
  val OverlapWaitBound: FiniteDuration = 4.hours

  /** How long a failed call keeps cancelling and waiting for its siblings. */
  val CancelGrace: FiniteDuration = 10.seconds

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The one pool for every overlap: daemon, cached. Unbounded on purpose:
    * each call bounds its own tasks in flight, so a task that overlaps in
    * turn (a K10 table write running a delta commit) cannot starve it. */
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-side-job")
    t.setDaemon(true)
    t
  }

  /** Run `side` concurrently with `body` — two independent Spark actions
    * of one operation, so the side's jobs back-fill the body's scheduling
    * gaps and task tail — and return both results. Contract as
    * [[inParallel]]; `site` names the call in errors and log lines. */
  def overlap[S, B](site: String, spark: SparkSession)(side: => S)(body: => B): (S, B) = {
    val r = inParallel[Any](site, spark, 2)(Seq(() => side, () => body))
    (r(0).asInstanceOf[S], r(1).asInstanceOf[B])
  }

  /** Run `tasks` with at most `maxInFlight` at once, results in task
    * order. Tasks run on the pool with the caller's active session and
    * local properties (job group, description, scheduler pool) plus one
    * job tag per call:
    *  - the first failure wins; every later one is suppressed onto it;
    *  - on failure no further task starts, the call's jobs are cancelled
    *    by tag — repeatedly for up to [[CancelGrace]], which also catches
    *    a job a sibling starts after the first cancel — and the first
    *    failure is rethrown;
    *  - the wait is bounded by [[OverlapWaitBound]]: on expiry the jobs
    *    are cancelled, one ERROR line names the site, and the call throws.
    */
  def inParallel[T](site: String, spark: SparkSession, maxInFlight: Int)(
      tasks: Seq[() => T]): Seq[T] = runTasks(site, spark, maxInFlight, OverlapWaitBound)(tasks)

  private[operators] def runTasks[T](
      site: String, spark: SparkSession, maxInFlight: Int, waitBound: FiniteDuration)(
      tasks: Seq[() => T]): Seq[T] = {
    val todo = tasks.toVector
    val results = new Array[Any](todo.size)
    val sc = spark.sparkContext
    val tag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    def cancel(): Unit = sc.cancelJobsWithTag(tag, s"$site: a sibling task failed")
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val failed = new CompletableFuture[Unit]()
    def fail(t: Throwable): Unit = { failures.add(t); cancel(); failed.complete(()) }
    val next = new AtomicInteger(0)
    def work(): Unit = {
      sc.addJobTag(tag)
      var i = next.getAndIncrement()
      while (i < todo.size && !failed.isDone) {
        try results(i) = todo(i)()
        catch { case t: Throwable => fail(t) }
        i = next.getAndIncrement()
      }
    }
    val all = CompletableFuture.allOf(Vector.fill(math.max(1, math.min(maxInFlight, todo.size)))(
      SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool)(work())): _*)
    def done(f: CompletableFuture[_], ms: Long): Boolean =
      try { f.get(ms, TimeUnit.MILLISECONDS); true }
      catch { case _: TimeoutException => false; case _: ExecutionException => true }
    try {
      if (!done(CompletableFuture.anyOf(all, failed), waitBound.toMillis)) {
        log.error(s"overlap wait expired: site=$site bound_ms=${waitBound.toMillis} " +
          s"tasks=${todo.size} tag=$tag; cancelling the call's jobs")
        fail(new TimeoutException(s"$site: jobs still running after $waitBound"))
      }
    } catch { case e: InterruptedException => fail(e) }
    if (failures.isEmpty) return results.toSeq.map(_.asInstanceOf[T])
    val graceEnd = System.nanoTime() + CancelGrace.toNanos
    try while (!all.isDone && System.nanoTime() < graceEnd) { done(all, 250); cancel() }
    catch { case _: InterruptedException => Thread.currentThread().interrupt() }
    if (!all.isDone) log.warn(s"overlap tasks still running after cancel: site=$site tag=$tag")
    val primary = failures.poll()
    failures.asScala.foreach(t => if (t ne primary) primary.addSuppressed(t))
    throw primary
  }
}
