package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.llm.{Dedup, EmbIndex, LshIndex, StreamIndex}

/** The streaming dedup shell ([[DedupStream.run]]) per trigger: how many
  * Spark jobs and code compilations a steady micro-batch costs on the
  * driver arm, that the driver and distributed arms resolve identical
  * survivors and index rows, and that a sink failure after the fold
  * replays to the uninterrupted result with pass-through rows intact.
  */
class DedupShellSuite extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  import DedupShellSuite._

  /** `DedupStream.run` limits that keep every batch on one arm. */
  private val DriverArm = (Long.MaxValue, Long.MaxValue)
  private val DistributedArm = (-1L, -1L)

  /** One stream kind: index build, source, batches (index in the shell's
    * column names `id`, `x`). */
  private trait Kind {
    def name: String
    /** the corpus plus `family` near-duplicates of one hot row (ids 100+) */
    def build(dir: String, family: Int = 0): Unit
    def index(dir: String): StreamIndex[_]
    /** the public entry point, at the probe's own gate */
    def start(src: DataFrame, dir: String, ckpt: String, sink: (DataFrame, Long) => Unit): StreamingQuery
    def source(): (DataFrame, Seq[Any] => Unit)
    def payloadTable: String
    def dataDir(dir: String): String
  }

  private object Lsh extends Kind {
    val name = "lsh"
    def build(dir: String, family: Int): Unit = {
      import spark.implicits._
      LshIndex.build((corpusTexts.zipWithIndex.map { case (t, i) => (i + 1L, t) } ++
        (0 until family).map(j => (100L + j, s"$hot tail$j"))).toDF("id", "x"),
        "id", "x", dir, n = 3, numHashes = 64, bands = 32)
      ()
    }
    def index(dir: String): StreamIndex[_] = LshIndex.stream(spark, dir, "id", "x", 0.5)
    def start(src: DataFrame, dir: String, ckpt: String, sink: (DataFrame, Long) => Unit) =
      DedupStream.start(src, dir, "id", "x", 0.5, ckpt, sink, triggerMs = 10L)
    def source(): (DataFrame, Seq[Any] => Unit) = {
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[(Option[Long], String)]
      (ms.toDF().toDF("id", "x"), rows => {
        ms.addData(rows.map { r => val (id, t) = r.asInstanceOf[(Any, String)]; (optId(id), t) }); ()
      })
    }
    val payloadTable = "shingles.parquet"
    def dataDir(dir: String): String = LshIndex.dataDir(spark, dir)
  }

  private object Emb extends Kind {
    val name = "emb"
    def build(dir: String, family: Int): Unit = {
      import spark.implicits._
      val rnd = new scala.util.Random(13)
      EmbIndex.build((corpusVecs.zipWithIndex.map { case (v, i) => (i + 1L, Option(v)) } ++
        (0 until family).map(j => (100L + j, Option(jitter(centre, 0.02, rnd))))).toDF("id", "x"),
        "id", "x", dir, threshold = 0.9, bits = 8, tables = 4)
      ()
    }
    def index(dir: String): StreamIndex[_] = EmbIndex.stream(spark, dir, "id", "x", 0.9)
    def start(src: DataFrame, dir: String, ckpt: String, sink: (DataFrame, Long) => Unit) =
      EmbDedupStream.start(src, dir, "id", "x", 0.9, ckpt, sink, triggerMs = 10L)
    def source(): (DataFrame, Seq[Any] => Unit) = {
      implicit val sq = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[(Option[Long], Option[Seq[Double]])]
      (ms.toDF().toDF("id", "x"), rows => {
        ms.addData(rows.map { r =>
          val (id, v) = r.asInstanceOf[(Any, Option[Seq[Double]])]; (optId(id), v)
        }); ()
      })
    }
    val payloadTable = "vectors.parquet"
    def dataDir(dir: String): String = EmbIndex.dataDir(spark, dir)
  }

  /** Steady batch `i` of a kind: a near-dup of a corpus row, a novel row,
    * a within-batch near-dup of it, and pass-through rows — the same
    * shape every batch, ids disjoint across batches. */
  private def steadyBatch(k: Kind, i: Int): Seq[Any] = {
    val id = 1000L + 10L * i
    k match {
      case Lsh => Seq(
        (id, corpusTexts(i % corpusTexts.size) + " again"),
        (id + 1, novelText(i)), (id + 2, novelText(i) + " again"),
        (id + 3, "too short"), (id + 4, null))
      case _ => Seq(
        (id, Some(jitter(corpusVecs(i % corpusVecs.size), 0.01))),
        (id + 1, Some(novelVec(i))), (id + 2, Some(jitter(novelVec(i), 0.01))),
        (id + 3, Some(Seq.fill(Dim)(0.0))), (id + 4, None))
    }
  }

  /** Counts the jobs each trigger of one query runs outside the sink,
    * while `body` runs. */
  private def countingJobs[T](body: JobCounter => T): T = {
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try body(counter) finally spark.sparkContext.removeSparkListener(counter)
  }

  private final class JobCounter extends SparkListener {
    @volatile var queryId: String = _
    private val perBatch = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val batch = if (p == null) null else p.getProperty("streaming.sql.batchId")
      if (batch != null && p.getProperty("sql.streaming.queryId") == queryId &&
          p.getProperty(InSink) == null)
        perBatch.computeIfAbsent(batch, _ => new AtomicInteger()).incrementAndGet()
      ()
    }
    def apply(batch: Long): Int = {
      drainListenerBus(spark)
      Option(perBatch.get(batch.toString)).fold(0)(_.get)
    }
  }

  /** Runs `batches` through the public `start` on a fresh index (the
    * driver arm: every batch is inside the probe gate); per batch: the
    * jobs of the trigger outside the sink, the compilations, and the
    * sunk ids. */
  private def steadyRun(k: Kind, batches: Int): Seq[(Int, Long, Seq[Long])] = countingJobs { jobs =>
    val dir = TestSpark.freshDir(s"shell-steady-${k.name}")
    k.build(dir)
    val (src, add) = k.source()
    val sunk = mutable.Map.empty[Long, Seq[Long]]
    val q = k.start(src, dir, TestSpark.freshDir("shell-steady-ckpt"), collectSink(sunk))
    jobs.queryId = q.id.toString
    try (0 until batches).map { i =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      add(steadyBatch(k, i))
      q.processAllAvailable()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      (jobs(i.toLong), compiles, sunk(i.toLong))
    } finally q.stop()
  }

  private lazy val steady: Map[String, Seq[(Int, Long, Seq[Long])]] =
    Seq(Lsh, Emb).map(k => k.name -> steadyRun(k, 10)).toMap

  test("driver arm: a steady trigger runs at most 8 Spark jobs outside the sink (LSH and embedding)") {
    for ((kind, runs) <- steady) info(s"$kind jobs per trigger: ${runs.map(_._1).mkString(" ")}")
    for ((kind, runs) <- steady) {
      // the dedup really ran: corpus dup, within-batch dup and short-doc
      // pass-through resolved as designed
      runs.zipWithIndex.foreach { case ((_, _, ids), i) =>
        val id = 1000L + 10L * i
        assert(ids === Seq(id + 1, id + 3, id + 4), s"$kind batch $i survivors")
      }
      runs.drop(2).zipWithIndex.foreach { case ((jobs, _, _), i) =>
        assert(jobs <= 8, s"$kind steady batch ${i + 2} ran $jobs jobs outside the sink")
      }
    }
  }

  test("driver arm: zero code compilations per steady trigger after the first two (LSH and embedding)") {
    for ((kind, runs) <- steady) info(s"$kind compilations per trigger: ${runs.map(_._2).mkString(" ")}")
    for ((kind, runs) <- steady) {
      assert(runs.drop(2).map(_._2).forall(_ == 0L),
        s"$kind steady batches compiled: ${runs.map(_._2)}")
    }
  }

  /** Runs `batches` through the shell at the given limits on a fresh index. */
  private def armRun(k: Kind, batches: Seq[Seq[Any]], limits: (Long, Long),
      failOnce: Option[Long] = None, family: Int = 0): ArmResult = countingJobs { jobs =>
    val dir = TestSpark.freshDir(s"shell-arm-${k.name}")
    val ckpt = TestSpark.freshDir(s"shell-arm-ckpt-${k.name}")
    k.build(dir, family)
    val (src, add) = k.source()
    val sunk = mutable.Map.empty[Long, Seq[Long]]
    var failed = false
    var foldedBeforeFailure = false
    val sink: (DataFrame, Long) => Unit = (df, b) => {
      if (failOnce.contains(b) && !failed) {
        failed = true
        foldedBeforeFailure =
          new java.io.File(s"${k.dataDir(dir)}/${k.payloadTable}/batch=$b").isDirectory
        throw new IllegalStateException("sink down")
      }
      collectSink(sunk)(df, b)
    }
    def start() = {
      val q = DedupStream.run(src, k.index(dir), "id", ckpt, sink, 10L, None, limits)
      jobs.queryId = q.id.toString
      q
    }
    var q = start()
    try batches.foreach { rows =>
      add(rows)
      try q.processAllAvailable()
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException if failed =>
          assert(e.getMessage.contains("sink down"), e.getMessage)
          q = start() // same checkpoint: the failed batch replays
          q.processAllAvailable()
      }
    } finally q.stop()
    if (failOnce.nonEmpty) assert(failed, "the sink never failed")
    val data = k.dataDir(dir)
    def rows(table: String): Seq[String] =
      spark.read.parquet(s"$data/$table").toJSON.collect().sorted.toSeq
    ArmResult(sunk.toMap, rows("buckets.parquet"), rows(k.payloadTable),
      spark.read.parquet(s"$data/${k.payloadTable}").select("id").collect().map(_.getLong(0)).toSeq,
      foldedBeforeFailure, batches.indices.map(jobs(_)))
  }

  test("driver and distributed arms give identical survivors and index rows (LSH, group past GroupMaxBucket)") {
    val group = Dedup.GroupMaxBucket + 76
    // a null-id row is never indexed on either arm: 9004 must survive
    val batches = Seq(
      steadyBatch(Lsh, 0),
      (0 until group).map(j => (5000L + j, s"$hot tail$j")) ++ steadyBatch(Lsh, 1) :+
        ((null, novelText(9))),
      Seq((9000L, novelText(0) + " once more"), (9001L, s"$hot tail-late"), (9002L, novelText(7)),
        (9004L, novelText(9) + " again")))
    val driver = armRun(Lsh, batches, DriverArm)
    val dist = armRun(Lsh, batches, DistributedArm)
    assert(driver.sunk === dist.sunk, "survivors per batch")
    assert(driver.sunk(1).count(_ >= 5000L) === 1, s"one survivor of the hot group: ${driver.sunk(1)}")
    assert(driver.sunk(1).contains(NullId), "the null-id row passes through")
    assert(driver.sunk(2) === Seq(9002L, 9004L), "batch 2 dedups against batches 0 and 1")
    assert(driver.buckets === dist.buckets, "bucket rows")
    assert(driver.payloads === dist.payloads, "shingle rows")
  }

  test("driver and distributed arms give identical survivors and index rows (embedding)") {
    val rnd = new scala.util.Random(11)
    // a null-id row is never indexed on either arm: 9004 must survive
    val batches = Seq(
      steadyBatch(Emb, 0),
      (0 until 300).map(j => (5000L + j, Some(jitter(centre, 0.02, rnd)))) ++ steadyBatch(Emb, 1) :+
        ((null, Some(novelVec(9)))),
      Seq((9000L, Some(jitter(novelVec(0), 0.01))), (9001L, Some(jitter(centre, 0.01))),
        (9002L, Some(novelVec(7))), (9003L, Some(Seq(1.0, 2.0))), // width-mismatched
        (9004L, Some(jitter(novelVec(9), 0.01)))))
    val driver = armRun(Emb, batches, DriverArm)
    val dist = armRun(Emb, batches, DistributedArm)
    assert(driver.sunk === dist.sunk, "survivors per batch")
    assert(driver.sunk(1).count(_ >= 5000L) === 1, s"one survivor of the dup group: ${driver.sunk(1)}")
    assert(driver.sunk(1).contains(NullId), "the null-id row passes through")
    assert(driver.sunk(2) === Seq(9002L, 9003L, 9004L), "batch 2 dedups against batches 0 and 1")
    assert(driver.buckets === dist.buckets, "bucket rows")
    assert(driver.payloads === dist.payloads, "vector rows")
  }

  test("a sink failure after the fold replays to the uninterrupted survivors; pass-through rows " +
    "survive and are never indexed (both arms, LSH and embedding)") {
    for (k <- Seq(Lsh, Emb); (arm, limits) <- Seq("driver" -> DriverArm, "distributed" -> DistributedArm)) {
      val batches = (0 until 4).map(steadyBatch(k, _))
      // the uninterrupted run: the steady stream's first four triggers
      val clean = steady(k.name).take(4).zipWithIndex.map { case (r, i) => i.toLong -> r._3 }.toMap
      val replay = armRun(k, batches, limits, failOnce = Some(2L))
      assert(replay.foldedBeforeFailure, s"${k.name}/$arm batch 2 was not folded when its sink failed")
      assert(replay.sunk === clean, s"${k.name}/$arm survivors per batch")
      val passThrough = batches.indices.flatMap(i => Seq(1003L + 10L * i, 1004L + 10L * i))
      assert(passThrough.forall(id => replay.sunk(id / 10 - 100).contains(id)),
        s"${k.name}/$arm pass-through rows must survive: ${replay.sunk}")
      val indexed = replay.payloadIds
      assert(indexed.size === indexed.toSet.size, s"${k.name}/$arm index holds an id twice: $indexed")
      assert(indexed.toSet === clean.values.flatten.toSet.diff(passThrough.toSet) ++
        (1L to corpusSize.toLong), s"${k.name}/$arm index ids")
    }
  }

  test("a bucket probe or payload fetch past the gate falls back to the distributed arm before " +
    "anything is written (LSH and embedding)") {
    for (k <- Seq(Lsh, Emb)) {
      // batch 1 probes a 60-row indexed family: ~60 × slots bucket hits
      // and 60 candidate payloads (~1 200 estimated bytes each for LSH, 160
      // for embeddings), far past the test-sized limits below, while every
      // batch's own features and batches 0 and 2's probes fit
      val probe: Any = k match {
        case Lsh => (7000L, s"$hot tail-probe")
        case _ => (7000L, Some(jitter(centre, 0.01)))
      }
      val batches = Seq(steadyBatch(k, 0), steadyBatch(k, 1) :+ probe, steadyBatch(k, 2))
      val driver = armRun(k, batches, DriverArm, family = 60)
      val cuts = Seq("distributed" -> DistributedArm, "probe rows" -> (40L, Long.MaxValue),
        "fetch bytes" -> (Long.MaxValue, if (k == Lsh) 20000L else 2000L))
      for ((cut, limits) <- cuts) {
        val r = armRun(k, batches, limits, family = 60)
        assert(r.sunk === driver.sunk, s"${k.name}/$cut survivors per batch")
        assert(r.buckets === driver.buckets, s"${k.name}/$cut bucket rows")
        assert(r.payloads === driver.payloads, s"${k.name}/$cut payload rows")
        info(s"${k.name}/$cut jobs per trigger: ${r.jobs.mkString(" ")}")
        // the distributed arm runs far more jobs than the driver arm's eight
        if (cut != "distributed") {
          assert(r.jobs(0) <= 8 && r.jobs(2) <= 8, s"${k.name}/$cut: batches 0 and 2 fit the gate")
          assert(r.jobs(1) > 8, s"${k.name}/$cut: batch 1 stayed on the driver arm")
        }
      }
      assert(!driver.sunk(1).contains(7000L), s"${k.name}: the family probe is a cross-batch dup")
      assert(driver.jobs.forall(_ <= 8), s"${k.name} driver arm jobs: ${driver.jobs}")
    }
  }
}

object DedupShellSuite {
  val InSink = "graft.test.inSink"
  /** How a sunk row with a null id is reported. */
  val NullId = -1L

  private def optId(id: Any): Option[Long] = Option(id).map(_.asInstanceOf[Long])
  val Dim = 16

  final case class ArmResult(
      sunk: Map[Long, Seq[Long]], buckets: Seq[String], payloads: Seq[String],
      payloadIds: Seq[Long], foldedBeforeFailure: Boolean, jobs: Seq[Int])

  val corpusTexts: Seq[String] = (0 until 6).map(i =>
    (0 until 12).map(w => s"corpus${i}word$w").mkString(" "))
  def novelText(i: Int): String = (0 until 12).map(w => s"novel${i}token$w").mkString(" ")

  val corpusVecs: Seq[Seq[Double]] = (0 until 6).map(i => randomVec(new scala.util.Random(100 + i)))
  def novelVec(i: Int): Seq[Double] = randomVec(new scala.util.Random(500 + i))
  def corpusSize: Int = 6
  /** the hot row of a family: a text and a vector */
  val hot = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  def centre: Seq[Double] = novelVec(40)

  private def randomVec(r: scala.util.Random): Seq[Double] = Seq.fill(Dim)(r.nextGaussian())
  def jitter(v: Seq[Double], eps: Double, r: scala.util.Random = new scala.util.Random(7)): Seq[Double] =
    v.map(_ + eps * r.nextGaussian())

  /** A sink that only collects the sunk ids, with its jobs tagged so the
    * job count can leave them out. */
  def collectSink(sunk: mutable.Map[Long, Seq[Long]]): (DataFrame, Long) => Unit = (df, b) => {
    val sc = df.sparkSession.sparkContext
    sc.setLocalProperty(InSink, "1")
    try sunk(b) = df.select("id").collect().map(r => if (r.isNullAt(0)) NullId else r.getLong(0))
      .sorted.toSeq
    finally sc.setLocalProperty(InSink, null)
  }

  def drainListenerBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(10000L))
    ()
  }
}
