package graft.sinkbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.config.{EngineConfig, TableConfig}
import graft.functions.IcebergBucket
import graft.sink.Ingest
import graft.streaming.IngestStream
import graft.table.IceTable
import graft.transforms.Transforms

/** `cdc_stream`: Debezium change envelopes (create, update, delete and
  * re-insert) over a bounded key space with Zipf-skewed hot keys, through
  * `IngestStream.start` over a file source with the Debezium SMT, a
  * `cdc-field`, `id-columns`, a bucket partition spec and in-stream
  * maintenance. The stream is stepped one micro-batch at a time: a batch
  * file is moved into the watched directory and `processAllAvailable`
  * waits for its commit. After every commit the benchmark looks up hot
  * keys and runs a scan aggregate, and checks both against a replay of
  * the change stream.
  */
final class CdcStream extends Workload {
  import CdcStream._

  /** Expected state after each batch: lookups (key -> row) and the
    * (count, sum of balance) aggregate; the final state in full. */
  private[sinkbench] val lookups = mutable.ArrayBuffer[Seq[(Long, Option[Acct])]]()
  private[sinkbench] val aggs = mutable.ArrayBuffer[(Long, Long)]()
  private[sinkbench] var finalState = Map.empty[Long, Acct]
  private var query: StreamingQuery = null

  private def rdir(ctx: Ctx, r: Int) = ctx.dir(s"r$r")
  private def config(dir: File) = EngineConfig(
    warehouse = new File(dir, "wh").getPath,
    tables = Seq(TableConfig("accounts", idColumns = Seq("id"), partitionBy = Seq(s"bucket(id,$Buckets)"))),
    cdcField = Some("_cdc.op"), autoCreate = true)
  private def path(dir: File) = Ingest.tablePath(config(dir), "accounts")

  def generate(ctx: Ctx): Unit = {
    val in = ctx.dir("in"); in.mkdirs()
    val rnd = new scala.util.Random(ctx.seed)
    val zipf = new Zipf(Keys, ZipfS, rnd)
    val state = mutable.Map[Long, Acct]()
    var ts = 1700000000000L
    def write(name: String, n: Int): Unit = {
      val w = new java.io.PrintWriter(new File(in, name), "UTF-8")
      try for (_ <- 0 until n) {
        val k = zipf.next()
        ts += 1
        val line = state.get(k) match {
          case None =>
            val a = Acct(s"user$k", rnd.nextInt(100000).toLong, 1L)
            state(k) = a
            envelope("c", None, Some(k -> a), ts)
          case Some(old) if rnd.nextDouble() < DeleteShare =>
            state.remove(k)
            envelope("d", Some(k -> old), None, ts)
          case Some(old) =>
            val a = old.copy(balance = rnd.nextInt(100000).toLong, version = old.version + 1)
            state(k) = a
            envelope("u", Some(k -> old), Some(k -> a), ts)
        }
        w.println(line)
      } finally w.close()
      lookups += Seq.fill(LookupsPerBatch)(zipf.next()).map(k => k -> state.get(k))
      aggs += ((state.size.toLong, state.values.map(_.balance).sum))
    }
    for (b <- 0 until Batches) write(s"batch-$b.json", EventsPerBatch)
    finalState = state.toMap
  }

  private def envelope(op: String, before: Option[(Long, Acct)], after: Option[(Long, Acct)],
      ts: Long): String = {
    def row(x: Option[(Long, Acct)]) = x.fold("null") { case (k, a) =>
      s"""{"id":$k,"name":"${a.name}","balance":${a.balance},"version":${a.version}}""" }
    s"""{"op":"$op","before":${row(before)},"after":${row(after)},""" +
      s""""source":{"db":"shop","table":"accounts"},"ts_ms":$ts}"""
  }

  private def start(ctx: Ctx, dir: File): StreamingQuery = {
    val src = new File(dir, "src"); src.mkdirs()
    val source = ctx.spark.readStream.schema(EnvelopeSchema)
      .option("maxFilesPerTrigger", 1).json(src.getPath)
    IngestStream.start(source, config(dir), new File(dir, "ckpt").getPath,
      transforms = Seq(Transforms.debezium() _), triggerMs = Some(0L),
      maintenanceDeltaCommits = Some(MaintenanceDeltaCommits))
  }

  def setupRound(ctx: Ctx, r: Int): Unit = {
    val dir = rdir(ctx, r)
    FileSource.stage(ctx, dir, (0 until Batches).map(b => s"batch-$b.json"))
    query = start(ctx, dir)
  }

  def runRound(ctx: Ctx, r: Int): Unit = {
    val dir = rdir(ctx, r)
    val p = path(dir)
    for (b <- 0 until Batches) {
      ctx.meter.ingest(EventsPerBatch) {
        ctx.tracer.step(ctx.stepIndex, "streaming.step") {
          FileSource.step(dir, s"batch-$b.json", query)
        }
      }
      ctx.stepIndex += 1
      lookups(b).foreach { case (k, want) =>
        val bucket = IcebergBucket(Literal(k), Buckets).eval(null).toString
        Probe.point(ctx, p, pred = Some(m => m.get("id_bucket").forall(_ == bucket)),
          filePred = None, key = col("id") === k) { rows =>
          val got = rows.map(x => Acct(x.getAs[String]("name"), x.getAs[Long]("balance"),
            x.getAs[Long]("version"))).toSeq
          ctx.meter.check(lookupError(k, want, got).map(e => s"round $r batch $b: $e"))
        }
      }
      Probe.scan(ctx, p, "balance") { (cnt, sum) =>
        ctx.meter.check(aggError((cnt, sum), aggs(b)).map(e => s"round $r batch $b: $e"))
      }
    }
  }

  def endRound(ctx: Ctx, r: Int, full: Boolean): (Long, Long) = {
    query.stop()
    val dir = rdir(ctx, r)
    Probe.account(ctx, Seq(path(dir)))
    if (full) {
      val got = IceTable.load(path(dir)).read(ctx.spark)
        .select("id", "name", "balance", "version").collect()
        .map(x => x.getLong(0) -> Acct(x.getString(1), x.getLong(2), x.getLong(3)))
      ctx.meter.check(finalError(got.toSeq, finalState))
    }
    (Stats.dirBytes(new File(config(dir).warehouse)), finalState.size.toLong)
  }
}

object CdcStream {
  val Keys = 2000
  val ZipfS = 1.1
  val DeleteShare = 0.15
  val EventsPerBatch = 300
  val Batches = 6
  val LookupsPerBatch = 2
  val Buckets = 4
  val MaintenanceDeltaCommits = 3

  final case class Acct(name: String, balance: Long, version: Long)

  /** A looked-up key must show exactly its replayed state: one row, or
    * none once deleted. */
  def lookupError(k: Long, want: Option[Acct], got: Seq[Acct]): Option[String] =
    if (got == want.toSeq) None else Some(s"lookup of $k: $got, want ${want.toSeq}")

  def aggError(got: (Long, Long), want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"scan (count, sum): $got, want $want")

  /** The final table must equal the replayed state, one row per key. */
  def finalError(got: Seq[(Long, Acct)], want: Map[Long, Acct]): Option[String] = {
    val dups = got.size - got.map(_._1).distinct.size
    if (dups == 0 && got.toMap == want) None
    else Some(s"final table: ${got.size} rows ($dups duplicate keys), want ${want.size}; differing keys " +
      (got.toSet.diff(want.toSet) ++ want.toSet.diff(got.toSet)).map(_._1).take(5).mkString(","))
  }

  private val Row = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
    StructField("balance", LongType), StructField("version", LongType)))
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("before", Row), StructField("after", Row),
    StructField("source", StructType(Seq(StructField("db", StringType), StructField("table", StringType)))),
    StructField("ts_ms", LongType)))
}

/** Zipf(s) over keys 1..n by rank, ranks shuffled onto keys by the seed. */
final class Zipf(n: Int, s: Double, rnd: scala.util.Random) {
  private val keys = rnd.shuffle((1 to n).map(_.toLong)).toArray
  private val cdf = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Long = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    keys(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
}
