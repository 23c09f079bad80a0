package graft.sinkbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.config.EngineConfig
import graft.functions.IcebergBucket
import graft.sink.Ingest
import graft.table.{FilePruning, IceTable}
import graft.transforms.Transforms

/** `backfill_fanout`: large Kafka-shaped JSON batches through `Ingest.run`
  * with the SMT chain (JSON expand, then Kafka metadata), dynamically
  * routed on a skewed `type` field to auto-created tables partitioned by
  * `day(ts), bucket(id, 4)`. Partway through, an optional `coupon` field
  * appears and the Kafka key widens from int to long. A read phase follows
  * the ingest steps of every round.
  */
final class Backfill extends Workload {
  import Backfill._

  private[sinkbench] val model = new Model
  private var lookups = IndexedSeq.empty[Rec]
  private var floorBefore: Option[String] = None
  private var floorAfter: Option[String] = None
  private def wh(ctx: Ctx, r: Int) = new File(ctx.dir(s"r$r"), "wh")
  private def config(dir: File) = EngineConfig(
    warehouse = dir.getPath, routeField = Some("type"), dynamicRouting = true,
    autoCreate = true, evolveSchema = true, defaultPartitionBy = Seq("day(ts)", s"bucket(id,$Buckets)"))
  private val smt: Seq[DataFrame => DataFrame] =
    Seq(Transforms.jsonExpand("value") _, Transforms.kafkaMetadata(nested = false) _)

  def generate(ctx: Ctx): Unit = {
    val in = ctx.dir("in"); in.mkdirs()
    val rnd = new scala.util.Random(ctx.seed)
    val offsets = Array.fill(Partitions)(0L)
    var n = 0L
    for (b <- 0 until Batches) {
      val w = new java.io.PrintWriter(new File(in, s"batch-$b.json"), "UTF-8")
      try for (_ <- 0 until RowsPerBatch) {
        val rec = Rec(id = (if (b < WidenAt) IntIds else LongIds) + n, tpe = pickType(rnd),
          day = 1 + rnd.nextInt(Days), amount = 1L + rnd.nextInt(10000))
        n += 1
        val p = rnd.nextInt(Partitions)
        w.println(line(rec, b, p, offsets(p), rnd))
        offsets(p) += 1
        model.add(rec, b)
      } finally w.close()
      model.batchOffsets += (0 until Partitions).map(p => s"$Topic-$p" -> offsets(p)).toMap
    }
    val all = model.byType.values.flatMap(_.recs).toIndexedSeq.sortBy(_.id)
    lookups = IndexedSeq.fill(Lookups)(all(rnd.nextInt(all.size)))
  }

  private def pickType(rnd: scala.util.Random): String = {
    var x = rnd.nextInt(TypeWeights.map(_._2).sum)
    TypeWeights.find { case (_, w) => x -= w; x < 0 }.get._1
  }

  private def line(r: Rec, b: Int, p: Int, offset: Long, rnd: scala.util.Random): String = {
    val ts = f"2024-03-${r.day}%02d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
    val coupon =
      if (b >= CouponAt && rnd.nextBoolean()) s""","coupon":"C${rnd.nextInt(1000)}"""" else ""
    val value = s"""{"id":${r.id},"type":"${r.tpe}","ts":"$ts","amount":${r.amount},""" +
      s""""qty":${1 + rnd.nextInt(20)},"note":"n${rnd.nextInt(5000)}"$coupon}"""
    s"""{"key":${r.id},"value":${Stats.jsonString(value)},"topic":"$Topic","partition":$p,""" +
      s""""offset":$offset,"timestamp":"${ts.replace(' ', 'T')}.000Z"}"""
  }

  private def batchFrame(ctx: Ctx, file: File, b: Int): DataFrame =
    ctx.spark.read.schema(kafkaSchema(if (b < WidenAt) IntegerType else LongType)).json(file.getPath)

  def setupRound(ctx: Ctx, r: Int): Unit = wh(ctx, r).mkdirs()

  def runRound(ctx: Ctx, r: Int): Unit = {
    val cfg = config(wh(ctx, r))
    // the session's AQE coalesce floor, before and after the first ingest
    // phase of the process (it is read, never reset)
    if (r < 0) floorBefore = ctx.spark.conf.getOption(AqeFloorKey)
    // the warm-up round (r < 0) ingests a prefix and leaves reads unchecked
    for (b <- 0 until (if (r < 0) WarmBatches else Batches)) {
      val file = new File(ctx.dir("in"), s"batch-$b.json")
      ctx.meter.ingest(RowsPerBatch) {
        ctx.tracer.step(ctx.stepIndex, "sink.ingest") {
          Ingest.run(ctx.spark, batchFrame(ctx, file, b), b.toLong, cfg, smt)
        }
      }
      ctx.stepIndex += 1
    }
    if (r < 0) floorAfter = ctx.spark.conf.getOption(AqeFloorKey)

    // read phase: point lookups through partition + stats pruning, then
    // a count + sum aggregate of every table
    lookups.foreach { rec =>
      val day = f"2024-03-${rec.day}%02d"
      val bucket = IcebergBucket(Literal(rec.id), Buckets).eval(null).toString
      Probe.point(ctx, Ingest.tablePath(cfg, rec.tpe),
        pred = Some(p => p.get("ts_day").forall(_ == day) && p.get("id_bucket").forall(_ == bucket)),
        filePred = Some(f => FilePruning.mayContainRange(f, "id", Some(rec.id.toString), Some(rec.id.toString))),
        key = col("id") === rec.id) { rows =>
        if (r >= 0)
          ctx.meter.check(lookupError(rec, rows.map(_.getAs[Long]("amount")).toSeq).map(e => s"round $r: $e"))
      }
    }
    for (_ <- 0 until ScansPerTable; (tpe, _) <- TypeWeights) {
      val m = model.byType(tpe)
      Probe.scan(ctx, Ingest.tablePath(cfg, tpe), "amount") { (cnt, sum) =>
        if (r >= 0) ctx.meter.check(countSumError(tpe, m, cnt, sum).map(e => s"round $r: $e"))
      }
    }
  }

  def endRound(ctx: Ctx, r: Int, full: Boolean): (Long, Long) = {
    val cfg = config(wh(ctx, r))
    val paths = TypeWeights.map(t => Ingest.tablePath(cfg, t._1))
    Probe.account(ctx, paths)
    if (full) {
      val tables = new File(cfg.warehouse).list().toSet
      ctx.meter.check(if (tables == TypeWeights.map(_._1).toSet) None else Some(s"tables created: $tables"))
      for ((tpe, _) <- TypeWeights; path = Ingest.tablePath(cfg, tpe) if IceTable.exists(path)) {
        val t = IceTable.load(path)
        val m = model.byType(tpe)
        ctx.meter.check(idsError(tpe, m, t.read(ctx.spark).select("id").collect().map(_.getLong(0))))
        ctx.meter.check(schemaError(tpe, t.schema))
        val last = t.log.commits().filterNot(_.props.contains("compaction")).last
        ctx.meter.check(offsetsError(tpe, last.offsets, model.batchOffsets(m.lastBatch)))
      }
    }
    (Stats.dirBytes(new File(cfg.warehouse)), model.byType.values.map(_.recs.size.toLong).sum)
  }

  override def notes: Seq[String] =
    if (floorBefore == floorAfter) Nil
    else Seq(s"$AqeFloorKey was ${floorBefore.getOrElse("unset")} before the ingest phase " +
      s"and ${floorAfter.getOrElse("unset")} after it")
}

object Backfill {
  val TypeWeights = Seq("orders" -> 50, "clicks" -> 25, "views" -> 15, "refunds" -> 10)
  val Batches = 4
  /** The warm-up round's prefix: both key types, with and without coupon. */
  val WarmBatches = 3
  val RowsPerBatch = 12000
  /** First batch whose Kafka key is a long (ids past the int range). */
  val WidenAt = 2
  /** First batch whose records may carry the optional `coupon` field. */
  val CouponAt = 1
  val Partitions = 4
  val Days = 3
  val Buckets = 4
  val Lookups = 8
  val ScansPerTable = 1
  val Topic = "events"
  val IntIds = 1000000L
  val LongIds = 3000000000L
  val AqeFloorKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  final case class Rec(id: Long, tpe: String, day: Int, amount: Long)

  /** Plain-Scala model of the generated records, per routed table. */
  final class TableModel {
    val recs = mutable.ArrayBuffer[Rec]()
    var sum = 0L
    var lastBatch = -1
  }
  final class Model {
    val byType = mutable.LinkedHashMap[String, TableModel]()
    val batchOffsets = mutable.ArrayBuffer[Map[String, Long]]()
    def add(r: Rec, b: Int): Unit = {
      val m = byType.getOrElseUpdate(r.tpe, new TableModel)
      m.recs += r; m.sum += r.amount; m.lastBatch = b
    }
  }

  def lookupError(rec: Rec, amounts: Seq[Long]): Option[String] =
    if (amounts == Seq(rec.amount)) None
    else Some(s"lookup of ${rec.tpe} id ${rec.id}: amounts $amounts, want ${rec.amount}")

  def countSumError(tpe: String, m: TableModel, cnt: Long, sum: Long): Option[String] =
    if (cnt == m.recs.size && sum == m.sum) None
    else Some(s"scan of $tpe: ($cnt, $sum), want (${m.recs.size}, ${m.sum})")

  /** The table's ids must be the routed records' ids, each once. */
  def idsError(tpe: String, m: TableModel, ids: Array[Long]): Option[String] = {
    val want = m.recs.map(_.id).toArray.sorted
    val got = ids.sorted
    if (got.sameElements(want)) None
    else Some(s"$tpe: ${got.length} ids, want ${want.length}; differing " +
      (got.diff(want) ++ want.diff(got)).take(3).mkString(","))
  }

  def schemaError(tpe: String, schema: StructType): Option[String] = {
    val got = schema.fields.map(f => f.name -> f.dataType).toMap
    if (got == ExpectedSchema) None
    else Some(s"$tpe schema ${schema.simpleString}, want ${ExpectedSchema.toSeq.sortBy(_._1)}")
  }

  def offsetsError(tpe: String, got: Map[String, Long], want: Map[String, Long]): Option[String] =
    if (got == want) None else Some(s"$tpe last commit offsets $got, want $want")

  def kafkaSchema(keyType: DataType): StructType = StructType(Seq(
    StructField("key", keyType), StructField("value", StringType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType)))

  /** The table schema after every batch: the Kafka columns (key widened to
    * long), the JSON fields as JSON typing gives them (integral -> long),
    * the added optional `coupon`, and the flattened Kafka metadata. */
  val ExpectedSchema: Map[String, DataType] = Map(
    "key" -> LongType, "value" -> StringType, "topic" -> StringType,
    "partition" -> IntegerType, "offset" -> LongType, "timestamp" -> TimestampType,
    "id" -> LongType, "type" -> StringType, "ts" -> StringType, "amount" -> LongType,
    "qty" -> LongType, "note" -> StringType, "coupon" -> StringType,
    "_kafka_metadata_topic" -> StringType, "_kafka_metadata_partition" -> IntegerType,
    "_kafka_metadata_offset" -> LongType, "_kafka_metadata_timestamp" -> TimestampType)
}
