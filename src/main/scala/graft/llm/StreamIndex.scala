package graft.llm

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, posexplode, udf}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** A persisted near-dup index as the streaming dedup shell
  * ([[graft.streaming.DedupStream]]) drives it, bound to one stream's
  * columns, threshold and cached meta. [[LshIndex]] and [[EmbIndex]] both
  * keep a bucket table (id, slot, key, src_batch, batch), one row per band
  * or hyperplane table, and a payload table (id, payload, src_batch,
  * batch) of exact-verify shingle sets or normalized vectors; `P` is the
  * payload's driver-side verify form. Driver arm: [[features]], [[probe]],
  * [[fetch]] (index scans filtered by a broadcast key set: no join, so no
  * broadcast job), [[similar]], [[foldRows]]. Distributed arm: [[prepare]],
  * then the index's scale paths [[crossDups]], [[withinPairs]], [[append]].
  */
private[graft] abstract class StreamIndex[P](
    val spark: SparkSession,
    tables: (String, String), // bucket and payload table paths
    schemas: (StructType, StructType),
    compactedThrough: Long) {
  import StreamIndex._
  override def toString: String = tables._1.stripSuffix("/buckets.parquet")

  /** `batch` plus FeatId (id as long), FeatX (payload; null for a row the
    * index can never hold — a pass-through survivor) and FeatKeys (key
    * per slot; null when the payload cannot be signed). */
  def features(batch: DataFrame): DataFrame
  /** Estimated broadcast bytes of one payload: the probe gate's byte arm. */
  def payloadBytes(x: Column): Column
  /** False when bucket hits alone cannot answer a probe. */
  def driverArm: Boolean
  /** Within-batch buckets past this size become star edges from the min
    * id (0 = all pairs): the distributed pair search's rule. */
  def groupCap: Int
  def verifyForm(x: Any): P
  /** Exact verdict, arithmetic identical to the Spark-side verify. */
  def similar(a: P, b: P): Boolean

  /** The distributed arm's input: the pinned batch's rows with non-null
    * ids, in whatever form the three calls below read. */
  def prepare(batch: DataFrame): DataFrame
  /** (id_new) of rows near-duplicating the index, batch `batchId`'s own
    * rows excluded. */
  def crossDups(prepared: DataFrame, batchId: Long): DataFrame
  /** (id_a, id_b) near-duplicate pairs within `prepared`. */
  def withinPairs(prepared: DataFrame): DataFrame
  /** Replay-safe fold of the surviving `prepared` rows. */
  def append(survivors: DataFrame, batchId: Long): Unit
  def compact(upToBatch: Long): Unit

  /** Bucket rows (slot, key, id, src_batch, batch) matching `keys`; None
    * past `limits`' rows. */
  final def probe(keys: Set[(Int, Long)], limits: (Long, Long)): Option[Array[Row]] = {
    val names = schemas._1.fieldNames
    val bc = spark.sparkContext.broadcast(keys)
    try collectBounded(read(spark, tables._1, schemas._1)
      .filter(udf((s: Int, k: Long) => bc.value((s, k))).apply(col(names(1)), col(names(2))))
      .select(names(1), names(2), "id", "src_batch", "batch"), lit(0L), limits)
    finally bc.destroy()
  }

  /** Payload rows (id, payload, src_batch, batch) of `ids`; None past
    * `limits` in rows or estimated payload bytes. */
  final def fetch(ids: Set[Long], limits: (Long, Long)): Option[Array[Row]] = {
    val bc = spark.sparkContext.broadcast(ids)
    try collectBounded(read(spark, tables._2, schemas._2)
      .filter(udf((id: Long) => bc.value(id)).apply(col("id"))),
      payloadBytes(col(schemas._2.fieldNames(1))), limits)
    finally bc.destroy()
  }

  /** Writes batch `batchId`'s index rows from `feats` (FeatId, FeatX,
    * FeatKeys, src_batch, batch) through [[writeBatch]]; keyless rows
    * are never indexed. At or below the compaction watermark the batch is
    * already folded. */
  final def fold(feats: DataFrame, batchId: Long): Unit = if (batchId > compactedThrough) {
    val keyed = feats.filter(col(FeatKeys).isNotNull)
    val batchCols = Seq(col("src_batch"), col("batch"))
    writeBatch(spark, batchId)(
      tables._1 -> keyed.select(col(FeatId).as("id") +: posexplode(col(FeatKeys))
        .as(schemas._1.fieldNames.slice(1, 3).toSeq) +: batchCols: _*),
      tables._2 -> keyed.select(col(FeatId).as("id") +: col(FeatX).as(schemas._2.fieldNames(1)) +:
        batchCols: _*))
  }

  /** [[fold]] from driver rows (id, payload, keys or null), the batch id
    * carried as data, not as a plan literal. */
  def foldRows(rows: Seq[Row], batchId: Long): Unit =
    fold(spark.createDataFrame(
      rows.map(r => Row(r.get(0), r.get(1), r.get(2), batchId, batchId)).asJava,
      StructType(Seq(StructField(FeatId, LongType), schemas._2.fields(1).copy(name = FeatX),
        StructField(FeatKeys, ArrayType(LongType)), StructField("src_batch", LongType),
        StructField("batch", LongType)))), batchId)
}

private[graft] object StreamIndex {
  /** `batch` partition value for the base build and plain appends. */
  val BaseBatch = -1L

  /** The shared layout's (bucket, payload) table schemas: (id, <slot>,
    * <key>, src_batch, batch) and (id, <payload>, src_batch, batch). */
  def schemas(slot: String, key: String, payload: StructField): (StructType, StructType) = {
    def table(fields: StructField*) = StructType(StructField("id", LongType) +: fields :+
      StructField("src_batch", LongType) :+ StructField("batch", LongType))
    (table(StructField(slot, IntegerType), StructField(key, LongType)), table(payload))
  }

  val FeatId = "__graft_feat_id"
  val FeatX = "__graft_feat_x"
  val FeatKeys = "__graft_feat_keys"

  /** One index table. The schema is explicit: a partition dir with zero
    * data files (an empty build) must read as an empty frame, not fail
    * schema inference. */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(table)

  /** `df` without writer batch `b`'s rows, live or compaction-folded. */
  def visible(df: DataFrame, b: Option[Long]): DataFrame =
    b.fold(df)(b => df.filter(col("batch") =!= b && col("src_batch") =!= b))

  /** `df` tagged with writer batch `b` as `src_batch` and `batch`. */
  def tagged(df: DataFrame, b: Long): DataFrame =
    df.withColumn("src_batch", lit(b)).withColumn("batch", lit(b))

  /** `df`'s rows in one job, or None past `limits` = (rows, sum of the
    * long `weight` per row). Each task stops reading at either bound and
    * the driver drops what it holds once the totals pass one, so it never
    * holds more than two bounds' worth, whatever `df` would return. */
  def collectBounded(df: DataFrame, weight: Column, limits: (Long, Long)): Option[Array[Row]] = {
    val (maxRows, maxWeight) = limits
    val rdd = df.withColumn("__graft_weight", weight).rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    var (rows, total, over) = (0L, 0L, false)
    def weightOf(r: Row): Long = r.getLong(r.length - 1)
    df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      val out = mutable.ArrayBuffer.empty[Row]
      var w = 0L
      while (it.hasNext && out.size <= maxRows && w <= maxWeight) {
        val r = it.next(); w += r.getLong(r.length - 1); out += r
      }
      if (out.size > maxRows || w > maxWeight) null else out.toArray
    }, (i: Int, part: Array[Row]) => if (!over) {
      if (part == null) over = true
      else { rows += part.length; total += part.iterator.map(weightOf).sum; parts(i) = part }
      if (over || rows > maxRows || total > maxWeight) {
        over = true
        java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
      }
    })
    if (over) None else Some(parts.flatten.map(r => Row.fromSeq(r.toSeq.init)))
  }

  /** Appends writer batch `batchId`'s frames (tagged with the batch) per
    * table in order: buckets first, so a crash between the tables costs
    * recall, never stale verify rows. With `replace` — the replay-safe
    * fold — each table's `batch=<batchId>` partition is deleted first: an
    * explicit delete, not dynamic partition overwrite, which only touches
    * partitions PRESENT in the output, so a replay computing fewer or zero
    * rows would leave the first attempt's stale rows alive. */
  def writeBatch(spark: SparkSession, batchId: Long, replace: Boolean = true)(
      tables: (String, DataFrame)*): Unit =
    for ((table, rows) <- tables) {
      val p = new org.apache.hadoop.fs.Path(s"$table/batch=$batchId")
      if (replace) p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      rows.write.mode("append").partitionBy("batch").parquet(table)
    }
}
