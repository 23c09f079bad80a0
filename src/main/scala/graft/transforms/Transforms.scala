package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SMT-parity record transforms (§2.3): the reference's per-record
  * `Transformation<R>` operators re-expressed as `DataFrame => DataFrame`
  * stages (declarative, codegen'd, registry-composable).
  */
object Transforms {

  /** Records sampled for JSON schema inference per batch (see
    * [[jsonExpand]]); 0 or negative = unbounded exact inference. */
  val DefaultJsonInferLimit: Int = 4096

  /** C9 — `CopyValue` SMT (`transforms/CopyValue.java:62-110`):
    * `target := source.field` (dot-paths supported via Catalyst nested
    * access, R4 parity with `Utilities.extractFromRecordValue:123-155`).
    */
  def copyValue(sourceField: String, targetField: String)(df: DataFrame): DataFrame =
    df.withColumn(targetField, col(sourceField))

  /** C10 — `KafkaMetadataTransform`
    * (`transforms/KafkaMetadataTransform.java:121-295`): append
    * topic/partition/offset/timestamp (+ optional static external field),
    * either nested under `_kafka_metadata` or flattened with a prefix.
    */
  def kafkaMetadata(
      nested: Boolean = true,
      keyName: String = "_kafka_metadata",
      externalField: Option[(String, String)] = None
  )(df: DataFrame): DataFrame = {
    if (nested) {
      val named = Seq(
        col("topic").as("topic"),
        col("partition").as("partition"),
        col("offset").as("offset"),
        col("timestamp").as("timestamp")
      ) ++ externalField.map { case (k, v) => lit(v).as(k) }
      df.withColumn(keyName, struct(named: _*))
    } else {
      val prefixed = df
        .withColumn(s"${keyName}_topic", col("topic"))
        .withColumn(s"${keyName}_partition", col("partition"))
        .withColumn(s"${keyName}_offset", col("offset"))
        .withColumn(s"${keyName}_timestamp", col("timestamp"))
      externalField.fold(prefixed) { case (k, v) =>
        prefixed.withColumn(s"${keyName}_$k", lit(v))
      }
    }
  }

  /** C7 — `JsonToMapTransform` (`transforms/JsonToMapTransform.java:61-129`),
    * map mode (`json.root=true`): the whole JSON value becomes one
    * `Map<String,String>` column named `payload`
    * (`JsonToMapUtils` string-map fallback). With `json.root=false` the
    * reference infers per-field types instead — that is [[jsonExpand]].
    */
  def jsonToMap(jsonCol: String, outCol: String = "payload")(df: DataFrame): DataFrame =
    df.withColumn(outCol, from_json(col(jsonCol), MapType(StringType, StringType)))

  /** C7 — schema-inference mode: per-field typed schema inferred from the
    * batch (driver-side sample pass mirroring `JsonToMapUtils.schemaFromNode
    * :112-198`; Spark's JSON inference applies the same integral→long,
    * fractional→double, object→struct rules as `doInferIcebergType:296-352`).
    * Inferred fields are promoted to top level alongside existing columns.
    *
    * `inferLimit` bounds the inference scan to the first N records
    * (default 4096, [[firstRows]]): fields first appearing later in the
    * batch parse as null for that batch and are picked up by schema
    * evolution on the next one — the bounded-scan trade-off. `inferLimit <= 0` opts into
    * exact whole-batch inference, which is a second FULL scan of the
    * batch every trigger — at cluster scale that doubles every read, so
    * the bounded sample is the default, not the opt-in.
    *
    * IMPORTANT: the late-field pickup depends on schema evolution being
    * ON at the sink (`iceberg.tables.evolve-schema-enabled`). With
    * evolution OFF, a field the sample never sees is projected away on
    * every batch — pipelines that disable evolution AND carry sparse
    * late fields should set `inferLimit = 0` (exact) instead.
    */
  def jsonExpand(jsonCol: String, inferLimit: Int = DefaultJsonInferLimit)(
      df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val base = df.select(col(jsonCol).cast(StringType)).filter(col(jsonCol).isNotNull)
    val sample = if (inferLimit > 0) firstRows(base, inferLimit) else base
    val schema = df.sparkSession.read.json(sample.as[String]).schema
    val cleaned = StructType(schema.fields.filterNot(_.name.startsWith("_corrupt")))
    // the payload IS the record: a promoted field REPLACES a same-named
    // existing column (keeping both would make every downstream
    // col("name") ambiguous); names are backtick-escaped so a JSON key
    // containing '.' stays one field instead of parsing as a nested path
    val promoted = cleaned.fieldNames.toIndexedSeq
    val keep = df.columns.toIndexedSeq
      .filterNot(c => promoted.exists(_.equalsIgnoreCase(c)))
    df.withColumn("__j", from_json(col(jsonCol), cleaned))
      // kept names are backtick-escaped too: an input column named "a.b"
      // (e.g. produced by an EARLIER jsonExpand in the SMT chain) must
      // re-select as a literal column, not parse as a nested path
      .select(keep.map(c => col(s"`$c`")) ++ promoted.map(f => col(s"__j.`$f`").as(f)): _*)
  }

  /** The first `n` rows of `df` in partition order — the rows `take(n)`
    * returns — as a frame that never leaves the executors: one task reads
    * the partitions in turn and stops at the `n`th row. Not `limit(n)`: a
    * codegen'd limit names its counter from a JVM-wide sequence, so every
    * plan carrying one compiles fresh classes on the driver and on the
    * executors, every batch.
    */
  private[graft] def firstRows(df: DataFrame, n: Int): DataFrame =
    df.sparkSession.createDataFrame(df.rdd.coalesce(1).mapPartitions(_.take(n)), df.schema)

  /** Debezium envelope flattener (`transforms/DebeziumTransform.java:75-178`).
    *
    * Input: columns `op`, `before`, `after` (payload structs), `source`
    * (struct), `ts_ms` (+ optional `offset`, `key`). Output: payload
    * promoted to top level + `_cdc` struct {op, ts, offset?, source,
    * target, key?}:
    *  - op: u→U, d→D, else (c/r/…) → I (`mapOperation:168-178`)
    *  - payload = before when DELETE else after (`:80-88`)
    *  - source = db.table; db prefers `source.schema` over `source.db`
    *    (`setTableAndTargetFromSourceStruct:180-193`)
    *  - target = cdcTargetPattern with {db}/{table} placeholders
    *    (`target:209-213`)
    */
  def debezium(cdcTargetPattern: Option[String] = None)(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    val sourceFields = df.schema("source").dataType.asInstanceOf[StructType].fieldNames.toSet
    val db =
      if (sourceFields.contains("schema")) col("source.schema") else col("source.db")
    val tbl = col("source.table")
    val target = cdcTargetPattern match {
      case None | Some("") => concat_ws(".", db, tbl)
      case Some(p) =>
        // literal replace, not regexp_replace: the db/table VALUES are the
        // replacement, and Java regex replacement treats '$'/'\' as group
        // references — a db named "corp$audit" would throw at runtime
        // (the reference uses plain String.replace, DebeziumTransform:209-213)
        replace(replace(lit(p), lit("{db}"), db), lit("{table}"), tbl)
    }
    val opMapped = when(col("op") === "u", "U").when(col("op") === "d", "D").otherwise("I")
    val payload = when(opMapped === "D", col("before")).otherwise(col("after"))
    val cdcFields = Seq(
      opMapped.as("op"),
      timestamp_millis(col("ts_ms").cast(LongType)).as("ts")
    ) ++ (if (cols.contains("offset")) Seq(col("offset").as("offset")) else Nil) ++ Seq(
      concat_ws(".", db, tbl).as("source"),
      target.as("target")
    ) ++ (if (cols.contains("key")) Seq(col("key").as("key")) else Nil)

    val payloadType = df.schema("after").dataType.asInstanceOf[StructType]
    // getField, not a string path: a payload field whose NAME contains a
    // dot (quoted source-table identifiers) must not parse as nesting
    df.withColumn("__payload", payload)
      .withColumn("_cdc", struct(cdcFields: _*))
      .select(
        payloadType.fieldNames.toIndexedSeq
          .map(f => col("__payload").getField(f).as(f)) :+ col("_cdc"): _*
      )
  }

  /** AWS DMS envelope flattener (`transforms/DmsTransform.java:47-93`):
    * promote `data.*`, add `_cdc` {op, ts, source} from `metadata`
    * (operation insert/update/delete → I/U/D, source =
    * schema-name.table-name).
    */
  def dms()(df: DataFrame): DataFrame = {
    val op = when(col("metadata.operation") === "update", "U")
      .when(col("metadata.operation") === "delete", "D")
      .otherwise("I")
    val cdc = struct(
      op.as("op"),
      col("metadata.timestamp").as("ts"),
      concat_ws(".", col("metadata.schema-name"), col("metadata.table-name")).as("source")
    )
    val payloadType = df.schema("data").dataType.asInstanceOf[StructType]
    df.withColumn("_cdc", cdc)
      .select(payloadType.fieldNames.toIndexedSeq
        .map(f => col("data").getField(f).as(f)) :+ col("_cdc"): _*)
  }

  /** Config-driven registry (SMT chain parity: transforms are configured
    * declaratively and applied in order, §2.9).
    */
  def fromConfig(props: Map[String, String]): Seq[DataFrame => DataFrame] = {
    val names = props.getOrElse("transforms", "").split(",").map(_.trim).filter(_.nonEmpty)
    names.toSeq.map { name =>
      def p(k: String) = props.get(s"transforms.$name.$k")
      p("type").getOrElse("") match {
        case t if t.endsWith("CopyValue") =>
          copyValue(p("source.field").get, p("target.field").get) _
        case t if t.endsWith("KafkaMetadataTransform") =>
          kafkaMetadata(
            // reference key `nested`, DEFAULT FALSE (flattened prefix
            // columns; KafkaMetadataTransform.java:109-113) — independent
            // of whether field_name is configured
            nested = p("nested").exists(_.trim.toBoolean),
            keyName = p("field_name").getOrElse("_kafka_metadata"),
            externalField = p("external_field").map { kv =>
              // a clean config error naming the key, not a bare
              // scala.MatchError from a 1-element destructure
              val parts = kv.split(",", 2)
              require(parts.length == 2,
                s"external_field must be 'name,value', got '$kv'")
              (parts(0), parts(1))
            }
          ) _
        case t if t.endsWith("JsonToMapTransform") =>
          if (p("json.root").contains("true")) jsonToMap("value") _
          else
            jsonExpand("value",
              p("json.infer-limit").map(_.toInt).getOrElse(DefaultJsonInferLimit)) _
        case t if t.endsWith("MongoDebeziumTransform") =>
          MongoDebezium.mongoDebezium(
            p("array_handling_mode").getOrElse("array"),
            p("json.infer-limit").map(_.toInt).getOrElse(DefaultJsonInferLimit)) _
        case t if t.endsWith("DebeziumTransform") =>
          debezium(p("cdc.target.pattern")) _
        case t if t.endsWith("DmsTransform") =>
          dms() _
        case other =>
          throw new IllegalArgumentException(s"unknown transform type: $other")
      }
    }
  }
}
