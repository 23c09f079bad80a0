package graft.transforms

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden input→output assertions mirroring the reference SMT tests
  * (`transforms/DebeziumTransformTest`, `DmsTransformTest`,
  * `KafkaMetadataTransformTest`, `CopyValueTest`).
  */
class TransformsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("debezium: op mapping, payload selection, source/target derivation") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  ('u', named_struct('id', 1, 'v', 'old'), named_struct('id', 1, 'v', 'new'),
        |   named_struct('db', 'mydb', 'table', 'tbl'), CAST(1684408953000 AS LONG)),
        |  ('d', named_struct('id', 2, 'v', 'gone'), CAST(NULL AS STRUCT<id:INT, v:STRING>),
        |   named_struct('db', 'mydb', 'table', 'tbl'), CAST(1684408953000 AS LONG)),
        |  ('c', CAST(NULL AS STRUCT<id:INT, v:STRING>), named_struct('id', 3, 'v', 'ins'),
        |   named_struct('db', 'mydb', 'table', 'tbl'), CAST(1684408953000 AS LONG))
        |AS t(op, before, after, source, ts_ms)""".stripMargin)
    val out = Transforms.debezium()(df)
      .select(col("id"), col("v"), col("_cdc.op"), col("_cdc.source"), col("_cdc.target"))
      .orderBy("id").collect()
    assert(out(0).getInt(0) === 1 && out(0).getString(1) === "new" && out(0).getString(2) === "U")
    assert(out(1).getInt(0) === 2 && out(1).getString(1) === "gone" && out(1).getString(2) === "D")
    assert(out(2).getInt(0) === 3 && out(2).getString(2) === "I")
    assert(out(0).getString(3) === "mydb.tbl" && out(0).getString(4) === "mydb.tbl")
  }

  test("debezium/dms: a payload field NAME containing a dot flattens as one column") {
    // quoted source identifiers (Postgres \"a.b\") arrive as literal
    // dotted field names; a string path col(\"__payload.a.b\") would parse
    // as nesting and fail analysis every batch
    val df = spark.sql(
      """SELECT 'c' AS op,
        |  CAST(NULL AS STRUCT<`a.b`: INT>) AS before,
        |  named_struct('a.b', 7) AS after,
        |  named_struct('db', 'd', 'table', 't') AS source,
        |  CAST(1000 AS LONG) AS ts_ms""".stripMargin)
    val out = Transforms.debezium()(df).select(col("`a.b`")).head()
    assert(out.getInt(0) === 7)
    val dmsDf = spark.sql(
      """SELECT named_struct('a.b', 9) AS data,
        |  named_struct('operation', 'insert', 'timestamp', '2023-01-01',
        |    'schema-name', 's', 'table-name', 't') AS metadata""".stripMargin)
    val dmsOut = Transforms.dms()(dmsDf).select(col("`a.b`")).head()
    assert(dmsOut.getInt(0) === 9)
  }

  test("debezium: cdc.target.pattern placeholders and schema-over-db preference") {
    val df = spark.sql(
      """SELECT 'u' AS op,
        |  named_struct('id', 1) AS before, named_struct('id', 1) AS after,
        |  named_struct('db', 'ignored', 'schema', 'public', 'table', 'users') AS source,
        |  CAST(0 AS LONG) AS ts_ms""".stripMargin)
    val out = Transforms.debezium(Some("lake_{db}.{table}_v2"))(df)
      .select(col("_cdc.source"), col("_cdc.target")).head()
    assert(out.getString(0) === "public.users")
    assert(out.getString(1) === "lake_public.users_v2")
  }

  test("dms: promotes data.*, maps operation names (DmsTransform.java:47-93)") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (named_struct('id', 1, 'v', 'a'),
        |   named_struct('operation', 'update', 'timestamp', '2023-01-01T00:00:00Z',
        |                'schema-name', 's', 'table-name', 't'))
        |AS x(data, metadata)""".stripMargin)
    val out = Transforms.dms()(df)
      .select(col("id"), col("v"), col("_cdc.op"), col("_cdc.source")).head()
    assert(out.getInt(0) === 1 && out.getString(1) === "a")
    assert(out.getString(2) === "U" && out.getString(3) === "s.t")
  }

  test("kafka metadata: nested and flattened modes (C10)") {
    val df = Seq((1L, "t", 0, 5L, 99L)).toDF("id", "topic", "partition", "offset", "timestamp")
    val nested = Transforms.kafkaMetadata(nested = true)(df)
    assert(nested.select(col("_kafka_metadata.offset")).head().getLong(0) === 5L)
    val flat = Transforms.kafkaMetadata(nested = false, keyName = "_m",
      externalField = Some(("cluster", "c1")))(df)
    val r = flat.select("_m_topic", "_m_offset", "_m_cluster").head()
    assert(r.getString(0) === "t" && r.getLong(1) === 5L && r.getString(2) === "c1")
  }

  test("copy value works through dot paths (C9/R4)") {
    val df = spark.sql("SELECT named_struct('b', named_struct('c', 42)) AS a")
    val out = Transforms.copyValue("a.b.c", "flat")(df)
    assert(out.select("flat").head().getInt(0) === 42)
  }

  test("jsonExpand infers types (integral→long) and jsonToMap yields string map (C7)") {
    val df = Seq((1L, """{"k": 87, "s": "x"}""")).toDF("id", "props")
    val out = Transforms.jsonToMap("props")(Transforms.jsonExpand("props")(df))
    val r = out.select(col("k"), col("s"), col("payload")("k")).head()
    assert(r.getLong(0) === 87L && r.getString(1) === "x" && r.getString(2) === "87")
  }

  test("jsonExpand's sample is the first inferLimit records in partition order, read by one task") {
    // four partitions of 50 records; "late" first appears at record 120
    val acc = spark.sparkContext.longAccumulator("records read")
    val read = udf((id: Long) => { acc.add(1); id })
    val df = spark.range(0, 200, 1, 4).select(read(col("id")).as("id"))
      .withColumn("j", when(col("id") < 120, format_string("{\"a\":%d}", col("id")))
        .otherwise(format_string("{\"a\":%d,\"late\":1}", col("id"))))
    val sample = Transforms.firstRows(df, 60)
    assert(sample.rdd.getNumPartitions === 1)
    assert(sample.collect().toSeq === df.take(60).toSeq)
    acc.reset()
    sample.count()
    assert(acc.value <= 100L, "partitions past the 60th record were read")
    assert(!Transforms.jsonExpand("j", inferLimit = 120)(df).columns.contains("late"))
    assert(Transforms.jsonExpand("j", inferLimit = 121)(df).columns.contains("late"))
  }

  test("jsonExpand heterogeneous-array rules vs JsonToMapUtils.arraySchema (C7 edge)") {
    import org.apache.spark.sql.types._
    val df = Seq(
      (1L, """{"mixed": [1, "x"], "nums": [1, 2.5], "objs": [{"a": 1}, {"a": 2}]}"""),
      (2L, """{"mixed": ["y"], "nums": [3], "objs": [{"a": 3}]}""")
    ).toDF("id", "props")
    val out = Transforms.jsonExpand("props")(df)
    val s = out.schema
    // mixed scalar types → array<string> (same as the reference's
    // inconsistent-types fallback, JsonToMapUtils.java:136-142)
    assert(s("mixed").dataType === ArrayType(StringType, containsNull = true))
    // PINNED DIVERGENCE: int+double unify to array<double> here (Spark's
    // numeric widening); the reference treats IntNode/DoubleNode as
    // inconsistent and stringifies (arrayNodeType:182-198). Strictly more
    // typed on our side — documented, not hidden.
    assert(s("nums").dataType === ArrayType(DoubleType, containsNull = true))
    // consistent objects stay structured (reference maps them to
    // map<string,string>; we keep the inferred struct, again more typed)
    assert(s("objs").dataType.isInstanceOf[ArrayType] &&
      s("objs").dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType])
    val r = out.orderBy("id").select("mixed", "nums").head()
    assert(r.getSeq[String](0) === Seq("1", "x"))
    assert(r.getSeq[Double](1) === Seq(1.0, 2.5))
  }

  test("debezium target pattern is literal-substituted ('$' in db name must not throw)") {
    val df = spark.sql(
      """SELECT 'u' AS op, named_struct('id', 1) AS before, named_struct('id', 2) AS after,
        |  named_struct('db', 'corp$audit', 'table', 'users') AS source,
        |  CAST(0 AS LONG) AS ts_ms""".stripMargin)
    val out = Transforms.debezium(Some("lake_{db}.{table}"))(df)
      .select(col("_cdc.target")).head()
    assert(out.getString(0) === "lake_corp$audit.users")
  }

  test("jsonExpand: payload field replaces a same-named column; dotted keys stay one field") {
    val df = Seq((7L, "orig", """{"value": "payload-wins", "a.b": 5}""")).toDF("id", "value", "props")
    val out = Transforms.jsonExpand("props")(df)
    // exactly one 'value' column (the payload's) — two would make every
    // downstream col("value") ambiguous
    assert(out.columns.count(_ == "value") === 1)
    val r = out.select(col("id"), col("value"), col("`a.b`")).head()
    assert(r.getLong(0) === 7L && r.getString(1) === "payload-wins" && r.getLong(2) === 5L)
    // a SECOND expand over a frame that already carries a dotted column
    // must re-select it literally, not parse it as a nested path
    val out2 = Transforms.jsonExpand("props")(out.withColumn("props", lit("""{"k": 1}""")))
    val r2 = out2.select(col("`a.b`"), col("k")).head()
    assert(r2.getLong(0) === 5L && r2.getLong(1) === 1L)
  }

  test("fromConfig kafka metadata: reference `nested` key, default FALSE (flattened)") {
    val df = Seq((1L, "t", 0, 5L, 99L)).toDF("id", "topic", "partition", "offset", "timestamp")
    def build(extra: (String, String)*) = Transforms.fromConfig(Map(
      "transforms" -> "km",
      "transforms.km.type" -> "o.a.KafkaMetadataTransform") ++ extra.map {
      case (k, v) => s"transforms.km.$k" -> v
    }).head(df)
    // default: flattened prefix columns (KafkaMetadataTransform.java:109-113)
    assert(build().columns.contains("_kafka_metadata_topic"))
    // nested=true opts into the struct — independent of field_name
    assert(build("nested" -> "true").schema("_kafka_metadata").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(build("nested" -> "true", "field_name" -> "_m").columns.contains("_m"))
    assert(build("field_name" -> "_m").columns.contains("_m_topic"))
  }

  test("config-driven transform registry composes an SMT chain (§2.9)") {
    val props = Map(
      "transforms" -> "cv",
      "transforms.cv.type" -> "io.tabular.iceberg.connect.transforms.CopyValue",
      "transforms.cv.source.field" -> "a",
      "transforms.cv.target.field" -> "b")
    val chain = Transforms.fromConfig(props)
    val out = chain.foldLeft(Seq((1, "x")).toDF("id", "a"))((d, t) => t(d))
    assert(out.select("b").head().getString(0) === "x")
  }
}
