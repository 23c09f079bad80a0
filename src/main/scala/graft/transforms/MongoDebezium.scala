package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** C8 — Debezium-MongoDB envelope flattener
  * (`transforms/MongoDebeziumTransform.java:84-131`, patch merge
  * `:148-190`).
  *
  * Debezium's Mongo connector emits the document as an extended-JSON
  * *string* (`before`/`after`), and partial updates as an
  * `updateDescription` carrying the changed fields plus removed field
  * names. This operator reconstructs the full after-image field-wise in
  * the typed domain:
  *
  *  - one schema is inferred across before/after/updatedFields samples
  *    (C7-style driver pass), so a patched `age: 41` stays numeric
  *  - op `u` with a partial update: field = removed ? null :
  *    coalesce(updatedFields.f, before.f)   (`:148-190`)
  *  - op `d`: payload = before image; otherwise payload = after
  *  - `_cdc` struct {op: u→U | d→D | else I, ts, source: db.collection}
  *
  * Fidelity note: the reference dispatches on 13 BSON types through the
  * Mongo Java driver (`MongoDataConverter.java:43-260`); this container
  * has no BSON library, so values ride their JSON representations and
  * types come from JSON inference — the dataflow shape (patch merge,
  * image selection, typed promotion) is the same. The extended-JSON
  * wrappers are unwrapped before inference (see [[unwrapExtendedJson]]):
  * `$oid`/`$numberLong`/`$numberInt`/`$numberDecimal`/`$date`/
  * `$timestamp`/`$binary` surface as scalars, `$code` as the code string
  * (with-scope → a {code, scope} struct), `$regularExpression` and the
  * legacy `$regex`/`$options` pair as a {regex, options} struct, and
  * `$symbol` as its string — matching the reference's typed dispatch
  * arm-for-arm. `array_handling_mode=document` reproduces
  * `ArrayEncoding.DOCUMENT` (arrays → `_0.._n` documents).
  */
object MongoDebezium {

  /** Rewrite BSON extended-JSON scalar wrappers to plain JSON scalars
    * (`MongoDataConverter.java` OBJECT_ID/INT64/INT32/DECIMAL128/DATE_TIME
    * arms): `{"$oid":"x"}` → `"x"`, `{"$numberLong":"1004"}` → 1004,
    * `{"$numberInt":"5"}` → 5, `{"$numberDecimal":"1.25"}` → 1.25,
    * `{"$date": 1490716800000}` → the epoch-millis number (the engine's
    * C6 coercion turns epoch millis into timestamps at the table
    * boundary), `{"$date": "ISO"}` → the ISO string. Purely textual: a
    * *string field* whose text happens to contain a wrapper is also
    * rewritten — acceptable for JSON-domain SMT parity.
    */
  private[transforms] def unwrapExtendedJson(c: Column): Column = {
    var e = c
    e = regexp_replace(e, """\{\s*"\$oid"\s*:\s*"([0-9a-fA-F]+)"\s*\}""", "\"$1\"")
    e = regexp_replace(e, """\{\s*"\$numberLong"\s*:\s*"(-?\d+)"\s*\}""", "$1")
    e = regexp_replace(e, """\{\s*"\$numberInt"\s*:\s*"(-?\d+)"\s*\}""", "$1")
    // same payload shape as the $numberDouble arm below — the char class
    // must include '-' for negative exponents (Decimal128.toString emits
    // scientific notation like "2.5E-7" for small adjusted exponents)
    e = regexp_replace(e, """\{\s*"\$numberDecimal"\s*:\s*"(-?[0-9][0-9.eE+-]*)"\s*\}""", "$1")
    // canonical-mode double (DOUBLE arm): numeric payloads unwrap; the
    // "NaN"/"Infinity" renderings stay wrapped (no JSON literal exists)
    e = regexp_replace(e, """\{\s*"\$numberDouble"\s*:\s*"(-?[0-9][0-9.eE+-]*)"\s*\}""", "$1")
    e = regexp_replace(e, """\{\s*"\$date"\s*:\s*(-?\d+)\s*\}""", "$1")
    e = regexp_replace(e, """\{\s*"\$date"\s*:\s*"([^"]+)"\s*\}""", "\"$1\"")
    // BSON timestamp: seconds + increment → epoch millis (reference
    // TIMESTAMP arm: new Date(1000L * ts.getTime())); ×1000 is literal
    // zero-append on the integer seconds. t = 0 needs its own rule FIRST:
    // the append would otherwise produce the token 0000, which JSON
    // parsers reject as a leading-zero number and the whole document
    // nulls out (initial-sync events carry t = 0).
    e = regexp_replace(e,
      """\{\s*"\$timestamp"\s*:\s*\{\s*"t"\s*:\s*0\s*,\s*"i"\s*:\s*\d+\s*\}\s*\}""",
      "0")
    e = regexp_replace(e,
      """\{\s*"\$timestamp"\s*:\s*\{\s*"t"\s*:\s*(?<t>\d+)\s*,\s*"i"\s*:\s*\d+\s*\}\s*\}""",
      "${t}000")
    // binary → its base64 payload string (C5 coercion decodes base64 when
    // the table column is binary); both the {"base64":…,"subType":…} and
    // legacy {"$binary":…,"$type":…} forms
    e = regexp_replace(e,
      """\{\s*"\$binary"\s*:\s*\{\s*"base64"\s*:\s*"([^"]*)"\s*,\s*"subType"\s*:\s*"[^"]*"\s*\}\s*\}""",
      "\"$1\"")
    // key order is not guaranteed by JSON writers — subType-first too
    // (the $regularExpression rule below already handles both orders)
    e = regexp_replace(e,
      """\{\s*"\$binary"\s*:\s*\{\s*"subType"\s*:\s*"[^"]*"\s*,\s*"base64"\s*:\s*"([^"]*)"\s*\}\s*\}""",
      "\"$1\"")
    e = regexp_replace(e,
      """\{\s*"\$binary"\s*:\s*"([^"]*)"\s*,\s*"\$type"\s*:\s*"[^"]*"\s*\}""",
      "\"$1\"")
    // JAVASCRIPT (no scope): {"$code":"f()"} → "f()" (reference JAVASCRIPT
    // arm returns the code string); escaped quotes inside the code survive
    e = regexp_replace(e, """\{\s*"\$code"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}""", "\"$1\"")
    // JAVASCRIPT_WITH_SCOPE: keep the {code, scope} structure, drop the
    // wrapper key names (reference builds a {code, scope} struct)
    e = regexp_replace(e, """"\$code"(\s*:)""", "\"code\"$1")
    e = regexp_replace(e, """"\$scope"(\s*:)""", "\"scope\"$1")
    // REGULAR_EXPRESSION → {regex, options} struct, both the modern
    // $regularExpression envelope (either key order) and the legacy
    // {"$regex","$options"} pair
    e = regexp_replace(e,
      """\{\s*"\$regularExpression"\s*:\s*\{\s*"pattern"\s*:\s*"((?:[^"\\]|\\.)*)"\s*,\s*"options"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}\s*\}""",
      "{\"regex\":\"$1\",\"options\":\"$2\"}")
    e = regexp_replace(e,
      """\{\s*"\$regularExpression"\s*:\s*\{\s*"options"\s*:\s*"((?:[^"\\]|\\.)*)"\s*,\s*"pattern"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}\s*\}""",
      "{\"regex\":\"$2\",\"options\":\"$1\"}")
    e = regexp_replace(e,
      """\{\s*"\$regex"\s*:\s*"((?:[^"\\]|\\.)*)"\s*,\s*"\$options"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}""",
      "{\"regex\":\"$1\",\"options\":\"$2\"}")
    // SYMBOL → its string (upstream Debezium symbol semantics; the
    // vendored converter's default arm silently drops the field — keeping
    // the value is strictly more faithful to the data)
    e = regexp_replace(e, """\{\s*"\$symbol"\s*:\s*"((?:[^"\\]|\\.)*)"\s*\}""", "\"$1\"")
    e
  }

  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `array_handling_mode=document` (`ArrayEncoding.DOCUMENT`,
    * `MongoDataConverter.java:145-190`): arrays become documents keyed
    * `_0.._n` (`arrayElementStructName:257-259`), so heterogeneous array
    * elements each keep their own inferred type instead of needing one
    * element schema. Jackson rewrite, record-at-a-time like the
    * reference's converter — only active when the mode is requested.
    */
  private[transforms] def arraysAsDocuments(json: String): String =
    if (json == null) null
    else
      try jsonMapper.writeValueAsString(rewriteArrays(jsonMapper.readTree(json)))
      catch { case _: Exception => json }

  private def rewriteArrays(
      n: com.fasterxml.jackson.databind.JsonNode): com.fasterxml.jackson.databind.JsonNode =
    n match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val o = jsonMapper.createObjectNode()
        var i = 0
        a.forEach { el => o.set(s"_$i", rewriteArrays(el)); i += 1; () }
        o
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        val out = jsonMapper.createObjectNode()
        o.fields().forEachRemaining(e => { out.set(e.getKey, rewriteArrays(e.getValue)); () })
        out
      case other => other
    }

  /** C8 over the raw binary envelope: `before`/`after` (and
    * `updateDescription.updatedFields` when present) arrive as BSON
    * *bytes* rather than extended-JSON strings. Decodes them through
    * [[Bson.bson_to_json]] and reuses the string-path flattener verbatim,
    * so both input encodings share one type-dispatch and patch-merge
    * implementation (the reference's binary path,
    * `MongoDataConverter.java:43-260`, collapses to decode + the same
    * dataflow).
    */
  def mongoDebeziumBinary(
      arrayHandlingMode: String = "array",
      inferLimit: Int = Transforms.DefaultJsonInferLimit
  )(df: DataFrame): DataFrame = {
    var decoded = df
      .withColumn("before", Bson.bson_to_json(col("before")))
      .withColumn("after", Bson.bson_to_json(col("after")))
    if (df.columns.contains("updateDescription")) {
      val ud = df.schema("updateDescription").dataType.asInstanceOf[StructType]
      val fields = ud.fieldNames.toIndexedSeq.map {
        case "updatedFields" =>
          Bson.bson_to_json(col("updateDescription.updatedFields")).as("updatedFields")
        case other => col(s"updateDescription.$other").as(other)
      }
      decoded = decoded.withColumn("updateDescription",
        when(col("updateDescription").isNotNull, struct(fields: _*)))
    }
    mongoDebezium(arrayHandlingMode, inferLimit)(decoded)
  }

  def mongoDebezium(
      arrayHandlingMode: String = "array",
      /** records sampled for schema inference per batch (same bounded-scan
        * trade-off as [[Transforms.jsonExpand]]'s inferLimit — unbounded
        * inference is a second full 2-3× scan of the batch every trigger);
        * <= 0 opts into exact whole-batch inference */
      inferLimit: Int = Transforms.DefaultJsonInferLimit
  )(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    val hasUpdate = df.columns.contains("updateDescription")

    val docMode = arrayHandlingMode == "document"
    val toDoc = udf(arraysAsDocuments _)
    def prep(c: Column): Column = {
      val u = unwrapExtendedJson(c)
      if (docMode) toDoc(u) else u
    }
    val beforeJ = prep(col("before"))
    val afterJ = prep(col("after"))
    val updJ =
      if (hasUpdate) prep(col("updateDescription.updatedFields"))
      else lit(null).cast(StringType)

    // infer one typed schema across every document image we may read;
    // bounded to inferLimit records WITH at least one image (a run of
    // image-less deletes must not consume the budget and empty the
    // schema — jsonExpand filters nulls before limiting for the same
    // reason); late-appearing fields ride schema evolution next batch
    val hasImage = col("before").isNotNull || col("after").isNotNull ||
      (if (hasUpdate) col("updateDescription.updatedFields").isNotNull else lit(false))
    val images = df.filter(hasImage)
      .select(array(Seq(beforeJ, afterJ) ++ (if (hasUpdate) Seq(updJ) else Nil): _*).as("js"))
    val sampleSrc = if (inferLimit > 0) Transforms.firstRows(images, inferLimit) else images
    val samples = sampleSrc.select(explode(col("js")).as("j"))
    val schema = df.sparkSession.read
      .json(samples.filter(col("j").isNotNull).as[String]).schema
    val clean = StructType(schema.fields.filterNot(_.name.startsWith("_corrupt")))

    val before = from_json(beforeJ, clean)
    val after = from_json(afterJ, clean)
    val op = col("op")
    val removed =
      if (hasUpdate) coalesce(col("updateDescription.removedFields"),
        array().cast(ArrayType(StringType)))
      else array().cast(ArrayType(StringType))
    val upd =
      if (hasUpdate) from_json(updJ, clean)
      else lit(null).cast(clean)

    val partialUpdate =
      if (hasUpdate) op === "u" && col("updateDescription").isNotNull && col("after").isNull
      else lit(false)

    // KEY-PRESENCE patch merge, not value-null coalesce: the reference
    // applies a field from updatedFields whenever the KEY is present —
    // a `$set: {f: null}` arrives as key f with value null, and
    // coalesce(upd.f, before.f) would RESURRECT the old before-image
    // value the source database explicitly nulled. json_object_keys
    // reads presence from the JSON text itself.
    val updKeys =
      if (hasUpdate) coalesce(json_object_keys(updJ), array().cast(ArrayType(StringType)))
      else array().cast(ArrayType(StringType))

    // parse each image ONCE into a materialized column: embedded per
    // field, the from_json(17-regex-unwrap [+ doc-mode UDF]) trees sit
    // only in CaseWhen branch positions, where subexpression elimination
    // is not guaranteed — a 50-field collection could re-run the parse
    // O(fields) times per record (jsonExpand's __j pattern)
    Seq("__mdb_b", "__mdb_a", "__mdb_u", "__mdb_uk").foreach(n =>
      require(!df.columns.contains(n), s"column name $n is reserved by mongoDebezium"))
    val withParsed = df
      .withColumn("__mdb_b", before)
      .withColumn("__mdb_a", after)
      .withColumn("__mdb_u", upd)
      .withColumn("__mdb_uk", updKeys)

    val payloadCols: Seq[Column] = clean.fields.toSeq.map { f =>
      val patched = when(array_contains(removed, f.name), lit(null).cast(f.dataType))
        .when(array_contains(col("__mdb_uk"), f.name), col("__mdb_u").getField(f.name))
        .otherwise(col("__mdb_b").getField(f.name))
      when(partialUpdate, patched)
        .when(op === "d", col("__mdb_b").getField(f.name))
        .otherwise(col("__mdb_a").getField(f.name))
        .as(f.name)
    }

    val opMapped = when(op === "u", "U").when(op === "d", "D").otherwise("I")
    val cdc = struct(
      opMapped.as("op"),
      timestamp_millis(col("ts_ms").cast(LongType)).as("ts"),
      concat_ws(".", col("source.db"), col("source.collection")).as("source"))

    withParsed.select(payloadCols :+ cdc.as("_cdc"): _*)
  }
}
