package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.config.{EngineConfig, TableConfig}
import graft.operators.{CdcOps, Coercion, HotPath, Routing}
import graft.schema.{NameMapping => SchemaNameMapping, SchemaEvolution}
import graft.table.{Commit, IceTable, TableMeta}

/** The per-micro-batch ingestion pipeline — Spark-native equivalent of the
  * reference's `IcebergSinkTask.put` data path (§3.1 of SURVEY.md):
  *
  *   batch → SMT transforms → tombstone filter → routing fan-out →
  *   per table: [auto-create → schema evolution → coercion → CDC resolve →
  *   file write → atomic commit (offsets + vtts + batchId guard)]
  *
  * The reference coordinates this across workers with a Kafka control
  * topic and a two-phase commit (`channel/Coordinator.java`); under Spark
  * the driver is the single coordinator and Structured Streaming's
  * checkpoint supplies replay, so only the batchId idempotence guard (K8)
  * and the commit-log write (K9) remain.
  */
object Ingest {

  final case class TableResult(table: String, commit: Option[Commit])

  def run(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      config: EngineConfig,
      transforms: Seq[DataFrame => DataFrame] = Nil,
      /** K11 — kafka "topic-partition" keys ASSIGNED to this pipeline.
        * The reference's coordinator hears from every assigned partition
        * even when it sent no data, and nulls the VTTS if any assigned
        * partition is silent (`channel/CommitState.vtts:155-178`; workers
        * report all assignments in `CommitterImpl.sendCommitResponse:140-188`).
        * A batch can only observe partitions that produced rows, so callers
        * that know the assignment pass it here; empty = derive from the
        * batch (VTTS then assumes no silent partitions). */
      assignedPartitions: Set[String] = Set.empty
  ): Seq[TableResult] = {
    // SMT chain (C7-C10 style transforms), then R6 tombstone filter
    val transformed = transforms.foldLeft(batch)((d, t) => t(d))

    // S2/K11 — offset + VTTS bookkeeping rides the WRITE job as an
    // `observe` metric (one pass over the batch, like the reference worker
    // tracking offsets inline on its write path) instead of a separate
    // aggregation scan. The observe node sits ABOVE the tombstone filter,
    // so bookkeeping sees tombstones (the consumer moved past them), and
    // ABOVE the route filters, so any table's write evaluates the full
    // batch through it.
    val kafkaShaped = Set("topic", "partition", "offset").subsetOf(transformed.columns.toSet)
    val (observed, bookkeeping): (DataFrame, () => (Map[String, Long], Option[Long])) =
      if (!kafkaShaped) (transformed, () => (Map.empty, None))
      else {
        val obs = org.apache.spark.sql.Observation(s"graft_offsets_$batchId")
        val hasTs = transformed.schema.fields
          .find(_.name == "timestamp")
          .exists(_.dataType.typeName == "timestamp")
        val tsCol = if (hasTs) unix_micros(col("timestamp")) else lit(null).cast("long")
        val o = transformed.observe(obs,
          graft.functions.OffsetsAgg(
            col("topic"), col("partition"), col("offset").cast("long"), tsCol).as("offsets"))
        (o, () => fromObservation(obs, assignedPartitions))
      }

    val filtered =
      if (config.tombstoneDrop) Routing.dropTombstones(observed) else observed

    // P6 / R1: one cached batch, N table writes. Dynamic routing persists
    // BEFORE discovery so its distinct-route-values job materializes the
    // cache instead of being a throwaway extra scan of the source.
    // Dead-letter mode also persists even for ONE table: its DLQ write and
    // main write are two actions over the same frame — unpersisted, each
    // would re-scan the source (and re-run the SMT chain) per trigger.
    val dynamic = config.dynamicRouting && config.routeField.isDefined
    if (dynamic) filtered.persist()
    val routed = Routing.route(filtered, config)
    val multi = routed.size > 1 || dynamic
    val cached = multi || config.deadLetterEnabled
    if (cached && !dynamic) filtered.persist()
    try {
      if (!multi) {
        routed.map { case (tconf, tdf) =>
          TableResult(tconf.name, writeTable(spark, tdf, batchId, tconf, config, bookkeeping))
        }
      } else {
        // K10 — multi-table parallel commit (`channel/Coordinator.doCommit
        // :141-168`). Returns only once every table's jobs are done or
        // cancelled, so the `finally` never unpersists under a live one.
        HotPath.inParallel("K10 multi-table commit", spark, config.commitThreads)(
          routed.map { case (tconf, tdf) =>
            () => TableResult(tconf.name, writeTable(spark, tdf, batchId, tconf, config, bookkeeping))
          })
      }
    } finally {
      if (cached) { filtered.unpersist(); () }
    }
  }

  /** Decode the [[graft.functions.OffsetsAgg]] observe metric into
    * (next-offsets, vtts). Blocks until the first job over the observed
    * plan completes — callers resolve it only after a write action.
    *
    * VTTS nulls when any observed timestamp is null OR any ASSIGNED
    * partition is absent from the batch (silent-partition rule,
    * `CommitState.vtts:155-178`): a silent partition may still hold
    * unread data older than every observed timestamp.
    */
  private[graft] def fromObservation(
      obs: org.apache.spark.sql.Observation,
      assignedPartitions: Set[String] = Set.empty): (Map[String, Long], Option[Long]) = {
    val m = obs.get("offsets").asInstanceOf[scala.collection.Map[String, org.apache.spark.sql.Row]]
    val offsets = m.map { case (k, r) => k -> (r.getLong(0) + 1L) }.toMap
    val silentAssigned = assignedPartitions.exists(p => !m.contains(p))
    val vtts =
      if (m.isEmpty || silentAssigned || m.values.exists(_.isNullAt(1))) None
      else Some(m.values.map(_.getLong(1)).min)
    (offsets, vtts)
  }

  def tablePath(config: EngineConfig, name: String): String =
    s"${config.warehouse}/${name.replace('.', '/')}"

  private def writeTable(
      spark: SparkSession,
      tdf: DataFrame,
      batchId: Long,
      tconf: TableConfig,
      config: EngineConfig,
      bookkeeping: () => (Map[String, Long], Option[Long])
  ): Option[Commit] = {
    val path = tablePath(config, tconf.name)
    val incomingSchema = dataSchema(tdf.schema)

    // P7 — auto-create (schema inferred from the batch, partition spec from
    // config, unpartitioned fallback on error: IcebergWriterFactory:69-117)
    val table0: IceTable =
      if (IceTable.exists(path)) IceTable.load(path, tconf.commitBranch)
      else if (config.autoCreate) {
        // `schema-force-optional` needs no handling here: IceTable.create
        // deep-nullables EVERY created schema (this engine's parquet
        // tables carry no required-ness), so the flag is accepted for
        // config parity and is inherently satisfied
        val createSchema = incomingSchema
        val spec =
          try {
            graft.operators.PartitionTransforms.parseSpec(tconf.partitionBy, createSchema)
            tconf.partitionBy
          } catch { case _: Exception => Nil }
        IceTable.create(path, SchemaEvolution.normalize(createSchema).asInstanceOf[StructType],
          TableMeta(idColumns = tconf.idColumns, partitionBy = spec, format = config.format,
            props = config.autoCreateProps),
          tconf.commitBranch)
      } else {
        // R3 — unknown table and auto-create off: silently skip
        // (no-op writer parity, IcebergWriterFactory.java:55-62)
        return None
      }

    // `iceberg.table.write-props.*` overlay — applies to pre-existing
    // tables too, not just auto-created ones (Utilities.java:160)
    val table = table0.withWriteProps(config.writeProps)

    // E1/E2 — evolve schema from the batch, once, up front (retry budget
    // mirrors the reference's SCHEMA_UPDATE_RETRIES constant, 3 attempts)
    if (config.evolveSchema) {
      SchemaEvolution
        .evolve(table.schema, incomingSchema, config.schemaCaseInsensitive)
        .foreach(table.evolveTo(_, maxRetries = config.createRetries))
    }

    // E4 — `schema.name-mapping.default` table property → alias lookup
    // during projection (RecordConverter.java:100-103,252-271)
    val nameMapping = table.meta.props
      .get("schema.name-mapping.default")
      .map(SchemaNameMapping.parse(_, table.schema))
      .getOrElse(Map.empty[String, Seq[String]])

    val cdcMode = config.cdcField.isDefined || config.upsertMode
    // errors.tolerance=all + DLQ: split off rows whose values can't
    // coerce BEFORE projection — they land in `<table>__dlq` as
    // (record JSON, reason, rejected_at) and the batch proceeds. One
    // scan shape: both slices are filters over the same frame
    // (Routing.deadLetterSplit), and the DLQ write only materializes
    // the dead slice. Applies in BOTH modes: a poison record in a
    // strict CDC stream previously bypassed the split entirely and
    // wedged the stream on every replay (and with strict off it was
    // silently nulled instead of dead-lettered) — exactly the failure
    // the DLQ exists to absorb.
    val (dlqWrite, toWrite): (Option[() => Option[Commit]], DataFrame) =
      if (!config.deadLetterEnabled) (None, tdf)
      else {
        val reason = Coercion.violationReason(tdf, table.schema,
          nameMapping = nameMapping, caseInsensitive = config.schemaCaseInsensitive)
        val (ok, dead) = graft.operators.Routing.deadLetterSplit(tdf, reason.isNull, reason)
        val dlqRows = dead.select(
          to_json(struct(tdf.columns.map(col).toIndexedSeq: _*)).as("record"),
          col("_dlq.reason").as("reason"),
          col("_dlq.rejected_at").as("rejected_at"))
        // the DLQ follows the SAME naming rule as its main table
        // (dots → path separators) and inherits branch + write-props —
        // a dotted name (db.events) must not scatter data at wh/db/events
        // but its DLQ at wh/db.events__dlq
        val dlqTable = IceTable.loadOrCreate(
          tablePath(config, tconf.name + "__dlq"), dlqRows.schema,
          graft.table.TableMeta(format = config.format),
          tconf.commitBranch).withWriteProps(config.writeProps)
        // a clean batch writes an empty (zero-file) DLQ commit rather
        // than paying an extra emptiness-probe scan per trigger; the
        // commit log's checkpoint consolidation bounds the entry count.
        // The DLQ commit targets a DIFFERENT table, so it overlaps the
        // main write (guide §2.6). Whichever commit lands first, a crashed
        // batch replays under the same batchId and both tables'
        // idempotence guards skip what already committed.
        (Some(() => IceTableWriter.append(spark, dlqRows, dlqTable, batchId)), ok)
      }
    def writeMain(): Option[Commit] =
      if (cdcMode) {
        // defaults are applied ONCE, at the config layer (fromProperties /
        // tableConfig pre-fill default-id-columns into every TableConfig);
        // re-applying them here would override a table's explicit
        // empty-id-columns opt-out
        val keyCols = tconf.idColumns
        val op = CdcOps.opColumn(config.cdcField, config.upsertMode)
        val ord =
          if (tdf.columns.contains("offset")) col("offset").cast("long")
          else monotonically_increasing_id()
        val prepared = toWrite.withColumn(CdcOps.OpCol, op).withColumn(CdcOps.OrdCol, ord)
        val coerced = Coercion.project(prepared, table.schema,
          nameMapping = nameMapping,
          caseInsensitive = config.schemaCaseInsensitive,
          extraCols = Seq(CdcOps.OpCol, CdcOps.OrdCol),
          // dead-letter mode subsumes strict (same rule as the append
          // branch): violations were already routed away above
          strict = config.strictCoercion && !config.deadLetterEnabled)
        val (data, deleteKeys) = CdcOps.resolveBatch(coerced, keyCols)
        IceTableWriter.delta(spark, data, deleteKeys, table, batchId,
          offsets = bookkeeping()._1, vtts = bookkeeping()._2,
          maxRecordsPerFile = config.maxRecordsPerFile)
      } else {
        val coerced = Coercion.project(toWrite, table.schema,
          nameMapping = nameMapping,
          caseInsensitive = config.schemaCaseInsensitive,
          // dead-letter mode subsumes strict: violations were already
          // routed away, so the projection must not re-throw on them
          strict = config.strictCoercion && !config.deadLetterEnabled)
        IceTableWriter.append(spark, coerced, table, batchId,
          offsets = bookkeeping()._1, vtts = bookkeeping()._2,
          maxRecordsPerFile = config.maxRecordsPerFile)
      }
    dlqWrite.fold(writeMain())(dlq => HotPath.overlap("dead-letter write", spark)(dlq())(writeMain())._2)
  }

  /** Schema of the data payload: only the engine's internal `__graft_*`
    * bookkeeping columns are excluded from auto-create/evolution. Kafka
    * metadata columns (topic/partition/offset/…) are intentionally KEPT —
    * a kafka-shaped batch auto-creates a table carrying them, matching the
    * KafkaMetadata SMT flow where the operator asked for them as data.
    */
  private def dataSchema(s: StructType): StructType =
    StructType(s.fields.filterNot(f => f.name.startsWith("__graft_")))

}
