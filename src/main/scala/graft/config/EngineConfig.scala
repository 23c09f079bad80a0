package graft.config

/** Engine configuration, property-name compatible with the reference sink
  * config surface (`kafka-connect/src/main/java/io/tabular/iceberg/connect/
  * IcebergSinkConfig.java:118-241`).
  *
  * A user of the reference configures the connector with `iceberg.*`
  * properties; [[EngineConfig.fromProperties]] accepts the same names.
  */
final case class TableConfig(
    name: String,
    /** `iceberg.table.<name>.route-regex` (IcebergSinkConfig.java:352-374) */
    routeRegex: Option[String] = None,
    /** `iceberg.table.<name>.id-columns` — equality-delete / upsert key */
    idColumns: Seq[String] = Nil,
    /** `iceberg.table.<name>.partition-by` — Iceberg partition transforms,
      * e.g. `day(ts)`, `bucket(user_id,16)`, `truncate(name,4)` */
    partitionBy: Seq[String] = Nil,
    /** `iceberg.table.<name>.commit-branch`; "" = inherit the config's
      * `default-commit-branch` (resolved by [[EngineConfig.tableConfig]] /
      * [[EngineConfig.resolvedTables]], which every route/write path goes
      * through)
      */
    commitBranch: String = ""
)

final case class EngineConfig(
    /** Root directory holding one IceTable per table name ("warehouse"). */
    warehouse: String,
    /** `iceberg.tables` — static list of target tables */
    tables: Seq[TableConfig] = Nil,
    /** `iceberg.tables.route-field` (dot-path into the record) */
    routeField: Option[String] = None,
    /** `iceberg.tables.dynamic-enabled` — route by lowercased field value */
    dynamicRouting: Boolean = false,
    /** `iceberg.tables.cdc-field` — dot-path to the I/U/D op code */
    cdcField: Option[String] = None,
    /** `iceberg.tables.upsert-mode-enabled` — treat every row as UPDATE */
    upsertMode: Boolean = false,
    /** `iceberg.tables.auto-create-enabled` */
    autoCreate: Boolean = false,
    /** `iceberg.tables.evolve-schema-enabled` */
    evolveSchema: Boolean = false,
    /** `iceberg.tables.schema-force-optional` — accepted for config
      * parity; inherently satisfied here because [[graft.table.IceTable.create]]
      * deep-nullables every created schema (parquet tables in this engine
      * carry no required-ness to relax). */
    schemaForceOptional: Boolean = false,
    /** `iceberg.tables.schema-case-insensitive` */
    schemaCaseInsensitive: Boolean = true,
    /** `iceberg.tables.strict-coercion-enabled` — fail the batch when a
      * non-null value would coerce to null (the reference's converters
      * throw on unconvertible values; Spark's ANSI-off cast nulls them).
      * Default false = permissive, matching prior engine behavior. */
    strictCoercion: Boolean = false,
    /** `iceberg.tables.dead-letter-enabled` — Kafka Connect
      * `errors.tolerance=all` + DLQ semantics on the append path: rows
      * whose non-null values would coerce to null are written to
      * `<table>__dlq` (record JSON + reason + timestamp) instead of
      * failing the batch (strict) or silently nulling (permissive). */
    deadLetterEnabled: Boolean = false,
    /** `iceberg.tables.default-id-columns` */
    defaultIdColumns: Seq[String] = Nil,
    /** `iceberg.tables.default-partition-by` */
    defaultPartitionBy: Seq[String] = Nil,
    /** `iceberg.tables.default-commit-branch` */
    defaultCommitBranch: String = "main",
    /** `iceberg.tables.auto-create-props.*` — table properties applied at
      * auto-create (IcebergSinkConfig.autoCreateProps), e.g.
      * `write.target-file-size-bytes` or `schema.name-mapping.default` */
    autoCreateProps: Map[String, String] = Map.empty,
    /** `iceberg.table.write-props.*` — table properties overlaid on top of
      * the (possibly pre-existing) table's own properties at writer
      * creation (IcebergSinkConfig.java:66,264 → data/Utilities.java:160),
      * e.g. `write.target-file-size-bytes` on a table created elsewhere */
    writeProps: Map[String, String] = Map.empty,
    /** write.format.default: parquet|orc|avro (Utilities.java:162-163) */
    format: String = "parquet",
    /** `iceberg.control.commit.interval-ms` (default 300 000,
      * IcebergSinkConfig.java:88-89) */
    commitIntervalMs: Long = 300000L,
    /** `iceberg.control.commit.threads` — most tables one multi-table
      * commit writes at once (default cores×2, IcebergSinkConfig.java:92,229-233). */
    commitThreads: Int = Runtime.getRuntime.availableProcessors() * 2,
    /** `iceberg.control.commit.timeout-ms` — accepted for config-file
      * compatibility (default 30 000, IcebergSinkConfig.java:90-91) but
      * INERT here: the reference uses it as the coordinator's wait for
      * worker commit responses over the control topic; under Spark the
      * driver is the only coordinator and a micro-batch has no partial
      * commit to time out (K6 intentionally absent, DESIGN.md §1). */
    commitTimeoutMs: Int = 30000,
    /** retries for table create / schema update (IcebergSinkConfig.java:103-104) */
    createRetries: Int = 3,
    /** R6 — skip kafka tombstones (null-value records). The reference always
      * ignores them (`data/IcebergWriter.java:66-76`, with a TODO to make it
      * configurable); here it is a flag with the reference behavior as
      * default. */
    tombstoneDrop: Boolean = true,
    /** approximation of write.target-file-size-bytes via records/file */
    maxRecordsPerFile: Long = 0L
) {
  /** Defaults applied to a listed table: EMPTY idColumns / partitionBy /
    * commitBranch inherit the `default-*` values (so a programmatically
    * constructed `EngineConfig(tables = Seq(TableConfig("t")),
    * defaultIdColumns = ...)` behaves like the property-parsed path, which
    * pre-fills defaults in [[EngineConfig.fromProperties]]). Empty is
    * "inherit", not "opt out" — matching the reference, where a table
    * without its own `id-columns` setting gets the default.
    */
  private def resolved(t: TableConfig): TableConfig =
    t.copy(
      idColumns = if (t.idColumns.nonEmpty) t.idColumns else defaultIdColumns,
      partitionBy = if (t.partitionBy.nonEmpty) t.partitionBy else defaultPartitionBy,
      commitBranch = if (t.commitBranch.nonEmpty) t.commitBranch else defaultCommitBranch)

  /** The listed tables with defaults applied — routing/write paths consume
    * THIS, never raw `tables` (a raw entry may carry empty = inherit
    * markers).
    */
  def resolvedTables: Seq[TableConfig] = tables.map(resolved)

  /** Effective config of one table (defaults applied; synthesized for
    * unlisted names — the dynamic-routing path).
    */
  def tableConfig(name: String): TableConfig =
    tables.find(_.name == name) match {
      case Some(t) => resolved(t)
      case None =>
        TableConfig(name, idColumns = defaultIdColumns, partitionBy = defaultPartitionBy,
          commitBranch = defaultCommitBranch)
    }
}

object EngineConfig {

  /** Parse the reference's property map into an [[EngineConfig]].
    * Mirrors `IcebergSinkConfig` parsing: comma-split lists, per-table
    * prefix-scoped properties (`IcebergSinkConfig.java:252-293,352-374`).
    */
  /** Comma split that respects parentheses, so `day(ts),bucket(id,8)`
    * yields two transforms (the transform-arg comma stays inside).
    */
  def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    out += cur.toString.trim
    out.filter(_.nonEmpty).toSeq
  }

  def fromProperties(warehouse: String, props: Map[String, String]): EngineConfig = {
    def list(key: String): Seq[String] =
      props.get(key).map(splitTopLevel).getOrElse(Nil)
    def bool(key: String, dflt: Boolean): Boolean =
      props.get(key).map(_.trim.toBoolean).getOrElse(dflt)

    val defaultBranch = props.getOrElse("iceberg.tables.default-commit-branch", "main")
    val defaultIds = list("iceberg.tables.default-id-columns")
    val defaultParts = list("iceberg.tables.default-partition-by")
    val tableNames = list("iceberg.tables")
    val tables = tableNames.map { t =>
      def tprop(suffix: String) = props.get(s"iceberg.table.$t.$suffix")
      // LISTED tables inherit the iceberg.tables.default-* properties too
      // (the reference applies them to every table without its own
      // setting, not just dynamically discovered ones)
      TableConfig(
        name = t,
        routeRegex = tprop("route-regex"),
        idColumns = tprop("id-columns").map(splitTopLevel).getOrElse(defaultIds),
        partitionBy = tprop("partition-by").map(splitTopLevel).getOrElse(defaultParts),
        commitBranch = tprop("commit-branch").getOrElse(defaultBranch)
      )
    }
    EngineConfig(
      warehouse = warehouse,
      tables = tables,
      routeField = props.get("iceberg.tables.route-field"),
      dynamicRouting = bool("iceberg.tables.dynamic-enabled", dflt = false),
      cdcField = props.get("iceberg.tables.cdc-field"),
      upsertMode = bool("iceberg.tables.upsert-mode-enabled", dflt = false),
      autoCreate = bool("iceberg.tables.auto-create-enabled", dflt = false),
      evolveSchema = bool("iceberg.tables.evolve-schema-enabled", dflt = false),
      schemaForceOptional = bool("iceberg.tables.schema-force-optional", dflt = false),
      schemaCaseInsensitive = bool("iceberg.tables.schema-case-insensitive", dflt = true),
      strictCoercion = bool("iceberg.tables.strict-coercion-enabled", dflt = false),
      deadLetterEnabled = bool("iceberg.tables.dead-letter-enabled", dflt = false),
      defaultIdColumns = defaultIds,
      defaultPartitionBy = defaultParts,
      defaultCommitBranch = defaultBranch,
      autoCreateProps = props.collect {
        case (k, v) if k.startsWith("iceberg.tables.auto-create-props.") =>
          k.stripPrefix("iceberg.tables.auto-create-props.") -> v
      },
      writeProps = props.collect {
        case (k, v) if k.startsWith("iceberg.table.write-props.") =>
          k.stripPrefix("iceberg.table.write-props.") -> v
      },
      // the reference has no dedicated format key: the writer reads the
      // TABLE property `write.format.default` (Utilities.java:162-163),
      // configured through auto-create-props (new tables) or write-props
      // (pre-existing tables, already honored by IceTable.meta's overlay).
      // Derive the auto-create default from the same names — a bespoke
      // key here would let the table metadata say orc while the engine
      // writes parquet.
      format = props.get("iceberg.tables.auto-create-props.write.format.default")
        .orElse(props.get("iceberg.table.write-props.write.format.default"))
        .getOrElse("parquet"),
      commitIntervalMs =
        props.get("iceberg.control.commit.interval-ms").map(_.toLong).getOrElse(300000L),
      commitThreads = props
        .get("iceberg.control.commit.threads")
        .map(_.trim.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors() * 2),
      commitTimeoutMs =
        props.get("iceberg.control.commit.timeout-ms").map(_.trim.toInt).getOrElse(30000),
      createRetries = 3,
      tombstoneDrop = bool("iceberg.tables.tombstone-drop-enabled", dflt = true),
      maxRecordsPerFile = props.get("write.target-file-records").map(_.toLong).getOrElse(0L)
    )
  }
}
