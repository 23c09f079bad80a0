package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.fs.ControlFs
import graft.table.{Commit, FileEntry, IceTable}
import graft.operators.{HotPath, PartitionTransforms}

/** Physical write path: stages immutable files under the table directory
  * and publishes them with one atomic commit-log entry.
  *
  * Mirrors the reference's writer stack (P2-P5):
  *  - partitioned fan-out (`data/PartitionedAppendWriter.java:32-55`) →
  *    Spark's native dynamic-partition `FileFormatWriter` via
  *    `.partitionBy(...)`; Spark sorts rows by partition columns within
  *    each task, so each task holds one open file at a time (better than
  *    the reference's always-fanout writer, cf. `docs/design.md:46`)
  *  - rolling target file size (`data/Utilities.java:165-167`) →
  *    `maxRecordsPerFile`
  *  - commit = append files + offsets + vtts in one atomic log entry (K9)
  *    with batchId replay guard (K8)
  *
  * Files are written once and referenced by path — no renames — so the
  * same design works on object storage at cluster scale. The write job
  * returns its own file list with per-file stats
  * ([[ManifestCommitProtocol]]): the writer never lists or re-reads what
  * it staged.
  */
object IceTableWriter {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One batch landing in more than this many DISTINCT partition values
    * is almost always a partition-spec bug at scale (identity on a
    * high-cardinality column — the classic millions-of-small-files
    * trap): every commit multiplies the table's file count by the
    * fan-out, and no post-hoc compaction keeps up with a spec that
    * mints thousands of partitions per trigger. */
  private[graft] val FanoutWarnPartitions = 1000

  /** Pure decision for the post-write fan-out WARN (pinned in
    * IceTableSuite without staging thousands of files): fires when one
    * batch's committed files span more than `threshold` distinct
    * partition values. Computed from the already-collected file entries
    * — zero extra jobs. */
  private[graft] def fanoutWarning(
      partitions: Int,
      files: Int,
      totalBytes: Long,
      threshold: Int = FanoutWarnPartitions): Option[String] =
    if (partitions <= threshold) None
    else Some(
      s"partitioned write fanned out to $partitions distinct partition values in ONE " +
        s"batch ($files files, mean ${if (files > 0) totalBytes / files else 0L} " +
        "bytes/file) — a spec this fine multiplies the table's file count every " +
        "commit and listing/planning will not survive it at scale; prefer a coarser " +
        "transform (days/months, bucket[N]) on the hot column, or pre-aggregate the " +
        "feed (compactSmallFiles mitigates the files, not the partition count)")

  /** AQE coalesce floor of the fan-out write (see writeFiles): keeps small
    * many-partition-value batches parallel, yet far below any sane advisory
    * size, so cluster-scale task sizing is untouched. */
  val FanoutMinPartitionSize = "64KB"
  private val AqeMinPartitionSizeKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Per session: fan-out writes in flight, and the floor key's prior value. */
  private val floorHolds = scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()

  /** Run `body` (a partitioned fan-out write) with the AQE coalesce floor
    * lowered. Ref-counted per session under one lock: the first of any
    * overlapping writers sets the floor, the last restores the prior value
    * exactly (unset stays unset). A non-fan-out job planned while a fan-out
    * write runs coalesces a little finer: a perf-only window. */
  private[sink] def withFanoutCoalesceFloor[T](spark: SparkSession)(body: => T): T = {
    floorHolds.synchronized {
      // getAll holds only explicitly set keys (get would return the default)
      val (n, saved) = floorHolds.getOrElse(spark, (0, spark.conf.getAll.get(AqeMinPartitionSizeKey)))
      if (n == 0) spark.conf.set(AqeMinPartitionSizeKey, FanoutMinPartitionSize)
      floorHolds(spark) = (n + 1, saved)
    }
    try body
    finally floorHolds.synchronized {
      val (n, saved) = floorHolds(spark)
      if (n > 1) floorHolds(spark) = (n - 1, saved)
      else {
        floorHolds -= spark
        saved.fold(spark.conf.unset(AqeMinPartitionSizeKey))(spark.conf.set(AqeMinPartitionSizeKey, _))
      }
    }
  }

  /** Table-property prefix enabling a per-column parquet bloom filter
    * (`write.parquet.bloom-filter-enabled.column.<col> = true`). */
  val BloomPropPrefix = "write.parquet.bloom-filter-enabled.column."

  /** Table property selecting the parquet compression codec for new
    * files (`write.parquet.compression-codec = zstd|snappy|gzip|lz4|...`). */
  val CompressionProp = "write.parquet.compression-codec"

  /** Append `df` (already coerced to the table schema) as a new commit.
    * Returns None if `batchId` was already committed (replayed batch).
    */
  /** `offsets`/`vtts` are by-name: when bookkeeping rides the write job as
    * an observe metric (see [[Ingest.run]]), it only resolves after the
    * write action — so they are evaluated here between write and publish.
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      table: IceTable,
      batchId: Long,
      offsets: => Map[String, Long] = Map.empty,
      vtts: => Option[Long] = None,
      props: Map[String, String] = Map.empty,
      maxRecordsPerFile: Long = 0L,
      compaction: Boolean = false,
      sortBy: Seq[String] = Nil,
      sortPartitions: Int = 0,
      /** sort-clustering by arbitrary expressions over table columns (the
        * z-order rewrite path) — same range-partition+sort treatment as
        * `sortBy`, which it extends
        */
      sortExprs: Seq[org.apache.spark.sql.Column] = Nil,
      /** Optimistic conflict validation for rewrites (Iceberg
        * ValidationException analogue): when set to the scan-time seq, the
        * commit ABORTS with [[graft.table.CommitConflictException]] if any
        * equality-delete commit landed after it — a rewrite re-stamps rows
        * at its own (higher) seq, which would silently void such deletes.
        */
      validateFromSeq: Option[Long] = None
  ): Option[Commit] = {
    val deltas = writeFiles(df, table, maxRecordsPerFile, sortBy, sortPartitions, sortExprs,
      warnFanout = !compaction)
    publish(table, batchId, deltas, Nil, offsets, vtts,
      if (compaction) props + ("compaction" -> "true") else props,
      validateFromSeq = validateFromSeq)
  }

  /** Partial rewrite: stage `df` as new files and supersede
    * `removedPaths` in one commit (bin-packing compaction's commit shape;
    * see [[graft.table.IceTable.compactSmallFiles]]).
    */
  def rewrite(
      spark: SparkSession,
      df: DataFrame,
      table: IceTable,
      removedPaths: Seq[String],
      props: Map[String, String] = Map.empty,
      /** see [[append]] — same concurrent-delete conflict validation */
      validateFromSeq: Option[Long] = None,
      /** Partial rewrites that never truncate the live chain (small-file
        * compaction) supersede ONLY the paths they read — a concurrent
        * plain append survives untouched, so it is not a lost-update
        * hazard and need not abort the rewrite. Full compactions and
        * delete-sensitive rewrites keep the strict rule (false).
        */
      allowConcurrentAppends: Boolean = false
  ): Option[Commit] = {
    val files = writeFiles(df, table, maxRecords = 0L, warnFanout = false)
    publish(table, batchId = -1L, files, Nil, Map.empty, None, props, removedPaths,
      validateFromSeq = validateFromSeq, allowConcurrentAppends = allowConcurrentAppends)
  }

  /** Dynamic partition overwrite (Spark `INSERT OVERWRITE` with
    * `partitionOverwriteMode=dynamic` / Iceberg `overwritePartitions`):
    * the batch's rows replace EXACTLY the partitions they touch —
    * untouched partitions keep their files, and on an unpartitioned
    * table the whole state is replaced (standard overwrite semantics).
    * One commit: new files plus the superseded paths via `removedPaths`;
    * time travel below the commit still sees the old partitions. An
    * empty batch overwrites nothing and publishes no commit (dynamic
    * mode's no-op, never an accidental truncate). NOTE
    * [[graft.table.IceTable.readIncremental]] surfaces the overwrite's
    * rows as ADDED — the replaced rows emit no retraction there, same
    * documented boundary as deletes aimed at pre-window rows.
    */
  def overwritePartitions(
      spark: SparkSession,
      df: DataFrame,
      table: IceTable,
      batchId: Long,
      offsets: => Map[String, Long] = Map.empty,
      vtts: => Option[Long] = None,
      props: Map[String, String] = Map.empty
  ): Option[Commit] = {
    // writeFiles unstages zero-row part files, so an empty UNPARTITIONED
    // batch — whose eagerly-created empty part file would otherwise
    // "touch" the empty partition tuple and supersede EVERY live file
    // (accidental truncate) — yields an empty list here and publishes
    // nothing, exactly the contract above.
    val files = writeFiles(df, table, maxRecords = 0L)
    if (files.isEmpty) return None
    val newParts = files.map(_.partition).toSet
    // by-name: re-planned at each commit attempt, so files appended to the
    // touched partitions between plan and claim (or during a seq-claim
    // retry) are still superseded — "rows replace EXACTLY the partitions
    // they touch" holds at COMMIT time, not plan time
    publish(table, batchId, files, Nil, offsets, vtts,
      props + ("overwrite-partitions" -> "true"),
      removedPaths = table.planFiles(None)
        .collect { case (f, _) if newParts.contains(f.partition) => f.path })
  }

  /** Delta commit (D2): new data files plus equality-delete key files that
    * apply to all *earlier* commits of the same keys.
    */
  def delta(
      spark: SparkSession,
      dataDf: DataFrame,
      deleteKeysDf: DataFrame,
      table: IceTable,
      batchId: Long,
      offsets: => Map[String, Long] = Map.empty,
      vtts: => Option[Long] = None,
      props: Map[String, String] = Map.empty,
      maxRecordsPerFile: Long = 0L
  ): Option[Commit] = {
    // The data save and delete save are INDEPENDENT Spark actions over the
    // same pinned resolve frame (CdcOps.resolveBatch localCheckpoints
    // before splitting) writing to distinct staging dirs — overlap them so
    // the delete job back-fills the data write's scheduling gaps and task
    // tail (guide §2.6) instead of queueing behind it; publish still waits
    // for both.
    val (delFiles, dataFiles) =
      HotPath.overlap("delta delete-files write", dataDf.sparkSession)(
        writeDeleteFiles(deleteKeysDf, table))(
        writeFiles(dataDf, table, maxRecordsPerFile))
    publish(table, batchId, dataFiles, delFiles, offsets, vtts, props)
  }

  // ---- internals ------------------------------------------------------

  private def writeFiles(
      df: DataFrame,
      table: IceTable,
      maxRecords: Long,
      sortBy: Seq[String] = Nil,
      sortPartitions: Int = 0,
      sortExprs: Seq[org.apache.spark.sql.Column] = Nil,
      /** Maintenance rewrites (compaction, bin-pack) legitimately respan
        * every partition the table has accumulated — the fan-out WARN is
        * for INGEST-shaped writes, where one batch minting thousands of
        * partitions means the spec is wrong. */
      warnFanout: Boolean = true): Seq[FileEntry] = {
    // the files are stamped with the version whose schema they were projected to
    val st = table.resolve()
    val meta = st.meta
    val schema = st.schema
    ManifestCommitProtocol.requireInstalled(df.sparkSession)
    val outDir = s"${table.dir}/data/${java.util.UUID.randomUUID()}"
    markStaging(outDir) // gc skips this dir until publish clears the marker

    // P5 — `write.target-file-size-bytes` parity (Utilities.java:162-167):
    // bytes-per-row is unknowable before the first file exists, so the cap
    // is derived from the previous commit's recorded (rows, bytes) and
    // applied as maxRecordsPerFile. First commit writes uncapped and seeds
    // the estimate.
    val effectiveMax =
      if (maxRecords > 0) maxRecords
      else
        meta.props.get("write.target-file-size-bytes").map(_.toLong) match {
          case Some(target) if target > 0 => estimatedRowsPerFile(table, target).getOrElse(0L)
          case _                          => 0L
        }

    val transforms = PartitionTransforms.parseSpec(meta.partitionBy, schema)
    // project to schema order, then add derived partition columns
    val base = df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    val withParts0 = transforms.foldLeft(base) { (d, t) =>
      d.withColumn(t.writeName, t.column(col(t.source)))
    }
    // cluster rows by partition value before the fan-out write: without
    // this every task can hold every partition (tasks × partitions tiny
    // files). A plain hash repartition caps a partition value at ONE task
    // (a hot day/type serializes the batch at scale), so use AQE rebalance
    // instead: same clustering, but skewed partition values are split
    // across tasks by mapper range and tiny ones are coalesced — the
    // files-per-partition budget is advisoryPartitionSizeInBytes.
    //
    // A sort-ordered rewrite (`sortBy` nonempty) replaces the rebalance:
    // range-partition + sort on (partition values, sort columns) so every
    // output file covers a disjoint sort-key range WITHIN its partition —
    // a rebalance here would scatter the sort clustering it exists for.
    // `write.distribution-mode` (Iceberg property parity) picks the
    // pre-write clustering for partitioned tables: `hash` (default) is
    // the AQE rebalance above — skew-split, tiny-partition coalesce;
    // `range` orders partition values across tasks so output files carry
    // tight, disjoint partition-column bounds (better file pruning,
    // costs a range-boundary sample job); `none` skips clustering — each
    // task fans out to every partition it holds (Iceberg's none mode:
    // cheapest write, most files — for pre-clustered input).
    val distMode = meta.props.getOrElse("write.distribution-mode", "hash")
    require(Set("none", "hash", "range").contains(distMode),
      s"write.distribution-mode must be none|hash|range, got '$distMode'")
    val withParts =
      if (sortBy.nonEmpty || sortExprs.nonEmpty) {
        val cluster = transforms.map(t => col(t.writeName)) ++ sortBy.map(col) ++ sortExprs
        val ranged =
          if (sortPartitions > 0) withParts0.repartitionByRange(sortPartitions, cluster: _*)
          else withParts0.repartitionByRange(cluster: _*)
        ranged.sortWithinPartitions(cluster: _*)
      } else if (transforms.isEmpty) withParts0
      else distMode match {
        case "none"  => withParts0
        case "range" => withParts0.repartitionByRange(transforms.map(t => col(t.writeName)): _*)
        case _       => withParts0.hint("rebalance", transforms.map(t => col(t.writeName)): _*)
      }
    // Fan-out parallelism floor (guide §6/§2.5): AQE's bytes-based
    // coalescing of the rebalance above sizes write tasks as
    // max(totalBytes/defaultParallelism, coalescePartitions.minPartitionSize
    // = 1 MB) — a cost model with NO term for the per-partition-value
    // file-open constant (~20 ms each). A small batch carrying many
    // partition values therefore collapses to 2-3 tasks that each open
    // dozens of parquet writers SEQUENTIALLY (r18 profile:
    // ingest_partitioned = 3 tasks × ~50 opens = 3.4 s task time) while
    // the cluster idles. For the fan-out write's duration the floor is
    // lowered to FanoutMinPartitionSize (64 KB, withFanoutCoalesceFloor)
    // so the rebalance keeps up to defaultParallelism tasks for any
    // batch wider than parallelism × floor; value-count awareness is
    // implicit — rebalance buckets BY partition value, so a batch with
    // few values occupies few buckets and still gets few tasks, and the
    // total file count (≈ one per value either way) is unchanged. At
    // cluster scale bytes/parallelism dominates the floor and the
    // advisory size caps task width exactly as before — the floor only
    // engages where per-open cost, not bytes, is the wall.
    val fanoutFloor = transforms.nonEmpty && distMode == "hash" &&
      sortBy.isEmpty && sortExprs.isEmpty
    var w = withParts.write.format(meta.format).mode("append")
    if (transforms.nonEmpty) w = w.partitionBy(transforms.map(_.writeName): _*)
    if (effectiveMax > 0) w = w.option("maxRecordsPerFile", effectiveMax)
    // Parquet bloom filters for point-lookup row-group skipping (Iceberg
    // `write.parquet.bloom-filter-enabled.column.<col>` property parity):
    // the writer embeds a split-block bloom per row group for each listed
    // column, and parquet-mr's row-group filter consults it for pushed
    // `=`/IN predicates at read time — skipping groups that min/max can
    // never exclude on high-cardinality UNSORTED columns (every group's
    // range spans the domain, but the bloom knows the needle isn't there).
    // Pure write-path metadata: file contents and all readers stay
    // unchanged, so the property can be enabled on an existing table.
    if (meta.format == "parquet") {
      meta.props.foreach { case (k, v) =>
        if (k.startsWith(IceTableWriter.BloomPropPrefix) && v.equalsIgnoreCase("true"))
          w = w.option(
            s"parquet.bloom.filter.enabled#${k.stripPrefix(IceTableWriter.BloomPropPrefix)}",
            "true")
      }
      // `write.parquet.compression-codec` (Iceberg property parity):
      // per-table codec choice — zstd for cold storage, snappy/lz4 for
      // hot read paths — applied to NEW files only; existing files keep
      // the codec they were written with (parquet is self-describing)
      meta.props.get(IceTableWriter.CompressionProp).foreach { codec =>
        w = w.option("compression", codec.toLowerCase(java.util.Locale.ROOT))
      }
    }
    val written = ControlFs.timedOp("sparkWriteJob") {
      if (fanoutFloor)
        IceTableWriter.withFanoutCoalesceFloor(df.sparkSession)(ManifestCommitProtocol.save(w, outDir))
      else ManifestCommitProtocol.save(w, outDir)
    }
    val entries = unstageEmpty(written, outDir).map { f =>
      FileEntry(
        path = f.path,
        rows = f.stats.rows,
        schemaVersion = st.currentVersion,
        partition = partitionValues(f.partitionDir, transforms),
        bytes = f.stats.bytes,
        min = f.stats.min,
        max = f.stats.max,
        format = meta.format
      )
    }
    if (transforms.nonEmpty && warnFanout)
      IceTableWriter.fanoutWarning(
        entries.iterator.map(_.partition).toSet.size,
        entries.size,
        entries.iterator.map(_.bytes).sum
      ).foreach(IceTableWriter.log.warn(_))
    entries
  }

  /** Rows-per-file cap that approximates `targetBytes` per file, from the
    * most recent commit whose entries carry (rows, bytes) stats.
    */
  private def estimatedRowsPerFile(table: IceTable, targetBytes: Long): Option[Long] = {
    val commits = table.log.commits()
    commits.reverseIterator
      .map(_.dataFiles.filter(f => f.rows > 0 && f.bytes > 0))
      .find(_.nonEmpty)
      .map { fs =>
        val bytesPerRow = fs.map(_.bytes).sum.toDouble / fs.map(_.rows).sum.toDouble
        math.max(1L, (targetBytes / bytesPerRow).toLong)
      }
  }

  private def writeDeleteFiles(keysDf: DataFrame, table: IceTable): Seq[FileEntry] = {
    ManifestCommitProtocol.requireInstalled(keysDf.sparkSession)
    val st = table.resolve()
    val outDir = s"${table.dir}/deletes/${java.util.UUID.randomUUID()}"
    markStaging(outDir)
    val written = ManifestCommitProtocol.save(keysDf.write.format(st.meta.format).mode("append"), outDir)
    // same zero-row unstaging as writeFiles: an empty delete side stages
    // an eager empty part file that would burden every later read's
    // anti-join planning for nothing
    unstageEmpty(written, outDir).map { f =>
      FileEntry(f.path, f.stats.rows, st.currentVersion,
        bytes = f.stats.bytes, format = st.meta.format)
    }
  }

  /** Unstage zero-row files and return the rest in path order.
    * FileFormatWriter creates part files EAGERLY (an empty unpartitioned
    * batch stages one per task), and committing them bloats the log and
    * every subsequent read's file list — a dead-letter stream with clean
    * batches would otherwise accumulate thousands of empty files. An
    * all-zero-row stage publishes nothing, so nothing would ever clear
    * its marker: it is cleared here (gc reclaims the dir normally).
    */
  private def unstageEmpty(written: Seq[WrittenFile], outDir: String): Seq[WrittenFile] = {
    val (live, zeroRow) = written.sortBy(_.path).partition(_.stats.rows != 0L)
    zeroRow.foreach(f => ControlFs.delete(f.path, recursive = false))
    if (live.isEmpty) clearStaging(outDir)
    live
  }

  /** Staging-marker protocol (see [[graft.table.IceTable.gc]]): the
    * marker lands before the first byte and is cleared once the dir's
    * files are either committed or dropped — gc skips marked dirs until
    * the staging grace expires, so a write job longer than the orphan
    * age cannot lose its earliest part files to a concurrent gc.
    */
  private def markStaging(outDir: String): Unit = {
    // fs.create makes missing parents; create-exclusive so a marker an
    // earlier (crashed) writer left in a colliding dir is never re-aged
    try ControlFs.createExclusive(s"$outDir/${IceTable.StagingMarker}", "")
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }
    ()
  }

  private def clearStaging(outDir: String): Unit =
    ControlFs.delete(s"$outDir/${IceTable.StagingMarker}", recursive = false)

  /** The `data/<uuid>` (or `deletes/<uuid>`) staging root a committed
    * file was written under — partition fan-out nests files deeper.
    * Works on the file's ORIGINAL (possibly scheme-ful) string so the
    * returned root resolves on the same filesystem; the table-dir match
    * is scheme-normalized because entries and handles can mix plain and
    * `file:`-style spellings of the same local path.
    */
  private[sink] def stagingRootOf(file: String, tableDir: String): Option[String] = {
    val norm = IceTable.normalizePath(file)
    val dirNorm = IceTable.normalizePath(tableDir).stripSuffix("/")
    val shift = file.length - norm.length // scheme prefix length delta
    for (sub <- Seq("data", "deletes")) {
      val prefix = s"$dirNorm/$sub/"
      if (norm.startsWith(prefix)) {
        val rest = norm.drop(prefix.length)
        val uuid = rest.takeWhile(_ != '/')
        if (uuid.nonEmpty && rest.length > uuid.length)
          return Some(file.substring(0, prefix.length + uuid.length + shift))
      }
    }
    None
  }

  private def publish(
      table: IceTable,
      batchId: Long,
      dataFiles: Seq[FileEntry],
      deleteFiles: Seq[FileEntry],
      offsets: Map[String, Long],
      vtts: Option[Long],
      props: Map[String, String],
      /** by-name: evaluated inside each commit attempt, so callers whose
        * superseded-file list depends on CURRENT table state (partition
        * overwrite) stay correct across seq-claim retries */
      removedPaths: => Seq[String] = Nil,
      validateFromSeq: Option[Long] = None,
      allowConcurrentAppends: Boolean = false
  ): Option[Commit] = {
    // K7 file-level dedup lives in CommitLog.commit (the one commit
    // builder every public path funnels through)
    val committed = table.log.commit(
      batchId,
      { seq =>
        validateFromSeq.foreach { s0 =>
          // ANY data-changing commit after the scan conflicts, not just
          // equality deletes: a rewrite re-stamps rows above a later
          // delete's seq (voiding it), a compaction commit makes
          // liveCommits drop every earlier commit (a concurrent plain
          // append planned-around here would be silently discarded —
          // lost update), and a concurrent rewrite's removedPaths could
          // be resurrected by this commit's files. Readers/metadata-only
          // commits (all three lists empty) stay non-conflicting.
          //
          // allowConcurrentAppends relaxes exactly one arm: a plain
          // append (data files only, no deletes, no removedPaths, not a
          // chain-truncating compaction commit) cannot be lost to a
          // partial rewrite that leaves the live chain intact, so
          // small-file compaction tolerates it instead of aborting.
          val benign: Commit => Boolean = c =>
            allowConcurrentAppends &&
              c.dataFiles.nonEmpty && c.deleteFiles.isEmpty &&
              c.removedPaths.isEmpty &&
              !c.props.get("compaction").contains("true")
          table.log.commits()
            .find(c => c.seq > s0 && !benign(c) &&
              (c.dataFiles.nonEmpty || c.deleteFiles.nonEmpty || c.removedPaths.nonEmpty))
            .foreach { c =>
              val kinds = Seq(
                if (c.deleteFiles.nonEmpty) Some("equality-delete") else None,
                if (c.dataFiles.nonEmpty) Some("data") else None,
                if (c.removedPaths.nonEmpty) Some("rewrite") else None).flatten
              throw new graft.table.CommitConflictException(
                s"concurrent ${kinds.mkString("+")} commit (seq ${c.seq}) landed after " +
                  s"scan seq $s0 — this rewrite was planned against stale state and " +
                  "would void or discard it; re-plan from current state and retry")
            }
        }
        Commit(
          seq = seq,
          batchId = batchId,
          commitId = java.util.UUID.randomUUID().toString,
          timestampMs = System.currentTimeMillis(),
          schemaVersion = table.currentSchemaVersion,
          dataFiles = dataFiles,
          deleteFiles = deleteFiles,
          offsets = offsets,
          vtts = vtts,
          props = props,
          removedPaths = removedPaths
        )
      }
    )
    // Post-commit cleanup is an OPTIMIZATION: the commit (or the replay
    // fence's None) is already decided, and both leftovers it clears are
    // reclaimed by gc anyway (unreferenced staged files as orphans,
    // markers by the staging grace sweep). An FS hiccup here must not
    // turn a durable outcome into a failed trigger — same rule as the
    // commit log's post-claim checkpoint guard.
    graft.fs.SweepAlarm.guarded(s"post-commit staging cleanup at ${table.dir}",
      s"batch $batchId's commit outcome stands; gc reclaims the leftovers") {
      if (committed.isEmpty) {
        // replayed batch: the staged files will never be referenced; drop them
        (dataFiles ++ deleteFiles).foreach(f => ControlFs.delete(f.path, recursive = false))
      }
      // committed OR replayed-and-dropped: either way the stage→publish
      // window is over — release the dirs to normal gc rules. (A publish
      // that THROWS leaves its markers: conflict-aborted rewrites keep
      // their staged files protected until the staging grace sweeps them.)
      (dataFiles ++ deleteFiles)
        .flatMap(f => stagingRootOf(f.path, table.dir))
        .distinct
        .foreach(clearStaging)
    }
    committed
  }

  /** Partition values from the Hive-style dir a file was written under.
    * Decode with Spark's own `unescapePathName` (the exact inverse of the
    * writer's Hive-style escaping) — URLDecoder would additionally turn a
    * literal '+' into a space, corrupting the recorded value and breaking
    * partition-pruning predicates against it.
    */
  private def partitionValues(
      dir: String,
      transforms: Seq[graft.operators.PartitionTransform]
  ): Map[String, String] = {
    val writeToField = transforms.map(t => t.writeName -> t.fieldName).toMap
    dir
      .split('/')
      .iterator
      .filter(_.contains("="))
      .flatMap { seg =>
        val Array(k, v) = seg.split("=", 2)
        writeToField.get(k).map(_ ->
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v))
      }
      .toMap
  }
}
