package graft.llm

import graft.fs.ControlFs

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Persisted hyperplane-LSH embedding index — the vector twin of
  * [[LshIndex]]: build the signature buckets over the existing corpus
  * ONCE, then dedup each arriving embedding batch against it with no
  * corpus rescan or self-join. Candidates come from signature-bucket
  * collisions; every reported pair is verified with the EXACT cosine, so
  * false positives never survive and the oracle is the exact cross-set
  * pair list (recall follows the same auto-sized bits/tables trade-off
  * as [[Dedup.embeddingNearDupPairs]]'s in-session path).
  *
  * Layout, generation publish and writer-batch partitioning exactly as
  * [[LshIndex]] (the shared bucket/payload shape is [[StreamIndex]]'s):
  * {{{
  *   ptr-vN              meta pointer — highest N wins (name = commit)
  *   meta-vN.parquet/    bits / tables / dim / layout / compacted_through / gen
  *   gen-<g>/vectors.parquet/batch=<b>/   (id, v, src_batch)    — normalized verify vectors
  *   gen-<g>/buckets.parquet/batch=<b>/   (id, t, sig, src_batch) — per-table LSH signatures
  * }}}
  *
  * Query cost at scale: the batch's (table, signature) keys broadcast
  * into a join against the bucket index — the corpus side never
  * shuffles; only candidate corpus vectors are fetched for the verify.
  */
object EmbIndex {
  import StreamIndex.BaseBatch

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** On-disk layout version (v1 = the unpartitioned original, no longer
    * readable; v2 = batch-partitioned tables + `src_batch` +
    * `compacted_through`, matching [[LshIndex]] v3; v3 = data tables
    * under a meta-committed `gen-*` dir, making [[build]] crash-atomic
    * over a live index, matching LshIndex v4). [[params]] rejects a
    * layout this code cannot read instead of failing later with Spark's
    * conflicting-directory-structures error — the loud-versioning
    * discipline LshIndex and the decontamination index already follow.
    */
  private val LayoutVersion = 3

  private val (bucketsSchema, vectorsSchema) =
    StreamIndex.schemas("t", "sig", StructField("v", ArrayType(DoubleType)))

  /** Full meta row (internal): signature params + compaction watermark +
    * the published generation. */
  private[graft] final case class EmbMeta(
      bits: Int, tables: Int, dim: Int, compactedThrough: Long, gen: String)

  private def writeMeta(spark: SparkSession, dir: String, bits: Int, tables: Int, dim: Int,
      gen: String, compactedThrough: Long = -1L): Unit = {
    import spark.implicits._
    IndexLayout.publishMeta(dir) { path =>
      Seq((bits, tables, dim, LayoutVersion, compactedThrough, gen))
        .toDF("bits", "tables", "dim", "layout", "compacted_through", "gen")
        .repartition(1)
        .write.mode("overwrite").parquet(path)
    }
  }

  private[graft] def readMeta(spark: SparkSession, dir: String): EmbMeta = {
    val metaPath = IndexLayout.metaTablePath(dir).getOrElse(throw
      new IllegalArgumentException(s"no EmbIndex at $dir — build it first"))
    val meta = spark.read.parquet(metaPath)
    val layout =
      if (meta.columns.contains("layout")) meta.select("layout").head().getInt(0) else 1
    require(layout == LayoutVersion,
      s"EmbIndex at $dir has layout v$layout; this build reads v$LayoutVersion — rebuild the index")
    val r = meta.select("bits", "tables", "dim", "compacted_through", "gen").head()
    EmbMeta(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getString(4))
  }

  /** The published generation's data dir — where this index's
    * `vectors.parquet`/`buckets.parquet` live (test/diagnostic hook).
    */
  private[graft] def dataDir(spark: SparkSession, dir: String): String =
    s"$dir/${readMeta(spark, dir).gen}"

  /** (bits, tables, dim) the index was built with — the signature
    * parameters a caller must reuse for any in-session search whose
    * results should be consistent with the index (e.g. the within-batch
    * pass of [[graft.streaming.EmbDedupStream]]).
    */
  def params(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val m = readMeta(spark, dir)
    (m.bits, m.tables, m.dim)
  }

  /** Width of the first usable vector, or None on an empty frame. A
    * build over zero usable vectors stores `dim = 0` ("undetermined")
    * instead of inventing a width: the signature kernel REJECTS
    * mismatched vectors loudly, so a fabricated 64 would crash the first
    * real append/query of a 4-dim corpus. The first non-empty append
    * pins the real width via [[resolveMeta]].
    */
  private def probeDim(vv: DataFrame, vecName: String): Option[Int] =
    vv.select(size(col(vecName)).as("__s")).filter(col("__s") > 0).take(1)
      .headOption.map(r => math.max(1, r.getInt(0)))

  /** Effective meta for an operation: a `dim = 0` snapshot (index built
    * empty) first re-reads disk — a concurrent/earlier append may have
    * pinned the width — then, given usable vectors, pins and persists
    * the width itself. Returns dim 0 only when the index AND the batch
    * are both vectorless (nothing to sign either way).
    */
  private def resolveMeta(
      spark: SparkSession, dir: String, meta: EmbMeta, vv: DataFrame): EmbMeta =
    if (meta.dim > 0) meta
    else {
      val disk = readMeta(spark, dir)
      if (disk.dim > 0) disk
      else probeDim(vv, "v") match {
        case Some(d) =>
          writeMeta(spark, dir, disk.bits, disk.tables, d, disk.gen, disk.compactedThrough)
          disk.copy(dim = d)
        case None => disk
      }
    }

  /** Rows of `vv` whose vector is exactly the index's signed width. A
    * width-mismatched embedding is a pipeline error upstream, but it can
    * also never VERIFY (the exact cosine across widths is NULL, never ≥
    * threshold), so the index excludes it instead of throwing: the
    * signature kernel's loud dim-mismatch guard would otherwise crash a
    * replayed streaming micro-batch forever on one bad row — the
    * EmbDedupStream wedge class [[Dedup.embeddingNearDupPairs]] already
    * filters out with the same `size(v) === dim` predicate. Probe-side
    * exclusions are silent by design (the row could never verify); the
    * APPEND paths log the dropped count per batch, so a systemic
    * upstream re-embed (every row at a new width = dedup silently
    * disabled until a rebuild) is observable instead of running green.
    */
  private def widthClean(vv: DataFrame, vecName: String, dim: Int): DataFrame =
    if (dim <= 0) vv else vv.filter(size(col(vecName)) === dim)

  /** Returns `kept` (the append's row count) and WARNs when the width
    * filter dropped any of `total` — see [[widthClean]]. */
  private def countWarningDropped(total: Long, kept: Long, dim: Int, where: String): Long = {
    if (kept < total)
      log.warn(s"$where: ${total - kept} of $total usable vectors have a different width " +
        s"than the index geometry (dim $dim) and were excluded — if this is every row, the " +
        "embedding model changed and dedup is effectively DISABLED until the index is rebuilt")
    kept
  }


  /** Normalized, dedup-able vectors of a frame: degenerate embeddings
    * (null/empty/zero/NaN/Inf) can never verify as near-dups — their
    * cosine is NULL/NaN — but their signatures would still collide
    * everywhere, so they are excluded up front (the analogue of
    * [[LshIndex]] skipping empty shingle sets).
    */
  private def usable(df: DataFrame, idCol: String, vecCol: String, outId: String): DataFrame = {
    IntegralId.require(df, idCol, "EmbIndex")
    df.select(col(idCol).cast("long").as(outId),
        Similarity.normalize(col(vecCol)).as("v"))
      .filter(Similarity.clusterable(col("v")))
  }

  /** Index `corpus` under `dir`. `bits`/`tables` default to the same
    * auto-sizing as the in-session path: bits from the corpus count
    * capped at the recall-feasible bound for `threshold`, tables from
    * the threshold at those bits — so the per-pair miss guarantee holds
    * as the corpus grows. Returns the number of vectors indexed.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      threshold: Double,
      bits: Int = Dedup.AutoSize,
      tables: Int = Dedup.AutoSize
  ): Long = {
    val spark = corpus.sparkSession
    // staged generation publish (the IndexLayout protocol): data tables
    // land under a fresh gen-* dir, meta commits the generation LAST — a
    // crash anywhere mid-rebuild (including between the two table
    // writes, the pre-v3 layout's documented in-place window) leaves the
    // previous generation's meta+tables fully paired
    val gen = IndexLayout.newGeneration()
    val prevGen = IndexLayout.publishedGen(spark, dir)
    val vv0 = usable(corpus, idCol, vecCol, "id")
    // pin the index width from the first usable vector and exclude
    // mismatched widths BEFORE anything is stored or signed (see
    // widthClean); empty build → dim 0 sentinel, pinned by the first
    // non-empty append
    val dim = probeDim(vv0, "v").getOrElse(0)
    // pre-filter total rides the WRITE job as an in-plan observation —
    // a corpus-sized build must not re-execute its (possibly expensive)
    // lineage a second time just to count what widthClean dropped (the
    // append paths count a materialized batch instead; a full corpus is
    // too big to pin)
    val totalObs = org.apache.spark.sql.Observation()
    val vv = widthClean(vv0.observe(totalObs, count(lit(1)).as("total")), "v", dim)
      .transform(StreamIndex.tagged(_, BaseBatch))
    vv.write.mode("overwrite").partitionBy("batch").parquet(s"$dir/$gen/vectors.parquet")
    val stored = StreamIndex.read(spark, s"$dir/$gen/vectors.parquet", vectorsSchema)
    // one job sizes the bits AND is the return value; routed through the
    // same drop-observability warn as the append paths (r14 advice): a
    // systemic re-embed at a new width during a FULL rebuild otherwise
    // produced a near-empty index with no log signal
    val n = countWarningDropped(
      totalObs.get("total").asInstanceOf[Long], stored.count(), dim, "EmbIndex.build")
    // auto-sized bits are ALWAYS capped at the recall-feasible bound (with
    // explicit tables: the bits at which THAT table count still meets the
    // per-pair miss tolerance) — only explicit bits waive the guarantee;
    // same policy as Dedup.embeddingNearDupPairs so the persisted and
    // in-session paths size identically
    val useBits =
      if (bits > 0) bits
      else math.min(Dedup.sizedLshBits(n), Dedup.recallFeasibleBits(threshold,
        maxTables = if (tables > 0) tables else 64))
    val useTables = if (tables > 0) tables else Dedup.sizedLshTables(threshold, useBits)
    Dedup.hyperplaneSigRows(stored, "id", "v", useBits, useTables, dim)
      .transform(StreamIndex.tagged(_, BaseBatch))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/$gen/buckets.parquet")
    // meta commits LAST (the family's publish order — see LshIndex.build
    // for the full rationale): a crash after a meta-first write paired
    // new bits/tables/dim and a RESET compacted_through with the OLD
    // bucket table — probes signed with new params against stale
    // signatures collide with nothing (silent zero recall), and replayed
    // appendBatch calls below the old watermark re-inserted folded rows.
    writeMeta(spark, dir, useBits, useTables, dim, gen)
    IndexLayout.sweepGenerations(spark, dir, keep = gen, prevPublished = prevGen)
    // reclaim a migrated pre-v3 index's root-level tables (unreachable
    // under the gen layout; see LshIndex.build)
    IndexLayout.cleanupQuietly(s"legacy-root reclaim at $dir") {
      Seq("buckets.parquet", "vectors.parquet")
        .foreach(t => ControlFs.delete(s"$dir/$t", recursive = true))
    }
    n
  }

  /** Near-duplicate pairs between `batch` and the indexed corpus:
    * (id_new, id_indexed, cosine) for exact cosine ≥ `threshold`,
    * candidates restricted to signature collisions in any table.
    * Within-batch duplicates are NOT reported — run the in-session pair
    * search on the batch, or fold it in with [[append]].
    *
    * `excludeBatch`: skip one writer-batch's index rows (a REPLAYED
    * streaming batch must not self-match its own previous [[appendBatch]]
    * rows — every survivor would match at cosine 1 and be dropped,
    * silently losing the batch). Partition pruning skips live partitions
    * at planning time; rows folded by [[compact]] are excluded by their
    * per-row `src_batch`.
    *
    * `broadcastRowLimit`: batches at or below this many rows take the
    * broadcast-hinted probe (the corpus side never shuffles); larger ones
    * (bulk backfills) drop the hints and let AQE choose.
    */
  def queryBatch(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      excludeBatch: Option[Long] = None,
      broadcastRowLimit: Long = LshIndex.ProbeBroadcastRowLimit
  ): DataFrame =
    queryBatchWith(spark, dir, batch, idCol, vecCol, threshold, excludeBatch,
      readMeta(spark, dir), broadcastRowLimit)

  private[graft] def queryBatchWith(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      excludeBatch: Option[Long],
      meta: EmbMeta,
      broadcastRowLimit: Long = LshIndex.ProbeBroadcastRowLimit
  ): DataFrame = {
    def visible(df: DataFrame): DataFrame = StreamIndex.visible(df, excludeBatch)
    val newVecs0 = usable(batch, idCol, vecCol, "id_new")
      .withColumnRenamed("v", "v_new")
    // a dim-0 snapshot = index built over zero vectors: nothing can
    // collide, and signing the batch against a fabricated plane width
    // would crash the kernel's mismatch guard — answer empty (after a
    // disk re-read in case an append pinned the width since the snapshot)
    val effMeta = resolveMeta(spark, dir,
      meta, newVecs0.select(col("id_new").as("id"), col("v_new").as("v")).limit(0))
    if (effMeta.dim == 0) {
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id_new", LongType), StructField("id_indexed", LongType),
          StructField("cosine", DoubleType))))
    }
    // width-mismatched batch vectors can never verify and would crash the
    // signature kernel's dim guard — exclude them (the EmbDedupStream
    // replay-wedge fix; see widthClean)
    val newVecs = widthClean(newVecs0, "v_new", effMeta.dim)
      .localCheckpoint() // feeds the signature probe AND the verify join
    // size gate on the materialized batch — rows AND bytes (the vector
    // payload is dim × 8 per row: at dim 4096 the 2^17-row limit alone
    // would admit a ~4 GB broadcast); only hint when the batch side is
    // genuinely broadcast-sized
    val vecBytes = effMeta.dim.toLong * 8L + 32L
    val batchRows = newVecs.count()
    val hinted = batchRows <= broadcastRowLimit &&
      batchRows * vecBytes <= LshIndex.ProbeBroadcastByteLimit
    def maybeBroadcast(df: DataFrame): DataFrame = if (hinted) broadcast(df) else df
    // Degenerate-geometry probe switch (r16, the in-session arm's twin —
    // see Dedup.embeddingNearDupPairs): when the index's OWN sizing says
    // its buckets cannot prune (expected random-pair coverage
    // 1-(1-2^-bits)^tables >= 0.25 — low build thresholds), the bucket join
    // yields ~every (batch x corpus) pair as a candidate and the probe
    // pays signatures + a candidate-sized distinct + two vector joins
    // for nothing. Cross-verify directly instead: one scan of the stored
    // vectors against the (gated) broadcast batch, exact cosine, no
    // shuffle. Output is a SUPERSET of the bucket path's (recall 1.0 vs
    // the miss tolerance) — strictly within the recall contract. The sf1
    // sweep measured the bucket path at exponent 1.37 on a threshold-0.45
    // index; the cross path is the corpus scan it was already paying,
    // minus the machinery.
    // gated on the batch being genuinely broadcast-sized: past the gate a
    // cross join would plan a cartesian shuffle — the bucket path stays
    // the plan there (equally candidate-heavy, but shuffle-structured)
    val storedVecs = visible(StreamIndex.read(spark, s"$dir/${effMeta.gen}/vectors.parquet",
      vectorsSchema))
      .select(col("id").as("id_indexed"), col("v").as("v_idx"))
    if (hinted && Similarity.lshRandomPairCoverage(effMeta.bits, effMeta.tables) >=
        Similarity.LshDegenerateCoverage) {
      return storedVecs.crossJoin(maybeBroadcast(newVecs))
        .select(col("id_new"), col("id_indexed"),
          Similarity.dot(col("v_new"), col("v_idx")).as("cosine"))
        .filter(col("cosine") >= threshold)
    }
    val newSigs = Dedup.hyperplaneSigRows(newVecs, "id_new", "v_new",
      effMeta.bits, effMeta.tables, effMeta.dim)
    val index = visible(StreamIndex.read(spark, s"$dir/${effMeta.gen}/buckets.parquet",
      bucketsSchema))
    // batch side broadcast: the corpus-sized index never shuffles
    val candidates = index
      .join(maybeBroadcast(newSigs), Seq("t", "sig"))
      .select(col("id_new"), col("id").as("id_indexed"))
      .distinct()
      .localCheckpoint() // feeds the verify join AND its own size gate
    // the verify side is CANDIDATE-sized, not batch-sized — signature
    // collisions scale with batch × corpus, so a small batch can still
    // yield a driver-killing candidate set (the sf1 probe found exactly
    // this: a 2k-row batch against a 10× corpus built a >2 GB broadcast).
    // Gate the hint on the materialized candidate count; past the limit
    // the verify join falls back to a shuffle, which is the right plan
    // at that volume anyway.
    val candCount = candidates.count()
    val verifyHinted = hinted && candCount <= broadcastRowLimit &&
      candCount * vecBytes <= LshIndex.ProbeBroadcastByteLimit
    val verifySide = candidates.join(maybeBroadcast(newVecs), "id_new")
    (if (verifyHinted) broadcast(verifySide) else verifySide)
      .join(storedVecs, "id_indexed")
      .select(col("id_new"), col("id_indexed"),
        Similarity.dot(col("v_new"), col("v_idx")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Fold a batch into the index. Same failure semantics as
    * [[LshIndex.append]]: buckets first, vectors second — a crash
    * between the two only loses recall until re-append (candidates with
    * no verify vector drop out), and a retry's duplicate bucket rows are
    * absorbed by the candidate `distinct()`. Ids must be new. Returns
    * the number of vectors appended.
    */
  def append(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): Long = appendBatchWith(spark, dir, batch, idCol, vecCol, BaseBatch, readMeta(spark, dir))

  /** Idempotent, replay-safe append for streaming micro-batches — the
    * exact semantics of [[LshIndex.appendBatch]]. A batch at or below the
    * [[compact]] watermark no-ops (already folded into the base). */
  def appendBatch(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      batchId: Long
  ): Long = {
    require(batchId >= 0, s"appendBatch needs a non-negative batch id: $batchId")
    appendBatchWith(spark, dir, batch, idCol, vecCol, batchId, readMeta(spark, dir))
  }

  /** [[append]] (`batchId` = BaseBatch) or [[appendBatch]] at `meta`. */
  private[graft] def appendBatchWith(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      batchId: Long,
      meta: EmbMeta
  ): Long = {
    val replayable = batchId != BaseBatch
    // already folded into base by compact — a replay's rows are present
    // and no longer partition-addressable; rewriting would duplicate them
    if (replayable && batchId <= meta.compactedThrough) return 0L
    val vv0 = usable(batch, idCol, vecCol, "id").localCheckpoint()
    // an index built empty carries dim 0 — the first non-empty append
    // pins the corpus width here (persisted, so later snapshots see it)
    val effMeta = resolveMeta(spark, dir, meta, vv0)
    // one width-mismatched row must not wedge a replayed micro-batch
    // forever on the sig kernel's dim guard (see widthClean)
    val vv = widthClean(vv0, "v", effMeta.dim)
    StreamIndex.writeBatch(spark, batchId, replace = replayable)(
      s"$dir/${effMeta.gen}/buckets.parquet" -> StreamIndex.tagged(
        Dedup.hyperplaneSigRows(vv, "id", "v", effMeta.bits, effMeta.tables, effMeta.dim), batchId),
      s"$dir/${effMeta.gen}/vectors.parquet" -> StreamIndex.tagged(vv, batchId))
    countWarningDropped(vv0.count(), vv.count(), effMeta.dim,
      if (replayable) s"EmbIndex.appendBatch(batch=$batchId)" else "EmbIndex.append")
  }

  /** Fold aged batch partitions (0 ≤ b ≤ `upToBatch`) of both data tables
    * into the base partition and advance the meta watermark — identical
    * contract and crash story to [[LshIndex.compact]] (see
    * [[IndexMaintenance]]): only compact batches below the stream's
    * committed checkpoint; afterwards replayed `appendBatch` no-ops and
    * `queryBatch(excludeBatch)` still excludes folded rows by
    * `src_batch`, so probe results are bit-identical across compaction.
    */
  def compact(spark: SparkSession, dir: String, upToBatch: Long): Unit = {
    require(upToBatch >= 0, s"compact needs a non-negative batch watermark: $upToBatch")
    val m = readMeta(spark, dir) // layout check up front
    IndexMaintenance.compactTable(spark, s"$dir/${m.gen}/buckets.parquet", bucketsSchema, upToBatch)
    IndexMaintenance.compactTable(spark, s"$dir/${m.gen}/vectors.parquet", vectorsSchema, upToBatch)
    writeMeta(spark, dir, m.bits, m.tables, m.dim, m.gen,
      math.max(m.compactedThrough, upToBatch))
  }

  /** This index as the streaming dedup shell drives it ([[StreamIndex]]):
    * normalized vector, [[Dedup.hyperplaneSigs]] keys, exact cosine. Until
    * an append pins the width of an index built empty (meta re-read each
    * trigger), and whenever its sizing cannot prune (the probe's
    * cross-verify switch), the shell takes the distributed arm, which runs
    * the batch calls [[queryBatchWith]], [[Dedup.embeddingNearDupPairs]]
    * and [[appendBatchWith]] on the batch's own columns. */
  private[graft] def stream(spark: SparkSession, dir: String, idCol: String, vecCol: String,
      threshold: Double): StreamIndex[ArrayData] =
    new Stream(spark, dir, readMeta(spark, dir), idCol, vecCol, threshold)

  private final class Stream(spark: SparkSession, dir: String, meta0: EmbMeta, idCol: String,
      vecCol: String, threshold: Double) extends StreamIndex[ArrayData](spark,
      (s"$dir/${meta0.gen}/buckets.parquet", s"$dir/${meta0.gen}/vectors.parquet"),
      (bucketsSchema, vectorsSchema), meta0.compactedThrough) {
    import StreamIndex._
    private var meta = meta0
    def features(batch: DataFrame): DataFrame = {
      IntegralId.require(batch, idCol, "EmbIndex")
      val x = batch.withColumn(FeatId, col(idCol).cast("long"))
        .withColumn(FeatX, Similarity.normalize(col(vecCol)))
        .withColumn(FeatX, when(Similarity.clusterable(col(FeatX)), col(FeatX)))
      // only the driver arm reads features, and only at a pinned width
      x.withColumn(FeatKeys, when(size(col(FeatX)) === meta.dim,
        Dedup.hyperplaneSigs(col(FeatX), meta.bits, meta.tables, meta.dim)))
    }
    def payloadBytes(x: Column): Column = lit(meta.dim.toLong * 8L + 32L)
    def driverArm: Boolean = {
      if (meta.dim == 0) meta = readMeta(spark, dir)
      meta.dim > 0 &&
        Similarity.lshRandomPairCoverage(meta.bits, meta.tables) < Similarity.LshDegenerateCoverage
    }
    def groupCap: Int = 0
    def verifyForm(x: Any): ArrayData =
      ArrayData.toArrayData(x.asInstanceOf[scala.collection.Seq[Double]].toArray)
    def similar(a: ArrayData, b: ArrayData): Boolean = // the Spark-side verify's own kernel
      Option(graft.functions.VectorKernels.dotDD(a, b, false)).exists(_ >= threshold)
    override def foldRows(rows: Seq[Row], batchId: Long): Unit = {
      countWarningDropped(rows.size, rows.count(!_.isNullAt(2)), meta.dim,
        s"EmbIndex stream fold (batch=$batchId)")
      super.foldRows(rows, batchId)
    }
    def prepare(batch: DataFrame): DataFrame = batch
    def crossDups(prepared: DataFrame, batchId: Long): DataFrame =
      queryBatchWith(spark, dir, prepared, idCol, vecCol, threshold, Some(batchId), meta)
    def withinPairs(prepared: DataFrame): DataFrame =
      // dim pinned to the index's width: a degenerate leading vector must
      // not re-detect a narrower plane set than the index was built with
      Dedup.embeddingNearDupPairs(prepared, idCol, vecCol, threshold,
        lshBits = meta.bits, lshTables = meta.tables, dim0 = meta.dim).select("id_a", "id_b")
    def append(survivors: DataFrame, batchId: Long): Unit = {
      appendBatchWith(spark, dir, survivors, idCol, vecCol, batchId, meta); ()
    }
    def compact(upToBatch: Long): Unit = EmbIndex.compact(spark, dir, upToBatch)
  }
}
