package graft.llm

import graft.fs.ControlFs
import graft.operators.HotPath.Pinnable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** Persisted MinHash-LSH dedup index — the INCREMENTAL form of
  * [[Dedup.minhashLshPairs]]: build the banded-bucket index over the
  * existing corpus ONCE, then dedup each new crawl/batch against it
  * without ever rescanning or self-joining the corpus. This is the shape
  * a 100 TB curation pipeline actually runs (the corpus is petabyte-class
  * and static between snapshots; arriving batches are small), where the
  * in-session pair search would re-shingle and re-bucket the whole corpus
  * per batch.
  *
  * Layout under `dir` (all written through Spark's filesystem layer, so
  * the index lives on the cluster's shared FS). Every [[build]] stages
  * its data tables under a fresh `gen-*` dir and commits the generation
  * in the meta row LAST (the [[IndexLayout]] protocol Search and
  * Decontaminate use), so a crash anywhere before the meta commit
  * leaves the previous generation's meta+tables fully paired — probes
  * keep answering from the old index. The meta commit itself is a
  * create-exclusive `ptr-vN` pointer publish ([[IndexLayout.publishMeta]],
  * r15) — there is no torn-meta state a crash can leave; the pre-r15
  * mutable `meta.parquet` is still read as a legacy fallback and retired
  * at the next publish. Both data tables are hive-partitioned
  * by the WRITER'S BATCH (-1 = the base build and non-replayable
  * appends; `appendBatch` writes its micro-batch id), so a replayed
  * streaming batch REPLACES its own partition instead of duplicating
  * rows — the index's exactly-once story:
  * {{{
  *   ptr-vN                 meta pointer — highest N wins (name = commit)
  *   meta-vN.parquet/       shingle n / numHashes / bands / gen
  *   gen-<g>/buckets.parquet/batch=<b>/   (id, band, bh)  — the LSH candidate index
  *   gen-<g>/shingles.parquet/batch=<b>/  (id, shset)     — exact-Jaccard verify sets
  * }}}
  *
  * Query cost at scale: the new batch's bucket keys are broadcast into a
  * join against the bucket index (corpus side never shuffles), candidate
  * pairs are verified with exact Jaccard against the stored shingle sets
  * (no false positives survive), and only candidate corpus rows are
  * fetched from `shingles.parquet`.
  */
object LshIndex {
  import StreamIndex.BaseBatch

  /** Probe-side broadcast hint gate (rows): at or below this many batch
    * rows the probe/verify joins are broadcast-hinted — the corpus-sized
    * index tables never shuffle, the streaming fast path. ABOVE it the
    * hints are dropped and AQE picks the join strategy: a bulk-backfill
    * "batch" can be corpus-sized, and an unconditional hint there is a
    * driver OOM, not a slow plan. Same size-based strategy switch as
    * [[Dedup.connectedComponents]]'s driverEdgeThreshold.
    */
  val ProbeBroadcastRowLimit: Long = 1L << 17

  /** Estimated in-memory bytes per broadcast payload — the byte arm of
    * the probe gate. A row limit alone under-gates set/vector-expanded
    * sides: the payload is rows × elements, not rows. */
  val ProbeBroadcastByteLimit: Long = 256L << 20

  /** Conservative in-memory bytes per shingle string (UTF8String + array
    * slot + object overhead) for the byte gate. */
  private[llm] val EstimatedShingleBytes: Long = 64L

  private val (bucketsSchema, shinglesSchema) =
    StreamIndex.schemas("band", "bh", StructField("shset", ArrayType(StringType)))

  // meta rides as a 1-row parquet THROUGH Spark's filesystem layer, like
  // the data tables — a driver-local java.nio file would split the index
  // across two filesystems on any cluster whose default FS isn't local
  // (the sibling IvfIndex persists everything the same way)
  /** On-disk layout version (bumped when the table structure changes —
    * v2 = batch-partitioned data tables; v3 = per-row `src_batch` + the
    * meta `compacted_through` watermark that make [[compact]] safe;
    * v4 = data tables under a meta-committed `gen-*` dir, making
    * [[build]] crash-atomic over a live index).
    * [[params]] rejects an index whose layout this code cannot read,
    * instead of failing later with Spark's
    * conflicting-directory-structures error.
    */
  private val LayoutVersion = 4

  /** Full meta row (internal): signature params + the compaction
    * watermark + the published generation. `compactedThrough` = largest
    * batch id folded into the base partition (-1 = never compacted).
    */
  private[graft] final case class LshMeta(
      n: Int, numHashes: Int, bands: Int, compactedThrough: Long, gen: String)

  private def writeMeta(
      spark: SparkSession, dir: String, n: Int, numHashes: Int, bands: Int,
      gen: String, compactedThrough: Long = -1L): Unit = {
    import spark.implicits._
    IndexLayout.publishMeta(dir) { path =>
      Seq((n, numHashes, bands, LayoutVersion, compactedThrough, gen))
        .toDF("n", "num_hashes", "bands", "layout", "compacted_through", "gen")
        .repartition(1)
        .write.mode("overwrite").parquet(path)
    }
  }

  private[graft] def readMeta(spark: SparkSession, dir: String): LshMeta = {
    val metaPath = IndexLayout.metaTablePath(dir).getOrElse(throw
      new IllegalArgumentException(s"no LshIndex at $dir — build it first"))
    val meta = spark.read.parquet(metaPath)
    val layout =
      if (meta.columns.contains("layout")) meta.select("layout").head().getInt(0) else 1
    require(layout == LayoutVersion,
      s"LshIndex at $dir has layout v$layout; this build reads v$LayoutVersion — rebuild the index")
    val r = meta.select("n", "num_hashes", "bands", "compacted_through", "gen").head()
    LshMeta(r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getString(4))
  }

  /** The published generation's data dir — where this index's
    * `buckets.parquet`/`shingles.parquet` live (test/diagnostic hook).
    */
  private[graft] def dataDir(spark: SparkSession, dir: String): String =
    s"$dir/${readMeta(spark, dir).gen}"

  /** THE shingle-set → per-band bucket key derivation — the byte-level
    * compatibility contract between the stored index and every probe.
    * One definition shared by build/append/query and the streaming
    * shell's features, so they can never drift apart. Appends `keysName`
    * to `sets`: element `band` is that band's bh; null for a null set.
    */
  private def withBucketKeys(
      sets: DataFrame, setName: String, keysName: String, numHashes: Int, bands: Int): DataFrame =
    sets
      .withColumn("__graft_sig", Dedup.minhashSignatureFromHashes(
        transform(col(setName), s => abs(xxhash64(s))), numHashes))
      .withColumn(keysName, when(col(setName).isNotNull, transform(
        Dedup.bandBuckets(col("__graft_sig"), bands, numHashes / bands), _.getField("bh"))))
      .drop("__graft_sig")

  /** (id, band, bh) index rows of `sets` (<idName>, <setName>). */
  private def bucketRows(
      sets: DataFrame, idName: String, setName: String, numHashes: Int, bands: Int): DataFrame =
    keyRows(withBucketKeys(sets.select(col(idName), col(setName)), setName, "__graft_keys",
      numHashes, bands), idName, "__graft_keys")

  /** (id, band, bh) rows of per-band keys (<idName>, <keysName>). */
  private def keyRows(keyed: DataFrame, idName: String, keysName: String): DataFrame =
    keyed.select(col(idName), posexplode(col(keysName)))
      .select(col(idName), col("pos").as("band"), col("col").as("bh"))

  private[graft] def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    IntegralId.require(df, idCol, "LshIndex")
    // tokenize/shingle (and the minhash kernel every consumer derives
    // from these sets) is CPU-bound per row: spread a narrow input —
    // a one-split corpus file, a small probe batch — across the cluster
    // BEFORE the kernel runs, moving only the raw (id, text) rows;
    // already-parallel inputs pass through untouched (no-op at scale,
    // where the scan has thousands of splits)
    // text aliased alongside the id rename (a textCol literally named
    // "id" would otherwise duplicate and break the downstream resolve)
    graft.operators.HotPath.spreadIfNarrow(
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("__graft_text")))
      .select(col("id"), Dedup.shingles(col("__graft_text"), n).as("shset"))
      // docs shorter than n tokens have EMPTY shingle sets: their minhash
      // signatures are all identical, so every such doc would collide with
      // every other in all bands — a quadratic candidate blow-up whose
      // pairs the 0/0-Jaccard verify discards anyway. They are
      // unindexable by this similarity measure; skip them.
      .filter(size(col("shset")) > 0)
  }

  /** Index `corpus` under `dir`. Returns the number of documents indexed.
    * Same signature parameters as [[Dedup.minhashLshPairs]] — the stored
    * bucket keys are byte-compatible with the in-session path.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      dir: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32
  ): Long = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val spark = corpus.sparkSession
    // staged generation publish (the IndexLayout protocol Search and
    // Decontaminate use): both data tables land under a FRESH gen-* dir,
    // then meta commits the generation LAST — a crash ANYWHERE before
    // the meta write (including between the two table writes, the
    // in-place window the pre-v4 layout documented as unsolved) leaves
    // the previous generation's meta+tables fully paired, and probes
    // keep answering from it. The superseded generation is kept one
    // cycle for in-flight probes; older ones and crash orphans sweep.
    val gen = IndexLayout.newGeneration()
    val prevGen = IndexLayout.publishedGen(spark, dir)
    // the verify sets are the durable form of the shingle pass — write
    // them first, then derive buckets from the WRITTEN table so the
    // (expensive) shingling runs exactly once
    // the doc count rides the shingles WRITE as an observe metric — the
    // pre-r19 `stored.count()` readback at the end of the build was one
    // whole extra scan job over the just-written table for a number this
    // write already knows (rows landed = docs indexed)
    val obs = org.apache.spark.sql.Observation(s"lsh_build_$gen")
    shingleSets(corpus, idCol, textCol, n)
      .transform(StreamIndex.tagged(_, BaseBatch))
      .observe(obs, count(lit(1)).as("docs"))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/$gen/shingles.parquet")
    val stored = StreamIndex.read(spark, s"$dir/$gen/shingles.parquet", shinglesSchema)
    bucketRows(stored, "id", "shset", numHashes, bands)
      .transform(StreamIndex.tagged(_, BaseBatch))
      .write.mode("overwrite").partitionBy("batch").parquet(s"$dir/$gen/buckets.parquet")
    writeMeta(spark, dir, n, numHashes, bands, gen)
    IndexLayout.sweepGenerations(spark, dir, keep = gen, prevPublished = prevGen)
    // a rebuild over a pre-v4 index leaves its ROOT-level tables
    // unreachable (v4 readers resolve $dir/$gen/... only) — delete them
    // here or each migrated index leaks one corpus-sized copy forever
    // (sweepGenerations matches gen-* names only)
    IndexLayout.cleanupQuietly(s"legacy-root reclaim at $dir") {
      Seq("buckets.parquet", "shingles.parquet")
        .foreach(t => ControlFs.delete(s"$dir/$t", recursive = true))
    }
    obs.get("docs").asInstanceOf[Long]
  }

  /** Fold a batch into the index (parquet append of its shingle sets and
    * bucket rows, same stored parameters) — the step after
    * [[queryBatch]] keeps the survivors: query the new crawl against the
    * corpus, drop the near-dups, append the rest, and the NEXT crawl
    * dedups against corpus + this batch without any rebuild. Ids must be
    * new (the index never rewrites existing entries). Returns the number
    * of documents appended.
    *
    * Failure semantics: buckets are appended FIRST, shingle sets second.
    * A crash between the two leaves ids with bucket rows but no verify
    * set — such candidates drop out of queryBatch's verify join (missed
    * pairs until re-append, never wrong ones), and RE-APPENDING the same
    * batch only duplicates bucket rows, which the candidate `distinct()`
    * absorbs. The reverse order would duplicate shingle rows on retry,
    * and duplicated verify sets emit duplicate result pairs. For a
    * REPLAYABLE writer (streaming), use [[appendBatch]], which is fully
    * idempotent per batch id.
    */
  def append(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String
  ): Long = appendAs(spark, dir, batch, idCol, textCol, BaseBatch)

  /** Idempotent, replay-safe variant of [[append]] for streaming
    * micro-batches: re-running the same batch REPLACES its
    * `batch=<batchId>` partitions, even when the replay computes fewer or
    * zero rows ([[StreamIndex.writeBatch]]). `batchId` must be ≥ 0
    * (negative values are the base partition) and each id must appear in
    * only one batch.
    */
  def appendBatch(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      batchId: Long
  ): Long = {
    require(batchId >= 0, s"appendBatch needs a non-negative batch id: $batchId")
    appendAs(spark, dir, batch, idCol, textCol, batchId)
  }

  /** [[append]] (`batchId` = BaseBatch) or [[appendBatch]]. */
  private def appendAs(spark: SparkSession, dir: String, batch: DataFrame, idCol: String,
      textCol: String, batchId: Long): Long = {
    val meta = readMeta(spark, dir)
    val replayable = batchId != BaseBatch
    // at or below the compaction watermark the batch is already FOLDED
    // into the base partition (no longer partition-addressable), so a
    // rewrite would duplicate it; [[compact]]'s contract makes this a
    // defensive no-op
    if (replayable && batchId <= meta.compactedThrough) return 0L
    val withSets = shingleSets(batch, idCol, textCol, meta.n)
      .localCheckpoint() // feeds both appends + the count
    StreamIndex.writeBatch(spark, batchId, replace = replayable)(
      s"$dir/${meta.gen}/buckets.parquet" ->
        StreamIndex.tagged(bucketRows(withSets, "id", "shset", meta.numHashes, meta.bands), batchId),
      s"$dir/${meta.gen}/shingles.parquet" -> StreamIndex.tagged(withSets, batchId))
    withSets.count()
  }

  /** Near-duplicate pairs between `batch` and the indexed corpus:
    * (id_new, id_indexed, isect) for exact n-gram Jaccard ≥ `threshold`,
    * candidates restricted to LSH bucket collisions (recall follows the
    * same band/row trade-off as [[Dedup.minhashLshPairs]]). Within-batch
    * duplicates are NOT reported — run the in-session pair search on the
    * batch for those, or fold the batch into the index.
    *
    * `excludeBatch`: skip one writer-batch's index rows — a REPLAYED
    * streaming batch must not match its own previous [[appendBatch]] rows
    * (every survivor would self-match at Jaccard 1 and be dropped,
    * silently losing the batch). Partition pruning makes the exclusion a
    * planning-time file skip for live partitions; rows already folded by
    * [[compact]] are excluded by their per-row `src_batch`.
    *
    * `broadcastRowLimit`: batches at or below this many rows take the
    * broadcast-hinted probe (the corpus side never shuffles); larger ones
    * (bulk backfills) drop the hints and let AQE choose — see
    * [[ProbeBroadcastRowLimit]].
    */
  def queryBatch(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      excludeBatch: Option[Long] = None,
      broadcastRowLimit: Long = ProbeBroadcastRowLimit
  ): DataFrame = {
    val meta = readMeta(spark, dir)
    val sets = shingleSets(batch, idCol, textCol, meta.n)
    querySets(spark, dir, withBucketKeys(sets, "shset", "keys", meta.numHashes, meta.bands)
      .select(col("id").as("id_new"), col("shset").as("set_new"), col("keys"))
      .localCheckpoint(), // feeds the bucket probe AND the verify join
      threshold, excludeBatch, meta, broadcastRowLimit)
  }

  /** [[queryBatch]] over `keyed`, a MATERIALIZED frame of the batch's
    * (id_new, set_new, keys): its sets and [[withBucketKeys]] keys. */
  private def querySets(
      spark: SparkSession,
      dir: String,
      keyed: DataFrame,
      threshold: Double,
      excludeBatch: Option[Long],
      meta: LshMeta,
      broadcastRowLimit: Long = ProbeBroadcastRowLimit
  ): DataFrame = {
    def visible(df: DataFrame): DataFrame = StreamIndex.visible(df, excludeBatch)
    val newSets = keyed.select("id_new", "set_new")
    // size gate on the materialized batch (one cheap agg over the
    // checkpointed blocks): rows AND payload elements — a row count
    // alone under-gates set-expanded payloads (131k docs of ~1000
    // shingles each are ~2.6 GB of broadcast despite passing the 2^17
    // row limit, the driver-OOM class the gate exists to prevent)
    val stats0 = newSets
      .agg(count(lit(1)), coalesce(sum(size(col("set_new"))), lit(0L))).head()
    val hinted = stats0.getLong(0) <= broadcastRowLimit &&
      stats0.getLong(1) * EstimatedShingleBytes <= ProbeBroadcastByteLimit
    def maybeBroadcast(df: DataFrame): DataFrame = if (hinted) broadcast(df) else df
    val newBuckets = keyRows(keyed, "id_new", "keys")
    val index = visible(StreamIndex.read(spark, s"$dir/${meta.gen}/buckets.parquet",
      bucketsSchema))
    // batch side broadcast: the corpus-sized index never shuffles
    val candidates = index
      .join(maybeBroadcast(newBuckets), Seq("band", "bh"))
      .select(col("id_new"), col("id").as("id_indexed"))
      .distinct()
      .localCheckpoint() // feeds the verify join AND its own size gate
    val storedSets = visible(StreamIndex.read(spark, s"$dir/${meta.gen}/shingles.parquet",
      shinglesSchema))
      .select(col("id").as("id_indexed"), col("shset").as("set_indexed"))
    // the verify side is CANDIDATE-sized, not batch-sized — bucket
    // collisions scale with batch × corpus, so the hint must be gated on
    // the materialized candidate count too (same fix as EmbIndex: a small
    // batch against a large corpus can otherwise build a driver-killing
    // broadcast); past the limit the verify join shuffles, the right
    // plan at that volume
    val candCount = candidates.count()
    // byte arm: each candidate row carries one batch shingle set, so the
    // verify payload is candidates × avg set size, not candidates alone
    val avgSetBytes = stats0.getLong(1) * EstimatedShingleBytes /
      math.max(1L, stats0.getLong(0))
    val verifyHinted = hinted && candCount <= broadcastRowLimit &&
      candCount * avgSetBytes <= ProbeBroadcastByteLimit
    val verifySide = candidates.join(maybeBroadcast(newSets), "id_new")
    // Past the candidate gate the verify used to SHUFFLE the candidate
    // stream with its per-row batch shingle set attached (candidates ×
    // ~KB — a skewed probe against a giant dup group makes that a
    // multi-GB exchange, r17 skew sweep). When the STORED side fits the
    // same byte gate, broadcast it instead: the fat candidate stream
    // then pipelines through two broadcast joins with zero exchanges.
    // Neither-fits keeps the shuffle join — the only shape at that scale.
    lazy val storedHintable = {
      val st = storedSets
        .agg(count(lit(1)), coalesce(sum(size(col("set_indexed"))), lit(0L))).head()
      st.getLong(0) <= broadcastRowLimit &&
        st.getLong(1) * EstimatedShingleBytes <= ProbeBroadcastByteLimit
    }
    val storedSide =
      if (!verifyHinted && storedHintable) broadcast(storedSets) else storedSets
    (if (verifyHinted) broadcast(verifySide) else verifySide)
      .join(storedSide, "id_indexed")
      .withColumn("isect", size(array_intersect(col("set_new"), col("set_indexed"))))
      .withColumn("union_sz", size(col("set_new")) + size(col("set_indexed")) - col("isect"))
      .withColumn("jaccard", col("isect").cast("double") / col("union_sz").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_indexed", "isect")
  }

  /** Fold the aged streaming batch partitions (0 ≤ b ≤ `upToBatch`) of
    * both data tables into the base partition and advance the meta
    * watermark — the index-family bin-pack (see [[IndexMaintenance]] for
    * the full crash/replay story). Contract: `upToBatch` must be strictly
    * below the stream checkpoint's last COMMITTED batch id, so no folded
    * batch can ever be replayed. Afterwards a (contract-violating)
    * replayed `appendBatch(b ≤ upToBatch)` no-ops instead of duplicating
    * rows, and `queryBatch(excludeBatch = b)` still excludes the folded
    * rows via their `src_batch` — probe results are bit-identical before
    * and after compaction.
    *
    * CONCURRENCY NOTE: folding deletes the aged `batch=<b>/` dirs in
    * place, so a probe whose scan was PLANNED before the fold and runs
    * after it can fail with FileNotFoundException — a transient,
    * replay-safe crash (the stream's next attempt plans against the
    * folded layout and returns bit-identical results), not data loss,
    * but stronger than the recall-only degradation of a crashed append.
    * Run compaction from the stream's own maintenance hook (between
    * triggers) or tolerate one stream restart; a reader-grace version
    * scheme (the [[IvfIndex]] generation protocol) is the non-disruptive
    * alternative if external compaction schedules are required.
    */
  def compact(spark: SparkSession, dir: String, upToBatch: Long): Unit = {
    require(upToBatch >= 0, s"compact needs a non-negative batch watermark: $upToBatch")
    val m = readMeta(spark, dir) // layout check up front
    IndexMaintenance.compactTable(spark, s"$dir/${m.gen}/buckets.parquet", bucketsSchema, upToBatch)
    IndexMaintenance.compactTable(spark, s"$dir/${m.gen}/shingles.parquet", shinglesSchema, upToBatch)
    // watermark last: a crash before this line leaves folded partitions
    // with a stale watermark — the defensive appendBatch no-op guard is
    // briefly narrower, but the contract (only compact committed batches)
    // already rules the replay out; re-running compact repairs the meta
    writeMeta(spark, dir, m.n, m.numHashes, m.bands, m.gen,
      math.max(m.compactedThrough, upToBatch))
  }

  /** This index as the streaming dedup shell drives it ([[StreamIndex]]):
    * the payload is the shingle set, keys are [[withBucketKeys]], verify is
    * exact Jaccard; the distributed arm shingles and signs the batch once,
    * spread, and probes, pairs and folds from that. */
  private[graft] def stream(spark: SparkSession, dir: String, idCol: String, textCol: String,
      threshold: Double): StreamIndex[Set[String]] =
    new Stream(spark, dir, readMeta(spark, dir), idCol, textCol, threshold)

  private final class Stream(spark: SparkSession, dir: String, meta: LshMeta, idCol: String,
      textCol: String, threshold: Double) extends StreamIndex[Set[String]](spark,
      (s"$dir/${meta.gen}/buckets.parquet", s"$dir/${meta.gen}/shingles.parquet"),
      (bucketsSchema, shinglesSchema), meta.compactedThrough) {
    import StreamIndex._
    def features(batch: DataFrame): DataFrame = {
      IntegralId.require(batch, idCol, "LshIndex")
      val x = batch.withColumn(FeatId, col(idCol).cast("long"))
        .withColumn(FeatX, Dedup.shingles(col(textCol), meta.n))
        // sub-n-token docs (empty sets) are unindexable — see shingleSets
        .withColumn(FeatX, when(size(col(FeatX)) > 0, col(FeatX)))
      withBucketKeys(x, FeatX, FeatKeys, meta.numHashes, meta.bands)
    }
    def payloadBytes(x: Column): Column = size(x).cast("long") * EstimatedShingleBytes
    def driverArm: Boolean = true
    def groupCap: Int = Dedup.GroupMaxBucket
    def verifyForm(x: Any): Set[String] = x.asInstanceOf[scala.collection.Seq[String]].toSet
    def similar(a: Set[String], b: Set[String]): Boolean = {
      val isect = a.count(b)
      isect.toDouble / (a.size + b.size - isect).toDouble >= threshold
    }
    def prepare(batch: DataFrame): DataFrame =
      features(graft.operators.HotPath.spreadIfNarrow(batch)).filter(col(FeatKeys).isNotNull).pin()
    def crossDups(prepared: DataFrame, batchId: Long): DataFrame =
      querySets(spark, dir, prepared.select(col(FeatId).as("id_new"), col(FeatX).as("set_new"),
        col(FeatKeys).as("keys")), threshold, Some(batchId), meta)
    def withinPairs(prepared: DataFrame): DataFrame =
      Dedup.minhashLshPairsFromSets(prepared.select(col(FeatId).as("id"), col(FeatX).as("shset")),
        numHashes = meta.numHashes, bands = meta.bands, threshold = threshold,
        maxBucket = Dedup.GroupMaxBucket).select("id_a", "id_b")
    def append(survivors: DataFrame, batchId: Long): Unit =
      fold(tagged(survivors.select(FeatId, FeatX, FeatKeys), batchId), batchId)
    def compact(upToBatch: Long): Unit = LshIndex.compact(spark, dir, upToBatch)
  }
}
