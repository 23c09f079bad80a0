package graft.llm

import graft.fs.ControlFs
import graft.operators.HotPath

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index — the cluster-grade form of [[Similarity.ivfKnn]]'s
  * in-session index (whose `localCheckpoint` materialization is
  * executor-local and not fault-tolerant; see DESIGN.md §2).
  *
  * Layout under `dir` — every geometry lives in a versioned subdir and a
  * numbered pointer file names the active one (build and rebalance share
  * one publish protocol):
  * {{{
  *   ptr-vN                    pointer file — highest N wins
  *   vN/centroids.parquet      (c_id, c_vec[, s_id])   — nCells rows
  *   vN/supers.parquet         (s_id, s_vec)           — two-level only
  *   vN/assignments.parquet    (n_id, n_vec) PARTITIONED BY c_id
  *   vN/SUPERSEDED             stamp (millis) once replaced — sweeps
  *                             measure reader grace from it
  * }}}
  * [[build]] and [[rebalance]] both stage a fresh `vN/` and publish it by
  * CREATING `ptr-vN` — one create-exclusive PUT, atomic on every
  * filesystem including object stores where rename is copy+delete;
  * readers ([[activeDir]]) take the highest-numbered pointer (the same
  * grow-only convention CommitLog's commit files use; a legacy mutable
  * `CURRENT` file is still read as a fallback for pre-r14 indexes). A
  * crash mid-publish or a concurrent query never sees a half-written
  * geometry. The previous generation is KEPT one cycle for
  * in-flight readers that resolved the pointer just before the swap;
  * older generations and crash orphans are swept at the next
  * build/rebalance entry once past [[DefaultOrphanGraceMs]] — and a
  * sweep RECONCILES first (rows present only in the victim, i.e. late
  * concurrent appends into a superseded geometry, are re-routed into the
  * active one), so maintenance never destroys data. A full [[build]] is
  * the one exception: its `corpus` argument is the declared source of
  * truth, so its entry sweep does not reconcile.
  *
  * Routing has two shapes, chosen by cell count at build time:
  *  - '''one-level''' (nCells ≤ `twoLevelGate`): centroids are collected
  *    to the driver and routing is the [[Similarity.nearestCentroid]]
  *    literal argmax — exact, and cheap while the centroid table is
  *    operation-sized (the 4096-cell default gate caps the collect at
  *    ~2 MB). Large literal argmaxes exceed janino's 64 KB method limit
  *    well below the gate, so Spark evaluates them INTERPRETED — the
  *    measured route-probe crossover (SCALE.md "routing shape", which
  *    includes that fallback cost) still lands right at 4096.
  *  - '''two-level''' (nCells > gate): centroids are themselves
  *    clustered into ~√nCells super-cells (the FAISS IMI / two-level
  *    coarse-quantizer shape). Only the SUPER table is ever collected
  *    (√scale: ~1.3 k rows at 1.6 M cells, vs 0.8 GB for the full
  *    table); corpus rows route super-first via the literal argmax over
  *    supers, then to the nearest cell WITHIN that super through a
  *    grouped-cells join + one higher-order argmax — no driver-sized
  *    collect and no million-branch expression anywhere on the path, at
  *    the cost of IMI-style approximate assignment (a row near a super
  *    boundary may land in a neighbouring super's cell; queries probe
  *    `wProbe` supers to compensate, the standard IMI recall knob).
  *
  * The assignment table is hive-partitioned by cell id, so a query that
  * probes `nProbe` of `nCells` cells reads ONLY those cells' files —
  * Spark's partition pruning (`PartitionFilters: c_id IN (...)`) skips
  * the rest at planning time, the same I/O story a FAISS IVF list layout
  * gives a single node. Build once per corpus version, query many times;
  * at 100 TB the build is one training pass plus one partitioned write.
  *
  * The version CONTROL PLANE (pointer files, `vN/` listing, supersession
  * stamps, sweeps) runs entirely on Hadoop's filesystem layer via
  * [[ControlFs]] — the same layer the data tables use — so the index `dir`
  * may live on the cluster default FS (`hdfs://`, `s3a://`, any
  * registered scheme), closing r13's java.nio deployment boundary. The
  * protocol needs no atomic rename anywhere: publishes are
  * create-exclusive pointer files, supersession times are explicit stamp
  * FILES (not dir mtimes, which object stores don't keep), and an
  * unstamped orphan's grace clock starts at first sweep observation.
  * Exercised against a non-default-scheme `FileSystem` in LlmSuite
  * ("IVF control plane runs on a registered Hadoop filesystem scheme").
  */
object IvfIndex {

  /** Cell counts above this build the two-level geometry. At the gate the
    * one-level shape still collects ≤ gate × dim × 8 B ≈ 2 MB (64-dim)
    * and its literal argmax still compiles; past it, both stop scaling.
    */
  val DefaultTwoLevelGate = 4096

  /** Version dirs not pointer-referenced survive this long before a
    * build/rebalance entry sweep deletes them — the grace window an
    * in-flight reader (which resolved the pointer once, then scans) gets
    * to finish against a superseded generation.
    */
  val DefaultOrphanGraceMs: Long = 60L * 60 * 1000

  /** Train the coarse quantizer on `corpus` and persist the geometry as a
    * fresh version under `dir` (staged `vN/` + pointer publish — see the
    * object doc). Returns the number of cells actually written:
    * one-level geometries write ≤ `nCells`; two-level geometries train
    * `ceil(nCells/√nCells)` cells under each of `√nCells` supers, so the
    * written count can EXCEED `nCells` by up to ~√nCells (a ≲2% rounding
    * overshoot at the gate, shrinking as nCells grows — occupancy math
    * should use the RETURNED count, not the requested one). Empty
    * corpora produce an empty index.
    */
  def build(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dir: String,
      nCells: Int = 16,
      kmeansIters: Int = 2,
      twoLevelGate: Int = DefaultTwoLevelGate,
      orphanGraceMs: Long = DefaultOrphanGraceMs
  ): Int = {
    val spark = corpus.sparkSession
    IntegralId.require(corpus, idCol, "IvfIndex.build")
    ControlFs.mkdirs(dir)
    val prev = currentVersion(dir)
    // entry sweep WITHOUT reconcile: a full rebuild declares `corpus` the
    // source of truth, so superseded generations' contents are moot
    sweep(spark, dir, keep = prev.toSet, graceMs = orphanGraceMs, reconcileInto = None)
    val c0 = corpus
      .select(col(idCol).cast("long").as("n_id"), Similarity.normalize(col(vecCol)).as("n_vec"))
      // same degenerate-vector exclusion as [[append]] and kmeans: a NaN
      // vector left in poisons its cell's Lloyd mean every iteration
      .filter(Similarity.clusterable(col("n_vec")))
    // width-mismatched vectors are excluded like kmeans does: NULL dots
    // would route them to the lowest-id cell and skew its Lloyd mean
    val buildDim = Similarity.detectDim(c0)
    val c = c0.filter(size(col("n_vec")) === buildDim)
      .localCheckpoint() // training scans it repeatedly; the WRITE below is its durable form
    val next = s"v${nextVersion(dir)}"
    val written = writeGeometry(spark, c, s"$dir/$next", nCells, kmeansIters, twoLevelGate)
    swapPointer(dir, next)
    // Everything below the pointer swap is retirement — a failure there
    // must not fail a build whose publish already landed (an unstamped
    // superseded dir just starts its grace clock at first sweep
    // observation, and the next entry sweep re-attempts the prune).
    // grace clocks run from SUPERSESSION, not creation: a generation that
    // was active for hours must still get its full reader grace window
    IndexLayout.cleanupQuietly(s"supersession stamps at $dir") {
      prev.foreach(p => markSuperseded(s"$dir/$p"))
    }
    // keep the just-replaced generation explicitly; older ones fall to
    // the grace window (measured from when THEY were superseded)
    IndexLayout.cleanupQuietly(s"post-build sweep at $dir") {
      sweep(spark, dir, keep = Set(next) ++ prev, graceMs = orphanGraceMs, reconcileInto = None)
    }
    written
  }

  /** Incremental append — assign new vectors to the EXISTING centroids
    * and append them to their cells' partitions, the standard IVF add
    * path (FAISS adds to trained lists the same way): no retrain, one
    * map-side assignment pass, one partitioned append; queries see the
    * new vectors immediately through the same partition-pruned scan.
    *
    * The coarse quantizer is deliberately left untouched: centroids are
    * the ROUTING structure, and moving them would strand previously
    * assigned vectors in cells a query no longer probes for them. The
    * cost is centroid drift — as appended data shifts the distribution,
    * cell occupancy skews and recall-per-nProbe decays — and the remedy
    * is a periodic [[build]] rebuild (retrain + reassign), exactly the
    * re-cluster trigger FAISS documents for drifting corpora. Ids must
    * be new; degenerate vectors (null/empty/zero/NaN) are skipped like
    * everywhere else in the vector family. Returns the number of
    * vectors appended.
    *
    * An append racing a concurrent [[rebalance]] may land in the
    * geometry the rebalance is retiring; the rebalance re-routes such
    * rows into the new geometry after its pointer swap (and again before
    * any sweep deletes the old dir), so the rows survive — but the
    * recommended deployment is still a single maintenance writer.
    */
  def append(
      spark: SparkSession,
      dir: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String
  ): Long = {
    // resolve the active geometry ONCE so the centroids routing this
    // batch and the assignment table it lands in are the same version
    val adir = activeDir(dir)
    IntegralId.require(batch, idCol, "IvfIndex.append")
    val vv = batch
      .select(col(idCol).cast("long").as("n_id"), Similarity.normalize(col(vecCol)).as("n_vec"))
      .filter(Similarity.clusterable(col("n_vec")))
      .localCheckpoint() // feeds the partitioned write AND the count
    // an append into a PERSISTED index fails LOUDLY on width-mismatched
    // vectors (a systemic pipeline error, unlike inherent data junk):
    // their NULL dots would route them all to the lowest-id cell, where
    // they bloat every probe of that cell forever while never matching.
    // One aggregate job doubles as the return-value count.
    val geoDim = spark.read.parquet(s"$adir/centroids.parquet")
      .select(size(col("c_vec")).as("__d")).take(1) match {
      case Array(r) if !r.isNullAt(0) => r.getInt(0)
      case _                          => 0
    }
    val stats = vv.agg(
      count(lit(1)).as("n"),
      count(when(size(col("n_vec")) =!= geoDim, 1)).as("bad")).head()
    require(geoDim == 0 || stats.getLong(1) == 0L,
      s"IvfIndex.append: ${stats.getLong(1)} vector(s) have a different width than the " +
        s"index geometry (dim $geoDim) — re-embed or rebuild the index at the new width")
    appendAssigned(spark, adir, vv)
    stats.getLong(0)
  }

  /** Re-shard the index when cells outgrow a target occupancy — the
    * executable form of the "grow nCells with the corpus" deployment
    * knob (SCALE.md): at FIXED cell geometry a probe's cost is
    * asymptotically linear in corpus size (each probed cell holds
    * n/nCells vectors); rebalancing to
    * `nCells' = ceil(vectors / targetCellRows)` restores ~constant
    * per-cell row counts, so probe cost tracks `nProbe · targetCellRows`
    * instead of the corpus. When the new cell count crosses
    * `twoLevelGate` the rewritten geometry comes out two-level — the
    * same arithmetic that grows nCells to ~1.6 M at 10^10 vectors is
    * what retires the driver-collected routing shape.
    *
    * Retrains the coarse quantizer ON the existing (already normalized)
    * assignments, reassigns every vector, and rewrites centroids +
    * cell partitions — one training pass plus one partitioned rewrite,
    * the same cost shape as [[build]]. No-op (returns the current cell
    * count) while mean occupancy is within target. After the pointer
    * swap the old generation is RE-READ and any rows missing from the
    * staged assignments (appends that raced the rewrite) are re-routed
    * into the new geometry, closing the snapshot-to-swap loss window.
    * Returns the cell count actually written.
    */
  def rebalance(
      spark: SparkSession,
      dir: String,
      targetCellRows: Long,
      kmeansIters: Int = 2,
      twoLevelGate: Int = DefaultTwoLevelGate,
      orphanGraceMs: Long = DefaultOrphanGraceMs
  ): Int = {
    require(targetCellRows > 0, s"targetCellRows must be > 0: $targetCellRows")
    val cur = activeDir(dir)
    val curName = new org.apache.hadoop.fs.Path(cur).getName
    // entry sweep WITH reconcile: grace-expired superseded dirs may hold
    // late appends — recover them into the active geometry, then delete
    sweep(spark, dir, keep = Set(curName), graceMs = orphanGraceMs, reconcileInto = Some(cur))
    val curCells = spark.read.parquet(s"$cur/centroids.parquet").count()
    // empty geometry (no assignments ever written): nothing to re-shard
    if (!ControlFs.exists(s"$cur/assignments.parquet")) return curCells.toInt
    val assignedSrc = spark.read.parquet(s"$cur/assignments.parquet").select("n_id", "n_vec")
    // occupancy guard BEFORE any materialization: Maintenance.autoIndex
    // calls this after every batch, and the healthy-index path must cost
    // one metadata count, not an O(corpus) checkpoint pin
    val total = assignedSrc.count()
    if (total == 0L || curCells <= 0L) return curCells.toInt
    if (total / curCells <= targetCellRows) return curCells.toInt
    // the multi-pass retrain scans this repeatedly; the checkpoint also
    // decouples it from the source files (swept after the swap)
    val assigned = assignedSrc.localCheckpoint()
    // clamp in Long space BEFORE narrowing: .toInt on the Long ceil would
    // wrap past 2^31 and reach trainCentroids with a garbage (possibly
    // negative) cell count instead of the clamp
    val newCells =
      math.min((total + targetCellRows - 1) / targetCellRows, Int.MaxValue.toLong).toInt
    val next = s"v${nextVersion(dir)}"
    val written = writeGeometry(spark, assigned, s"$dir/$next", newCells, kmeansIters, twoLevelGate)
    swapPointer(dir, next)
    // Below the pointer swap: retirement + late-append repair. A failure
    // in any step must not fail a rebalance whose publish landed — each
    // gets its own guard and a failure in one doesn't skip the rest.
    // Re-attempt story per step: the stamp and the sweep are re-run by
    // the next REBALANCE's sweep (a crash at the same point leaves the
    // identical state); the late-append RECONCILE is re-run only by a
    // future rebalance's sweep (`reconcileInto`) — a full build()'s
    // entry sweep deliberately passes reconcileInto = None (its snapshot
    // already covers the corpus), so appends that raced THIS rebalance
    // and then lost their reconcile to the guard are recovered by the
    // next rebalance, not by a rebuild. The guard's WARN says so.
    // site anchored on $dir, not the per-rebalance $cur/$next: the alarm
    // tracks CONSECUTIVE failures per site, and a stuck sweep is a
    // per-INDEX pathology (auth/ACL), not a per-generation one
    IndexLayout.cleanupQuietly(s"supersession stamp at $dir") {
      markSuperseded(cur) // grace clock runs from supersession (see build)
    }
    // close the concurrent-append window: rows that landed in the OLD
    // geometry after the snapshot re-route into the new one
    IndexLayout.cleanupQuietly(
      s"late-append reconcile at $dir (recovered by a future rebalance's " +
        "sweep, NOT by build(), whose entry sweep skips reconciliation)") {
      reconcile(spark, cur, s"$dir/$next")
    }
    // prune superseded version dirs past THEIR grace window (after
    // reconciling each), keeping the one we just replaced for in-flight
    // readers that resolved the pointer before the swap
    IndexLayout.cleanupQuietly(s"post-rebalance sweep at $dir") {
      sweep(spark, dir, keep = Set(next, curName), graceMs = orphanGraceMs,
        reconcileInto = Some(s"$dir/$next"))
    }
    written
  }

  /** Stamp a generation's supersession time (an explicit `SUPERSEDED`
    * file holding epoch millis — dir mtimes don't exist on object
    * stores): sweeps measure the reader grace window from this moment,
    * not from when the dir was created — a generation that was ACTIVE
    * for hours still gets its full window.
    */
  private def markSuperseded(genDir: String): Unit =
    if (ControlFs.exists(genDir))
      ControlFs.writeSmall(s"$genDir/SUPERSEDED", System.currentTimeMillis().toString)

  /** The stamped supersession time, or None for an unstamped dir (a
    * crash-before-publish orphan no swap ever marked).
    */
  private def supersededAt(genDir: String): Option[Long] =
    ControlFs.readSmall(s"$genDir/SUPERSEDED")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)

  private val PtrName = "ptr-(v\\d+)".r

  /** Resolve the ACTIVE layout under `dir`: [[build]]/[[rebalance]]
    * publish centroids+assignments in a versioned subdirectory and then
    * create a numbered `ptr-vN` file; readers take the highest number,
    * and resolve it ONCE per operation so centroids and assignments
    * always come from the same geometry. Falls back to a legacy mutable
    * `CURRENT` file (pre-r14 indexes), then to `dir` itself (a
    * pre-versioning legacy index).
    */
  def activeDir(dir: String): String =
    currentVersion(dir).map(v => s"$dir/$v").getOrElse(dir)

  private def currentVersion(dir: String): Option[String] = {
    val ptrs = ControlFs.listNames(dir).collect {
      case PtrName(v) => v
    }
    if (ptrs.nonEmpty) Some(ptrs.maxBy(_.drop(1).toLong))
    else ControlFs.readSmall(s"$dir/CURRENT").map(_.trim).filter(_.nonEmpty)
  }

  private def nextVersion(dir: String): Long = {
    val names = ControlFs.listNames(dir)
    // pointer files and the legacy CURRENT content bound the floor too: a
    // version name must never be reused while anything might reference it
    val seqs = names.collect { case n if n.matches("v\\d+") => n.drop(1).toLong } ++
      names.collect { case PtrName(v) => v.drop(1).toLong } ++
      ControlFs.readSmall(s"$dir/CURRENT").map(_.trim).collect {
        case v if v.matches("v\\d+") => v.drop(1).toLong
      }
    seqs.foldLeft(0L)(math.max) + 1
  }

  /** Publish `version` as the active geometry: one create-exclusive
    * pointer file (no rename anywhere — object stores implement rename
    * as a non-atomic copy+delete; see [[ControlFs.createExclusive]] for
    * the exact per-FS exclusivity bounds). Versions are monotonic
    * ([[nextVersion]]), so highest-pointer-wins is exactly last-publish
    * -wins. The legacy mutable `CURRENT` file, if any, is retired AFTER
    * the new pointer exists (numbered pointers take precedence, so a
    * crash between the two steps is benign); superseded pointer files
    * are pruned down to the newest two — a reader whose listing raced
    * this publish may still act on the previous pointer, whose
    * generation is kept one cycle anyway.
    */
  private def swapPointer(dir: String, version: String): Unit = {
    ControlFs.createExclusive(s"$dir/ptr-$version", version)
    ControlFs.delete(s"$dir/CURRENT", recursive = false)
    ControlFs.list(dir)
      .flatMap { st =>
        st.getPath.getName match {
          case PtrName(v) => Some((v.drop(1).toLong, st.getPath))
          case _          => None
        }
      }
      .sortBy(-_._1)
      .drop(2)
      .foreach { case (_, p) => ControlFs.delete(p.toString, recursive = false) }
  }

  /** Delete version dirs that are neither pointer-referenced nor in
    * `keep` and are past their `graceMs` reader window (crash-before-
    * publish orphans and superseded generations). The grace anchor is
    * the explicit `SUPERSEDED` stamp ([[markSuperseded]]); an UNSTAMPED
    * dir — an orphan no swap ever marked — gets stamped at first sweep
    * observation and becomes eligible one full window later, which is
    * portable where dir mtimes are not (object stores) and strictly
    * safer for any reader that found it. With `reconcileInto` set, each
    * victim is [[reconcile]]d into the active dir first, so rows that
    * only ever landed in a superseded geometry (late concurrent appends)
    * survive the sweep.
    */
  private def sweep(
      spark: SparkSession,
      dir: String,
      keep: Set[String],
      graceMs: Long,
      reconcileInto: Option[String]
  ): Unit = {
    val entries = ControlFs.list(dir)
    if (entries.isEmpty) return
    val current = currentVersion(dir)
    val now = System.currentTimeMillis()
    val victims = entries
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.matches("v\\d+") && !keep.contains(n) && !current.contains(n)
      }
      .filter { st =>
        graceMs <= 0L || (supersededAt(st.getPath.toString) match {
          case Some(t) => t < now - graceMs
          case None    => markSuperseded(st.getPath.toString); false
        })
      }
    victims.foreach { st =>
      // a victim is deleted only when its rows are provably safe: either
      // no reconcile target was requested (build's rebuild-from-corpus
      // semantics) or the reconcile actually ran — a target that cannot
      // accept rows (empty geometry, no assignment table) must NOT cause
      // a data-bearing victim to be destroyed
      val safe = reconcileInto match {
        case None    => true
        case Some(t) => reconcile(spark, st.getPath.toString, t).isDefined
      }
      if (safe) ControlFs.delete(st.getPath.toString, recursive = true)
    }
  }

  /** Re-route rows present in `fromDir`'s assignments but absent from
    * `toDir`'s (by n_id) into `toDir` — the recovery arm for appends that
    * raced a rebalance. Returns Some(rows recovered); an empty victim
    * reconciles trivially (Some(0)), but a TARGET with no assignment
    * table (empty geometry) returns None — it cannot accept rows, so the
    * caller must not treat the victim as recovered.
    */
  private def reconcile(spark: SparkSession, fromDir: String, toDir: String): Option[Long] = {
    if (!ControlFs.exists(s"$fromDir/assignments.parquet")) return Some(0L)
    if (!ControlFs.exists(s"$toDir/assignments.parquet")) return None
    val old = spark.read.parquet(s"$fromDir/assignments.parquet").select("n_id", "n_vec")
    val act = spark.read.parquet(s"$toDir/assignments.parquet").select("n_id")
    val missing = old.join(act, Seq("n_id"), "left_anti").localCheckpoint()
    val n = missing.count()
    if (n > 0) appendAssigned(spark, toDir, missing)
    Some(n)
  }

  /** Train + persist ONE geometry version under `stage`; returns cells
    * written. One-level at or below the gate (exact literal-argmax
    * routing), two-level above it.
    */
  private def writeGeometry(
      spark: SparkSession,
      c: DataFrame,
      stage: String,
      nCells: Int,
      kmeansIters: Int,
      twoLevelGate: Int
  ): Int = {
    import spark.implicits._
    val dim = Similarity.detectDim(c)
    // Both branches: the tiny geometry writes (driver-held centroids /
    // supers, one small file each) are independent of the corpus-sized
    // assignments write — overlap them so their per-job floor hides under
    // the big write (guide §2.6); both finish before return, so the
    // publish order (meta LAST, outside this method) is unchanged.
    // The assignments cluster by cell via an AQE REBALANCE (guide §6) —
    // a plain repartition(col) pinned every cell to one fixed task (32
    // fixed tasks at any input size, a hot cell serializing its rows);
    // the rebalance coalesces tiny cells into few write tasks and
    // range-splits a skewed cell, same one-cell-per-file clustering.
    if (nCells <= twoLevelGate) {
      val cents = Similarity.trainCentroids(c, nCells, kmeansIters, dim)
      HotPath.overlap("IVF geometry write", spark) {
        cents.toSeq.map { case (id, v) => (id, v.toSeq) }
          .toDF("c_id", "c_vec")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$stage/centroids.parquet")
      } {
        if (cents.nonEmpty) {
          c.withColumn("c_id", Similarity.nearestCentroid(col("n_vec"), cents).getField("c_id"))
            .select("n_id", "n_vec", "c_id")
            // cluster rows by cell so each cell's files hold only that cell
            .hint("rebalance", col("c_id"))
            .write.mode("overwrite").partitionBy("c_id").parquet(s"$stage/assignments.parquet")
        }
      }
      cents.length
    } else {
      val (supers, cells0) = trainTwoLevel(c, nCells, kmeansIters, dim)
      val cells = cells0.localCheckpoint() // feeds the write, the routing join, and the count
      HotPath.overlap("IVF geometry write", spark) {
        spark.createDataset(supers.toSeq.map { case (id, v) => (id, v.toSeq) })
          .toDF("s_id", "s_vec")
          .repartition(1)
          .write.mode("overwrite").parquet(s"$stage/supers.parquet")
        cells.repartition(1).write.mode("overwrite").parquet(s"$stage/centroids.parquet")
      } {
        val n = cells.count()
        if (n > 0) {
          assignTwoLevel(c, supersWithCells(spark, cells, supers), groupCells(cells))
            .hint("rebalance", col("c_id"))
            .write.mode("overwrite").partitionBy("c_id").parquet(s"$stage/assignments.parquet")
        }
        n.toInt
      }._2
    }
  }

  /** Two-level coarse quantizer training: ~√nCells super-centroids via
    * the (driver-held, √scale) [[Similarity.trainCentroids]] path, then
    * per-super LOCAL k-means inside `flatMapGroups` over a hash-capped
    * sample — every super's cells train in parallel on executors, and
    * nothing corpus- or nCells-sized ever reaches the driver. Cell ids
    * are `s_id · cellsPerSuper + localIdx`, unique by construction.
    */
  private[llm] def trainTwoLevel(
      c: DataFrame,
      nCells: Int,
      kmeansIters: Int,
      dim: Int
  ): (Array[(Long, Array[Double])], DataFrame) = {
    val spark = c.sparkSession
    import spark.implicits._
    val nSupers = math.max(1, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val cellsPerSuper = (nCells.toLong + nSupers - 1) / nSupers
    // renumber supers DENSELY (0..S-1, order-preserving so argmax tie
    // breaks are unchanged): trained centroids keep their seed vector's
    // n_id, and corpus ids can span the full Long range (xxhash64-derived
    // ids are the documented pattern) — `sid * cellsPerSuper + idx` on a
    // raw id would overflow and collide cell ids across supers
    val supers = Similarity.trainCentroids(c, nSupers, kmeansIters, dim)
      .sortBy(_._1).zipWithIndex.map { case ((_, v), k) => (k.toLong, v) }
    if (supers.isEmpty)
      return (supers, Seq.empty[(Long, Seq[Double], Long)].toDF("c_id", "c_vec", "s_id"))
    // per-super training sample: hash-ranked head, capped so a task never
    // holds more than ~32 vectors per cell it is about to train
    val maxTrain = math.max(64L, 32L * cellsPerSuper)
    val w = Window.partitionBy("s_id").orderBy(xxhash64(col("n_id")), col("n_id"))
    val sample = c
      .withColumn("s_id", Similarity.nearestCentroid(col("n_vec"), supers).getField("c_id"))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= maxTrain)
      .select(col("s_id"), col("n_id"), col("n_vec"))
    val kLocal = cellsPerSuper.toInt
    val iters = kmeansIters
    val dimL = dim
    val cells = sample.as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (sid: Long, it: Iterator[(Long, Long, Seq[Double])]) =>
        // hash-sorted members = the deterministic candidate order the
        // driver seeding uses (byteswap64 is a pure executor-side stand-in
        // for the xxhash64 column)
        val pts = it.map { case (_, id, v) => (id, v.toArray) }.toArray
          .sortBy(p => (scala.util.hashing.byteswap64(p._1), p._1))
        localTrain(pts, kLocal, iters, dimL).iterator.zipWithIndex.map {
          case (v, idx) => (sid * cellsPerSuper + idx, v.toSeq, sid)
        }
      }
      .toDF("c_id", "c_vec", "s_id")
    (supers, cells)
  }

  /** Per-super local trainer (runs INSIDE one executor task): greedy
    * farthest-point seeding over the hash-ordered head, then `iters`
    * Lloyd refinements — the driver k-means loop in miniature, bounded by
    * the per-super sample cap. Returns centroids in ascending seed-id
    * order (deterministic).
    */
  private[llm] def localTrain(
      pts: Array[(Long, Array[Double])],
      k: Int,
      iters: Int,
      dim: Int
  ): Array[Array[Double]] = {
    if (pts.isEmpty || k <= 0) return Array.empty
    var cents = Similarity.farthestPoint(pts.take(4 * k), k)
    var i = 0
    while (i < iters && cents.nonEmpty) {
      val assign = pts.map(p => Similarity.nearestCentroidLocal(p._2, cents))
      cents = Similarity.localMeans(pts, assign, dim)
      i += 1
    }
    cents.map(_._2)
  }

  /** Group the cell table to ONE array row per super — the broadcast-able
    * (or, at scale, shuffle-joinable) routing side of [[assignTwoLevel]].
    */
  private[llm] def groupCells(cells: DataFrame): DataFrame =
    cells.groupBy("s_id").agg(collect_list(struct(col("c_id"), col("c_vec"))).as("__cells"))

  /** Two-level nearest-cell assignment for (n_id, n_vec) rows: literal
    * argmax over the driver-held supers picks the super-cell, a join
    * against the per-super grouped cell table plus one higher-order
    * argmax picks the cell within it. No full-centroid collect, no
    * nCells-branch expression; the join broadcasts while the cell table
    * is small and degrades to a hash join on s_id at scale (AQE
    * decides). `supers` must be pre-filtered to supers that HAVE cells
    * ([[supersWithCells]]) or boundary rows would vanish in the join.
    */
  private[llm] def assignTwoLevel(
      rows: DataFrame,
      supers: Array[(Long, Array[Double])],
      cellsBySuper: DataFrame
  ): DataFrame = {
    val best = array_max(transform(col("__cells"), cc =>
      struct(
        graft.functions.VectorOps.array_dot(col("n_vec"), cc.getField("c_vec")).as("c_sim"),
        (-cc.getField("c_id")).as("negc"))))
    rows
      .withColumn("s_id", Similarity.nearestCentroid(col("n_vec"), supers).getField("c_id"))
      .join(cellsBySuper, "s_id")
      .withColumn("c_id", -best.getField("negc"))
      .select("n_id", "n_vec", "c_id")
  }

  /** Supers that own at least one cell — the distinct-s_id pull is the
    * ONLY driver collect on the two-level path, bounded by ~√nCells.
    */
  private[llm] def supersWithCells(
      spark: SparkSession,
      cells: DataFrame,
      supers: Array[(Long, Array[Double])]
  ): Array[(Long, Array[Double])] = {
    import spark.implicits._
    val present = cells.select("s_id").distinct().as[Long].collect().toSet
    supers.filter(s => present(s._1))
  }

  private def readSupers(spark: SparkSession, adir: String): Array[(Long, Array[Double])] = {
    import spark.implicits._
    spark.read.parquet(s"$adir/supers.parquet")
      .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, v.toArray) }
      .sortBy(_._1)
  }

  /** Route normalized (n_id, n_vec) rows with `adir`'s geometry — the
    * one-level literal argmax or the two-level super→cell path, chosen by
    * what the geometry persisted. Exposed package-wide so the scale
    * probes can time ROUTING separately from the partitioned write.
    */
  private[graft] def routeRows(spark: SparkSession, adir: String, vv: DataFrame): DataFrame = {
    import spark.implicits._
    if (ControlFs.exists(s"$adir/supers.parquet")) {
      val cells = spark.read.parquet(s"$adir/centroids.parquet")
      val supers = supersWithCells(spark, cells, readSupers(spark, adir))
      require(supers.nonEmpty,
        s"IvfIndex at $adir has no centroids — build the index before appending")
      assignTwoLevel(vv, supers, groupCells(cells))
    } else {
      val cents = spark.read.parquet(s"$adir/centroids.parquet")
        .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, v.toArray) }
        .sortBy(_._1)
      require(cents.nonEmpty,
        s"IvfIndex at $adir has no centroids — build the index before appending")
      vv.withColumn("c_id", Similarity.nearestCentroid(col("n_vec"), cents).getField("c_id"))
        .select("n_id", "n_vec", "c_id")
    }
  }

  /** Route each query to its probed cells with `adir`'s geometry —
    * [[routeRows]]'s query-side twin, for the scale probes.
    */
  private[graft] def probeRows(
      spark: SparkSession,
      adir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      nProbe: Int,
      wProbe: Int
  ): DataFrame = {
    import spark.implicits._
    if (ControlFs.exists(s"$adir/supers.parquet")) {
      val cells = spark.read.parquet(s"$adir/centroids.parquet")
      val supers = supersWithCells(spark, cells, readSupers(spark, adir))
      probeTwoLevel(queries, idCol, vecCol, supers, cells, nProbe, wProbe)
    } else {
      val cents = spark.read.parquet(s"$adir/centroids.parquet")
        .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, v.toArray) }
        .sortBy(_._1)
      Similarity.probeCells(queries, idCol, vecCol, cents, nProbe)
    }
  }

  /** [[routeRows]] + append to the routed cells' partitions — shared by
    * [[append]] and [[reconcile]].
    */
  private def appendAssigned(spark: SparkSession, adir: String, vv: DataFrame): Unit =
    routeRows(spark, adir, vv)
      // AQE rebalance, not repartition(col): same one-cell-per-task
      // clustering, but coalesced for small appends and skew-split for a
      // hot cell (see writeGeometry)
      .hint("rebalance", col("c_id"))
      .write.mode("append").partitionBy("c_id").parquet(s"$adir/assignments.parquet")

  /** Route each query to its `nProbe` nearest cells through the
    * two-level geometry: window top-`wProbe` supers per query (queries
    * are operation-sized; the super table broadcasts), then join those
    * supers' cells and window top-`nProbe`. All shuffles are bounded by
    * query count × probed cells — the full centroid table is never
    * collected or broadcast.
    */
  private def probeTwoLevel(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      supers: Array[(Long, Array[Double])],
      cells: DataFrame,
      nProbe: Int,
      wProbe: Int
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val sdf = broadcast(
      spark.createDataset(supers.toSeq.map { case (id, v) => (id, v.toSeq) })
        .toDF("s_id", "s_vec"))
    val q = queries.select(col(idCol).as("q_id"), Similarity.normalize(col(vecCol)).as("q_vec"))
    val ws = Window.partitionBy("q_id").orderBy(col("s_sim").desc, col("s_id"))
    val qs = q.crossJoin(sdf)
      .withColumn("s_sim", Similarity.dot(col("q_vec"), col("s_vec")))
      .withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= wProbe)
      .select("q_id", "q_vec", "s_id")
    val wc = Window.partitionBy("q_id").orderBy(col("c_sim").desc, col("c_id"))
    qs.join(cells, "s_id")
      .withColumn("c_sim", Similarity.dot(col("q_vec"), col("c_vec")))
      .withColumn("__r", row_number().over(wc))
      .filter(col("__r") <= nProbe)
      .select("q_id", "q_vec", "c_id")
  }

  /** Top-k cosine ANN against a persisted index. Probed-cell routing is
    * one-level (tiny collected centroid table) or two-level (√scale
    * super table + cell join — `wProbe` supers examined per query, the
    * IMI recall knob) depending on how the geometry was built; either
    * way the assignment scan carries a `c_id IN (probed cells)`
    * partition filter, so only the probed cells' files are ever opened.
    */
  def query(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int,
      wProbe: Int = 8
  ): DataFrame = {
    import spark.implicits._
    // one pointer resolution per query: centroids and the pruned
    // assignment scan always come from the same geometry version
    val adir = activeDir(dir)
    val empty = Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "n_id", "cosine")
    val probes0 =
      if (ControlFs.exists(s"$adir/supers.parquet")) {
        val cells = spark.read.parquet(s"$adir/centroids.parquet")
        val supers = supersWithCells(spark, cells, readSupers(spark, adir))
        if (supers.isEmpty) return empty
        probeTwoLevel(queries, idCol, vecCol, supers, cells, nProbe, wProbe)
      } else {
        val cents = spark.read.parquet(s"$adir/centroids.parquet")
          .as[(Long, Seq[Double])].collect().map { case (id, v) => (id, v.toArray) }
          .sortBy(_._1)
        if (cents.isEmpty) return empty
        Similarity.probeCells(queries, idCol, vecCol, cents, nProbe)
      }
    val probes = probes0.localCheckpoint() // evaluated twice: cell-set collect + the scan join
    // the probed-cell union is query-count × nProbe small — collect it so
    // the assignment scan prunes partitions with a LITERAL IN filter
    val cellSet = probes.select("c_id").distinct().as[Long].collect().toSeq
    val assigned = spark.read.parquet(s"$adir/assignments.parquet")
      .filter(col("c_id").isin(cellSet: _*))
    Similarity.scanProbed(assigned, probes, k)
  }
}
