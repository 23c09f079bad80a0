package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.llm.{Dedup, EmbIndex, LshIndex, StreamIndex}
import graft.llm.StreamIndex.{FeatId, FeatKeys, FeatX}
import graft.operators.HotPath.Pinnable

/** Exactly-once streaming near-dup curation over a persisted index (text
  * on an [[LshIndex]] here, vectors on an [[EmbIndex]] in
  * [[EmbDedupStream]]; one shell over [[StreamIndex]]). Each micro-batch
  *  1. drops rows near-duplicating the INDEXED corpus, excluding this
  *     batch id's own index rows (a replay whose first attempt folded
  *     would otherwise self-match and sink an empty batch);
  *  2. resolves within-batch duplicates at the index's parameters with
  *     connected components (component-min id survives);
  *  3. folds the survivors into the index, replacing the batch's
  *     partition so a replay cannot duplicate rows;
  *  4. hands them to `sink(df, batchId)`: with a batchId-fenced writer
  *     ([[graft.sink.Ingest.run]]) the pipeline is exactly-once.
  * Rows the index cannot hold (fewer than n tokens, null text, degenerate
  * or width-mismatched vectors) pass through as survivors, never indexed.
  *
  * 100 TB shape: the batch is pinned once per trigger. A batch whose
  * usable rows, bucket hits and candidate payloads each fit the probe's
  * broadcast gate resolves on the driver — a features collect, a bucket
  * probe and a payload fetch joined with local relations (each collect
  * cut at the gate), exact verify, union-find, a fold from the held
  * survivors: at most eight jobs, no per-batch literal in any plan. A
  * collect past the gate abandons the arm before anything is written,
  * and the index's distributed scale paths run instead.
  */
object DedupStream {

  def start(
      source: DataFrame,
      indexDir: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      checkpointLocation: String,
      sink: (DataFrame, Long) => Unit,
      triggerMs: Long = 1000L,
      /** In-stream index maintenance: every N batches, fold the aged
        * `batch=<b>` partitions (b ≤ batchId-1, strictly below anything
        * Spark can replay — the [[LshIndex.compact]] contract) into the
        * base partition. Run between triggers, no probe can be mid-scan
        * over a partition the fold deletes. None = external maintenance. */
      compactEveryBatches: Option[Long] = None
  ): StreamingQuery =
    run(source, LshIndex.stream(source.sparkSession, indexDir, idCol, textCol, threshold),
      idCol, checkpointLocation, sink, triggerMs, compactEveryBatches)

  /** The shell over any [[StreamIndex]] (meta read once per stream: the
    * cached compaction watermark is safe, compact only folds batches this
    * stream can no longer replay). `limits` (rows, estimated payload
    * bytes) cut each of the driver arm's three collects — the probe's
    * broadcast gate; tests force arms with them. */
  private[streaming] def run[P](source: DataFrame, index: StreamIndex[P], idCol: String,
      checkpointLocation: String, sink: (DataFrame, Long) => Unit, triggerMs: Long,
      compactEveryBatches: Option[Long],
      limits: (Long, Long) = (LshIndex.ProbeBroadcastRowLimit, LshIndex.ProbeBroadcastByteLimit)
  ): StreamingQuery = {
    compactEveryBatches.foreach(e => require(e > 0, s"compactEveryBatches must be > 0: $e"))
    source.writeStream
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(survivors(index, batch, batchId, idCol, limits), batchId)
        // maintenance is an optimization: a failure WARNs and retries at
        // the next multiple instead of wedging the stream
        compactEveryBatches.foreach { every =>
          if (batchId > 0 && batchId % every == 0)
            graft.fs.SweepAlarm.guarded(s"in-stream index compaction at $index",
              s"batch $batchId's dedup output stands; the fold retries later") {
              index.compact(upToBatch = batchId - 1)
            }
        }
      }
      .start()
  }

  /** Steps 1–3 for one micro-batch; returns the survivors to sink: the
    * pinned batch rows minus the dropped ids. */
  private def survivors[P](index: StreamIndex[P], batch: DataFrame, batchId: Long, idCol: String,
      limits: (Long, Long)): DataFrame = {
    // the one pin (a lost executor replays the fenced batch; see HotPath),
    // its row count observed: a batch past the row gate goes straight to
    // the distributed arm, without a features pass it would throw away
    val gate = Observation()
    val b = batch.observe(gate, count(lit(1)).as("rows")).pin()
    val fits = index.driverArm && gate.get("rows").asInstanceOf[Long] <= limits._1
    val feats = if (!fits) None else StreamIndex.collectBounded(
      index.features(b).filter(col(FeatId).isNotNull && col(FeatX).isNotNull)
        .select(FeatId, FeatX, FeatKeys), index.payloadBytes(col(FeatX)), limits)
    feats.flatMap(onDriver(index, _, batchId, limits)) match {
      case Some(dropped) if dropped.isEmpty => b
      case Some(dropped) =>
        b.filter(udf((id: java.lang.Long) => id == null || !dropped.contains(id))
          .apply(col(idCol).cast("long")))
      case None => distributed(index, b, batchId, idCol)
    }
  }

  /** Driver arm over the collected (id, payload, keys) rows: cross-probe,
    * within-batch components, fold. Returns the dropped ids, or None —
    * before anything is written — when the probe or the payload fetch
    * would pass `limits`. */
  private def onDriver[P](index: StreamIndex[P], rows: Array[Row], batchId: Long,
      limits: (Long, Long)): Option[Set[Long]] = {
    val x = rows.iterator.map(r => r.getLong(0) -> index.verifyForm(r.get(1))).toMap
    val members = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Long]]
    for (r <- rows if !r.isNullAt(2); (k, slot) <- r.getSeq[Long](2).zipWithIndex)
      members.getOrElseUpdate((slot, k), mutable.ArrayBuffer.empty) += r.getLong(0)
    // 1. cross-batch; the replay exclusion applies to both scans' rows
    def visible(r: Row): Boolean =
      r.getLong(r.length - 2) != batchId && r.getLong(r.length - 1) != batchId
    val hits =
      if (members.isEmpty) Some(Array.empty[Row]) else index.probe(members.keySet.toSet, limits)
    val cand = mutable.HashMap.empty[Long, mutable.Set[Long]]
    for (hs <- hits; h <- hs if visible(h); n <- members((h.getInt(0), h.getLong(1))))
      cand.getOrElseUpdate(n, mutable.HashSet.empty) += h.getLong(2)
    val fetched = if (hits.isEmpty) None else if (cand.isEmpty) Some(Array.empty[Row])
      else index.fetch(cand.valuesIterator.flatten.toSet, limits)
    fetched.map { payloads =>
      val stored = payloads.iterator.filter(visible)
        .map(r => r.getLong(0) -> index.verifyForm(r.get(1))).toMap
      val crossDup = cand.collect {
        case (n, ids) if ids.exists(i => stored.get(i).exists(index.similar(x(n), _))) => n
      }.toSet
      // 2. within-batch: the distributed pair search's candidates (every
      // bucket pair, star edges past groupCap); an edge whose ends are
      // already connected cannot change a component, so it is not verified
      val uf = new Dedup.UnionFind
      for (ids0 <- members.valuesIterator) {
        val ids = ids0.filterNot(crossDup).sorted
        val edges =
          if (index.groupCap > 0 && ids.size > index.groupCap) ids.iterator.drop(1).map(ids.head -> _)
          else for (i <- ids.indices.iterator; j <- i + 1 until ids.size) yield ids(i) -> ids(j)
        for ((a, b) <- edges if uf.find(a) != uf.find(b) && index.similar(x(a), x(b))) uf.union(a, b)
      }
      val dropped = crossDup ++ uf.labels.collect { case (id, g) if id != g => id }
      // 3. replay-safe fold of the survivors
      index.foldRows(rows.filterNot(r => dropped(r.getLong(0))).toSeq, batchId)
      dropped
    }
  }

  /** Distributed arm: the index's scale paths over the pinned batch `b`.
    * Rows with a null id pass through, never indexed, as on the driver
    * arm. The pin keeps the dropped ids from re-running the probe and the
    * pair search in the fold and the sink. */
  private def distributed[P](index: StreamIndex[P], b: DataFrame, batchId: Long,
      idCol: String): DataFrame = {
    val key = col(idCol).cast("long")
    val x = index.prepare(b.filter(col(idCol).isNotNull))
    val crossDup = index.crossDups(x, batchId).select(col("id_new").as("__dup_id")).distinct().pin()
    val afterCross = x.join(crossDup, key === col("__dup_id"), "left_anti")
    val losers = Dedup.connectedComponents(index.withinPairs(afterCross))
      .filter(col("id") =!= col("group_id")).select(col("id").as("__dup_id"))
    val dropped = crossDup.union(losers).pin()
    index.append(afterCross.join(dropped, key === col("__dup_id"), "left_anti"), batchId)
    b.join(dropped, key === col("__dup_id"), "left_anti")
  }
}

/** [[DedupStream]] over an [[EmbIndex]]: exact cosine ≥ `threshold`. */
object EmbDedupStream {

  def start(
      source: DataFrame,
      indexDir: String,
      idCol: String,
      vecCol: String,
      threshold: Double,
      checkpointLocation: String,
      sink: (DataFrame, Long) => Unit,
      triggerMs: Long = 1000L,
      /** as [[DedupStream]]'s parameter of the same name */
      compactEveryBatches: Option[Long] = None
  ): StreamingQuery =
    DedupStream.run(source, EmbIndex.stream(source.sparkSession, indexDir, idCol, vecCol, threshold),
      idCol, checkpointLocation, sink, triggerMs, compactEveryBatches)
}
