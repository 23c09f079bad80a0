package graft.llm

import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.operators.HotPath

/** Benchmark decontamination: flag corpus documents that share word
  * n-grams with a benchmark/eval set — the standard pre-training hygiene
  * pass that keeps test data out of the training corpus (the n-gram
  * overlap rule popularized by the GPT-3 and PaLM dataset reports).
  *
  * 100 TB shape: the benchmark side is an eval set — thousands of
  * documents, millions of n-grams — which is index-build-sized, so its
  * distinct (n-gram → earliest benchmark doc) map is BROADCAST and the
  * corpus scan never shuffles its full width: explode corpus n-grams,
  * map-side hash-join against the broadcast benchmark index, then one
  * partial-aggregated rollup per contaminated doc id (a tiny fraction of
  * the corpus). No corpus self-join, no benchmark-side shuffle.
  */
object Decontaminate {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-contaminated-doc overlap report: corpus docs sharing at least
    * `minHits` distinct word `n`-grams with any benchmark doc. Returns
    * (id, hit_ngrams = distinct overlapping n-grams, first_benchmark_id =
    * lowest benchmark doc id evidencing the overlap).
    */
  def overlapReport(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Int = 1
  ): DataFrame = {
    // one row per distinct benchmark n-gram, carrying the earliest doc
    // that contains it (min is the right witness: deterministic and
    // reproducible across runs/engines)
    val benchIndex = benchmark
      .select(col(idCol).as("b_id"), explode(Dedup.shingles(col(textCol), n)).as("ng"))
      .groupBy("ng")
      .agg(min("b_id").as("first_benchmark_id"))
    val corpusNgrams = corpus
      .select(col(idCol).as("id"), explode(Dedup.shingles(col(textCol), n)).as("ng"))
    hitRollup(corpusNgrams.join(broadcast(benchIndex), "ng"), minHits)
  }

  /** Shared hit-accounting tail of all three report paths — ONE
    * definition so the documented bit-for-bit equivalence between
    * [[overlapReport]], [[overlapReportBloom]] and
    * [[overlapReportIndexed]] cannot drift.
    */
  private def hitRollup(hits: DataFrame, minHits: Int): DataFrame =
    hits
      .groupBy("id")
      .agg(
        count(lit(1)).as("hit_ngrams"), // shingles are distinct per doc
        min("first_benchmark_id").as("first_benchmark_id"))
      .filter(col("hit_ngrams") >= minHits)

  /** Contamination STRIPPING — the removal step after [[overlapReport]]'s
    * flagging: every token position covered by any word `n`-gram that
    * also appears in the benchmark set is dropped, and each corpus doc is
    * rebuilt from its surviving tokens (Lee-et-al-style span removal
    * aimed at eval overlap instead of self-duplication). Returns
    * (id, clean_text, n_removed) for EVERY corpus doc — clean_text is ""
    * when the whole doc was contaminated.
    *
    * Shape: the benchmark n-gram set rides as a broadcast semi-join
    * filter over the corpus's positional occurrence stream (never a
    * corpus shuffle for the probe); covered positions expand n rows per
    * CONTAMINATED occurrence only (bounded by n × hits, not the corpus);
    * the rebuild is the shared anti-join + ordered per-doc aggregation
    * tail ([[Dedup.rebuildFromSurvivors]]).
    */
  def stripOverlaps(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int
  ): DataFrame = {
    // same guard as the positional-dedup family: a non-integral id would
    // null-cast EVERY row, colliding all docs at id = NULL and rebuilding
    // one garbled interleaved document
    IntegralId.require(corpus, idCol, "stripOverlaps")
    val benchNg = benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("g"))
      .distinct()
    val toks = corpus
      .select(col(idCol).cast("long").as("id"),
        graft.llm.TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("us"))
      .localCheckpoint()
    val contaminated = Dedup.positionalNgrams(toks, n)
      .join(broadcast(benchNg), "g")
    val covered = contaminated
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val unit = toks
      .select(col("id"), posexplode(col("us")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("w"))
    Dedup.rebuildFromSurvivors(toks,
      unit.join(covered, Seq("id", "pos"), "left_anti"), sep = " ")
  }

  /** Bloom-prefiltered overlap report — same result as [[overlapReport]]
    * bit for bit (a Bloom filter admits no false negatives, and the exact
    * index join removes its false positives), built for the scale where
    * the benchmark n-gram index strains a broadcast: the corpus's n-gram
    * stream is pruned MAP-SIDE by a few-MB Bloom bitmap before any join,
    * so the shuffle that feeds the exact match carries only the tiny
    * might-contain survivor fraction instead of every corpus n-gram.
    *
    * The Bloom is built distributed (Spark's codegen'd
    * `BloomFilterAggregate` tree-reduces per-partition bitmaps — the same
    * sketch the engine's runtime join filters use); only the final bitmap
    * lands on the driver (index-build-sized, like the BM25 stats row) and
    * is re-broadcast as a literal into the probe predicate. Both sides
    * key the filter on `xxhash64(ngram)`, so build and probe agree
    * exactly. The post-filter join is deliberately NOT broadcast-hinted:
    * when the benchmark index does fit, AQE broadcasts it on its own;
    * when it doesn't, the shuffle join only sees Bloom survivors.
    */
  /** Distributed Bloom construction over a benchmark n-gram stream — the
    * ONE definition both [[overlapReportBloom]] and [[buildIndex]] build
    * from (a sizing or fpp tweak must reach both paths). Spark's codegen'd
    * `BloomFilterAggregate` tree-reduces per-partition bitmaps; only the
    * final bitmap lands on the driver. `None` = the stream was empty.
    *
    * Spark caps BloomFilterAggregate at 4M items / 2^26 bits; an eval set
    * is orders of magnitude below both, and past the item cap the filter
    * just degrades to a higher fp rate (still no false negatives). The
    * probe side must key on the same `xxhash64(ng)` this build uses.
    */
  private def buildBloom(benchNg: DataFrame, fpp: Double): Option[Array[Byte]] = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    val actual = math.max(benchNg.count(), 1L)
    val est = math.min(actual, 4000000L)
    // m = -n ln(p) / ln(2)^2, the standard Bloom sizing
    val wantBits = math.max(
      (-actual * math.log(fpp) / (math.log(2) * math.log(2))).toLong, 64L)
    val numBits = math.min(wantBits, 1L << 26)
    // Past the caps the filter stays CORRECT (no false negatives; the
    // exact index join removes false positives) but silently stops
    // FILTERING: the shuffle the Bloom exists to prune balloons with no
    // other signal — say so once. The realized rate must use the hash
    // count the aggregate actually derives (k from the CAPPED est, so k
    // overshoots optimal when actual ≫ est): fp = (1 − e^(−k·n/m))^k.
    if (actual > est || wantBits > numBits) {
      val k = math.max(1L, math.round(numBits.toDouble / est * math.log(2)))
      val realizedFpp =
        math.pow(1.0 - math.exp(-k * actual.toDouble / numBits), k.toDouble)
      log.warn(s"benchmark n-gram stream ($actual items) exceeds the Bloom " +
        s"sizing caps (4M items / 2^26 bits): realized fp rate ~" +
        f"$realizedFpp%.3f vs requested $fpp%.3f — the prefilter degrades " +
        "(results stay exact); shard the benchmark or use the indexed path")
    }
    val bloomRow = benchNg.select(
      GraftInternal.column(new BloomFilterAggregate(
        GraftInternal.expression(xxhash64(col("ng"))),
        GraftInternal.expression(lit(est)),
        GraftInternal.expression(lit(numBits))).toAggregateExpression()).as("bf"))
      .head()
    if (bloomRow.isNullAt(0)) None else Some(bloomRow.getAs[Array[Byte]](0))
  }

  def overlapReportBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Int = 1,
      fpp: Double = 0.01
  ): DataFrame = {
    val benchNg = benchmark
      .select(col(idCol).as("b_id"), explode(Dedup.shingles(col(textCol), n)).as("ng"))
      .localCheckpoint() // feeds the Bloom build AND the exact index
    buildBloom(benchNg, fpp) match {
      case None =>
        // empty benchmark: nothing to match — the exact path is already free
        overlapReport(corpus, benchmark, idCol, textCol, n, minHits)
      case Some(bloomBytes) =>
        val benchIndex = benchNg.groupBy("ng").agg(min("b_id").as("first_benchmark_id"))
        val mightContain = GraftInternal.column(new BloomFilterMightContain(
          GraftInternal.expression(lit(bloomBytes)),
          GraftInternal.expression(xxhash64(col("ng")))))
        hitRollup(
          corpus
            .select(col(idCol).as("id"), explode(Dedup.shingles(col(textCol), n)).as("ng"))
            .filter(mightContain)
            .join(benchIndex, "ng"),
          minHits)
    }
  }

  /** On-disk layout version for the persisted index ([[buildIndex]]). */
  private val LayoutVersion = 2

  /** Persist the benchmark's decontamination index — the INCREMENTAL form
    * of [[overlapReportBloom]], completing the persisted-index family
    * (LshIndex / EmbIndex / IvfIndex): an eval set changes rarely, so a
    * pipeline builds its n-gram index + Bloom bitmap ONCE and screens
    * every arriving corpus batch against it without re-shingling the
    * benchmark. Layout under `dir` (everything through Spark's filesystem
    * layer, so the index lives on the cluster's shared FS):
    * {{{
    *   ptr-vN           meta pointer — highest N wins (name = commit)
    *   meta-vN.parquet/ n / layout / bf (the Bloom bitmap, one binary row)
    *   ngrams.parquet/  (ng, first_benchmark_id) — the exact verify index
    * }}}
    */
  def buildIndex(
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      dir: String,
      fpp: Double = 0.01
  ): Unit = {
    val spark = benchmark.sparkSession
    import spark.implicits._
    val benchNg = benchmark
      .select(col(idCol).as("b_id"), explode(Dedup.shingles(col(textCol), n)).as("ng"))
      .localCheckpoint() // feeds the Bloom build AND the exact index
    // crash-atomic publish: the exact index stages under a fresh
    // generation dir and the meta row (which carries the Bloom bitmap AND
    // the generation pointer) commits LAST — a crash mid-rebuild can
    // never pair a stale bitmap/n with a new n-gram table, which would
    // silently prune REAL contamination map-side (false negatives)
    val gen = IndexLayout.newGeneration()
    // the spare for in-flight probes is the generation the CURRENT meta
    // points at — snapshot it BEFORE the meta overwrite below
    val prevGen = IndexLayout.publishedGen(benchNg.sparkSession, dir)
    // the Bloom build and the exact-index write are INDEPENDENT jobs over
    // the same pinned blocks — overlap them (guide §2.6); meta still last
    val (bf, _) = HotPath.overlap("decontamination Bloom build", spark)(
      buildBloom(benchNg, fpp).orNull) {
      benchNg.groupBy("ng").agg(min("b_id").as("first_benchmark_id"))
        .write.mode("overwrite").parquet(s"$dir/$gen/ngrams.parquet")
    }
    IndexLayout.publishMeta(dir) { path =>
      Seq((n, LayoutVersion, bf, gen)).toDF("n", "layout", "bf", "gen")
        .repartition(1)
        .write.mode("overwrite").parquet(path)
    }
    IndexLayout.sweepGenerations(benchNg.sparkSession, dir, keep = gen,
      prevPublished = prevGen)
  }

  /** Screen a corpus batch against a persisted index: the stored Bloom
    * bitmap prunes the batch's n-grams map-side, the stored exact index
    * removes the Bloom's false positives — same result as
    * [[overlapReport]] against the original benchmark, bit for bit,
    * without touching the benchmark again. A null bitmap (the benchmark
    * had no n-grams) short-circuits to an empty report.
    */
  def overlapReportIndexed(
      spark: SparkSession,
      dir: String,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minHits: Int = 1
  ): DataFrame = {
    val metaPath = IndexLayout.metaTablePath(dir).getOrElse(throw
      new IllegalArgumentException(
        s"no decontamination index at $dir — build it first"))
    val metaDf = spark.read.parquet(metaPath)
    require(metaDf.columns.contains("gen"),
      s"decontamination index at $dir predates layout v$LayoutVersion — rebuild the index")
    val meta = metaDf.head()
    val layout = meta.getAs[Int]("layout")
    require(layout == LayoutVersion,
      s"decontamination index at $dir has layout v$layout; this build reads v$LayoutVersion")
    val n = meta.getAs[Int]("n")
    val bf = meta.getAs[Array[Byte]]("bf")
    val gen = meta.getAs[String]("gen")
    val corpusNgrams = corpus
      .select(col(idCol).as("id"), explode(Dedup.shingles(col(textCol), n)).as("ng"))
    val pruned =
      if (bf == null) corpusNgrams.filter(lit(false))
      else corpusNgrams.filter(GraftInternal.column(new BloomFilterMightContain(
        GraftInternal.expression(lit(bf)),
        GraftInternal.expression(xxhash64(col("ng"))))))
    hitRollup(pruned.join(spark.read.parquet(s"$dir/$gen/ngrams.parquet"), "ng"), minHits)
  }

  /** The removal composition: corpus minus contaminated docs (anti-join
    * against the report's id set — the survivor stream stays a single
    * map-side pass over the corpus when the hit set broadcasts).
    *
    * No FORCED broadcast hint: contamination is usually a tiny fraction,
    * but a corpus screened against a benchmark it heavily overlaps
    * (re-screening a batch that already contains eval data, minHits = 1
    * with a small n) makes the hit set corpus-scale, and a forced
    * broadcast would collect it onto the driver and OOM. AQE broadcasts
    * the small case on its own from runtime statistics and falls back to
    * a shuffle join for the pathological one.
    */
  def removeContaminated(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Int = 1
  ): DataFrame = {
    val hits = overlapReport(corpus, benchmark, idCol, textCol, n, minHits)
      .select(col("id").as(idCol))
    corpus.join(hits, Seq(idCol), "left_anti")
  }
}
