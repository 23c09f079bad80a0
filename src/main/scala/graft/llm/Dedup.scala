package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashes

/** Shared guard for the operators that key rows by `CAST(id AS LONG)`
  * (the persisted index family, k-means, streaming dedup): a
  * non-integral id column (string/UUID) casts to null for EVERY row, so
  * joins match nothing and the operator "succeeds" while silently
  * deduplicating/clustering nothing. Fail loudly at the API boundary
  * instead.
  */
private[graft] object IntegralId {
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
  def require(df: DataFrame, idCol: String, op: String): Unit = {
    val dt = df.schema(idCol).dataType
    val ok = dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
    Predef.require(ok,
      s"$op keys rows by casting '$idCol' to LONG, but its type is ${dt.simpleString}: " +
        "every id would cast to null and the operation would silently match nothing. " +
        "Derive a long id first (e.g. xxhash64 over the id, or a dense-id join).")
  }

  /** Runtime column form of the same contract, for operators that accept
    * any castable numeric id: cast to long, `raise_error` per row on a
    * null or non-castable value (coalescing either to 0L would silently
    * attribute the row to document 0). ONE definition shared by
    * `Packing.nextFitPack` and the `Multimodal` kernels so their
    * fail-loud guards cannot drift.
    */
  def checkedCol(idCol: String, op: String): Column = {
    val idc = col(idCol).cast("long")
    when(idc.isNull,
      raise_error(concat(lit(s"$op: null or non-numeric id in '$idCol': '"),
        coalesce(col(idCol).cast("string"), lit("null")), lit("'")))).otherwise(idc)
  }
}

/** Deduplication operators for training-data pipelines, each designed
  * around its 100 TB shuffle shape:
  *
  *  - exact: one hash-partitioned aggregation on the dup key
  *  - minhash+LSH: band buckets bound the self-join to near-identical
  *    candidates (no O(n²) pair space); candidates verified with exact
  *    Jaccard before any row is dropped
  *  - simhash: 64-bit signature + pigeonhole banding for Hamming ≤ k
  *  - n-gram Jaccard: shingle-inverted-index join, prunable by shingle
  *    document frequency
  *  - embedding cosine: normalized-vector dot product; brute pairs for
  *    verification, LSH hyperplane buckets as the scale path
  */
object Dedup {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Bucket-size bound GROUP-shaped minhash consumers pass as
    * `maxBucket` (see [[minhashLshPairsFromSets]]): far above any bucket
    * a healthy corpus produces at the sized band width (the r17 skew
    * sweep's uniform arm tops out in the tens), low enough that a
    * 10k-member duplicate group emits Θ(m) star edges instead of
    * Θ(bands·m²) candidate rows. Pair-LISTING callers keep the exact
    * default (0): their output is itself Θ(m²), so the cap would change
    * what they return, not just how it's computed.
    */
  val GroupMaxBucket: Int = 1024

  /** Byte gate for broadcasting the (id, shingle-set) verify side of the
    * minhash candidate join (estimated as rows×48 + shingles×28 — array
    * headers + average shingle string): same discipline as
    * [[Similarity.AllPairsKernelBytes]]. 256 MB ≈ 180k average web docs;
    * corpus-scale sets keep the shuffle join.
    */
  private[llm] val VerifyBroadcastBytes: Long = 256L << 20

  /** Projected-candidate count above which the pair-LISTING arm
    * (`maxBucket = 0`) WARNs before launching the within-bucket
    * self-join: Σ over buckets of n·(n−1)/2 is known from the preflight
    * BEFORE any quadratic work starts, and a giant duplicate group makes
    * the listing Θ(m²) in the group size — the r17 skew sweep measured
    * 689 s at a 10k-member group; a 100k-member group (routine in web
    * corpora — empty pages) is ~5×10⁹ pairs and effectively never
    * returns. 10M ≈ where the listing starts to dominate a healthy run.
    */
  val PairListingWarnEstimate: Long = 10L * 1000 * 1000

  /** Opt-in HARD cap (Spark conf, long; 0 = off, the default) on the
    * pair-listing arm's projected candidate count: set it to fail fast
    * — loudly, with the projected count and a pointer at the bounded
    * groups chain — instead of launching a listing that will not return.
    */
  val MaxPairEstimateKey = "graft.dedup.maxPairEstimate"

  /** Sentinel for the auto-sized LSH path: pass as `lshBits` to size bits
    * from the corpus count ([[sizedLshBits]]) and/or as `lshTables` to
    * size the table count from the threshold ([[sizedLshTables]]).
    */
  val AutoSize: Int = -1

  /** Rows per cluster [[semanticNearDupPairs]]'s auto-sized k targets:
    * mean per-cluster candidate volume is ~targetRows²/2 pairs, so 2048
    * keeps one cluster's self-join at ~2M candidates — comfortably one
    * task's working set — while total candidate volume tracks
    * ~n·1024, linear in the corpus.
    */
  val DefaultSemanticClusterRows: Long = 2048L

  /** Cluster counts above which [[semanticNearDupPairs]] assigns through
    * [[IvfIndex]]'s two-level coarse quantizer (n·2√k dots) instead of
    * exact Lloyd + literal argmax (n·k dots per pass). 256 is past the
    * point where the exact path's n·k term dominates the (linear)
    * candidate volume and well below the driver-argmax compile boundary,
    * so the switch is purely a cost decision; assignment turns
    * IMI-approximate, which only relocates cluster boundaries (see the
    * method doc).
    */
  val SemanticTwoLevelGate: Int = 256

  /** Exact dedup: keep the lowest-id row per key (deterministic winner). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Canonical-document selection: one survivor per duplicate group — the
    * highest-`scoreCol` member, ties broken toward the lowest `idCol`
    * (the "keep the best copy" policy a curation pipeline applies after
    * grouping dups, rather than [[exact]]'s keep-lowest-id). `carryCols`
    * ride along on the survivor; `dup_count` is appended.
    *
    * One hash aggregate, map-side combinable: the winner is
    * `max(struct(score, -id, payload))` — struct comparison resolves on
    * (score desc, id asc) before ever touching the payload, so each
    * partition ships one candidate row per group. Deliberately NOT a
    * window rank, which would shuffle and sort every member of every
    * group; at 100 TB the agg moves one row per group instead.
    * Numeric-id contract (the negation trick) is enforced at analysis
    * time.
    */
  def keepBest(
      df: DataFrame,
      idCol: String,
      keyCols: Seq[String],
      scoreCol: String,
      carryCols: Seq[String] = Nil
  ): DataFrame = {
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"keepBest tie-break negates `$idCol` — numeric id required, found ${df.schema(idCol).dataType}")
    val payload = struct((idCol +: carryCols).map(col): _*)
    // a NaN score must LOSE, not win: Spark orders NaN above every real
    // double, so an unguarded max(struct(s, ...)) would crown a
    // NaN-scored copy (0.0/0.0 quality ratio upstream) as the canonical
    // document over genuinely scored ones. NaN sorts as -Infinity for
    // the comparison; the EMITTED score stays the winner's original
    // value. NULL scores already lose (null struct fields sort lowest).
    val st = df.schema(scoreCol).dataType
    val sortScore = st match {
      case org.apache.spark.sql.types.DoubleType =>
        when(isnan(col(scoreCol)), lit(Double.NegativeInfinity)).otherwise(col(scoreCol))
      case org.apache.spark.sql.types.FloatType =>
        when(isnan(col(scoreCol)), lit(Float.NegativeInfinity)).otherwise(col(scoreCol))
      case _ => col(scoreCol)
    }
    val cand = struct(sortScore.as("s"), (-col(idCol)).as("negid"),
      payload.as("row"), col(scoreCol).as("s0"))
    df.groupBy(keyCols.map(col): _*)
      .agg(max(cand).as("b"), count(lit(1)).as("dup_count"))
      .select((idCol +: carryCols).map(c => col(s"b.row.$c").as(c)) :+
        col("b.s0").as(scoreCol) :+ col("dup_count"): _*)
  }

  /** Word n-gram shingles of a text column (distinct) — single-pass
    * codegen'd expression (see [[graft.functions.WordShingles]]).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordShingles(text, n)

  /** Positional (id, pos) key packed into one long for cross-engine-exact
    * canonical-occurrence selection in [[dedupSpans]]. Caps documents at
    * 2^20 tokens (a ~5 MB doc) and ids at 2^43 — both generous for
    * web-corpus curation (documented contract).
    */
  private val SpanPosBase = 1L << 20

  /** Shared scaffold for positional-unit dedup ([[dedupSpans]],
    * [[dedupLines]]): given the per-doc unit arrays and the stream of
    * dedup-CANDIDATE occurrences (id, pos, g), find units duplicated
    * corpus-wide, keep only the canonical = min packed (id, pos)
    * occurrence, drop the `expand` unit positions each removed occurrence
    * covers, and rebuild documents from the survivors joined with `sep`.
    * One hash aggregation + one occurrence join + ordered rebuild — no
    * self-join, so a unit repeated k times costs k rows, never k².
    */
  private def dedupPositionalUnits(
      toks: DataFrame, // (id: long, us: array<string>) — materialized by caller
      occ: DataFrame, // (id, pos, g) candidate occurrences, pos 1-based
      expand: Int,
      sep: String
  ): DataFrame = {
    // Packed-key contract enforced at runtime: |id| < 2^43 and pos < 2^20,
    // else id*2^20+pos overflows/collides and canonical-occurrence
    // selection silently picks wrong winners (e.g. xxhash64-derived ids
    // span the full signed 64-bit range). Fail loudly instead.
    val idCap = 1L << 43
    val posKey = when(
      col("id") >= idCap || col("id") <= -idCap || col("pos") >= SpanPosBase,
      raise_error(format_string(
        "dedupPositionalUnits packed-key contract violated (|id| < 2^43, pos < 2^20): id=%d pos=%d",
        col("id"), col("pos"))).cast("long")
    ).otherwise(col("id") * SpanPosBase + col("pos"))
    val dup = occ
      .groupBy("g")
      .agg(count(lit(1)).as("c"), min(posKey).as("canon"))
      .filter(col("c") >= 2)
      .select("g", "canon")
    val removable = occ.join(dup, "g").filter(posKey =!= col("canon"))
    val covered = removable
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (expand - 1))).as("t"))
      .distinct()
    val unit = toks
      .select(col("id"), posexplode(col("us")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("w"))
    rebuildFromSurvivors(toks,
      unit.join(covered.withColumnRenamed("t", "pos"), Seq("id", "pos"), "left_anti"), sep)
  }

  /** Shared document-rebuild tail for unit-removal operators
    * ([[dedupPositionalUnits]], [[removeBoilerplateLines]]): surviving
    * (id, pos, w) unit rows rejoin with `sep` in position order; EVERY
    * input doc is restored (zero survivors rebuild as ""), with
    * `n_removed` = total units minus survivors. Keeping this tail in one
    * place keeps the unit contract (ordered rebuild, empty-doc
    * restoration, removal accounting) from drifting between operators.
    */
  private[llm] def rebuildFromSurvivors(
      toks: DataFrame, // (id, us: array<string>) — every input doc
      survivors: DataFrame, // (id, pos, w) units that remain
      sep: String
  ): DataFrame = {
    val rebuilt = survivors
      .groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("w")))),
            s => s.getField("w")), sep).as("clean_text"),
        count(lit(1)).as("n_kept"))
    toks
      .select(col("id"), size(col("us")).cast("long").as("n_units"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_units") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Line-level dedup (the C4 curation rule: a LINE occurring more than
    * once across the corpus is kept only at its first occurrence —
    * boilerplate headers/footers/navigation collapse corpus-wide).
    * Canonical occurrence = min (id, line-pos), same packed-key scheme as
    * [[dedupSpans]]. Lines split on `\r?\n` (CRLF corpora match their LF
    * twins; output joins with `\n`); whitespace-only lines (RE2 `\s`,
    * the engine-wide contract — see
    * [[graft.functions.WordShinglesUtil]]) are structure, not content:
    * never deduplicated. Null text = empty doc. Returns (id, clean_text,
    * n_removed) for every input row.
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    IntegralId.require(df, idCol, "dedupLines")
    val toks = df
      .select(col(idCol).cast("long").as("id"),
        split(coalesce(col(textCol), lit("")), "\r?\n").as("us"))
      .localCheckpoint()
    val content = toks
      .select(col("id"), posexplode(col("us")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("g"))
      .filter(col("g").rlike("[^ \\t\\n\\f\\r]")) // RE2 \S (Java \S would also exclude \x0B)
    dedupPositionalUnits(toks, content, expand = 1, sep = "\n")
  }

  /** Corpus-frequency boilerplate-line removal (the RefinedWeb/CCNet
    * corpus-level rule): any line occurring in at least `minDocs`
    * DISTINCT documents is boilerplate (navigation, footers, cookie
    * banners) and removed from EVERY document — unlike [[dedupLines]]
    * (C4's keep-first rule), no canonical occurrence survives.
    * Whitespace-only lines are structure, not content: never counted,
    * never removed. Same line contract as [[dedupLines]] (`\r?\n` split,
    * `\n` rebuild, null text = empty doc). Returns (id, clean_text,
    * n_removed) for every input row.
    *
    * 100 TB shape: one line explode, one hash-partitioned
    * distinct-doc-frequency aggregation, one anti-join on the line (the
    * boilerplate side holds only lines with ≥ `minDocs` distinct docs —
    * at most corpus_lines / minDocs rows, and in practice the tiny
    * heavy-hitter set, so AQE broadcasts it), one per-doc rebuild. No
    * self-join: a line repeated k times costs k rows, never k².
    */
  def removeBoilerplateLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int
  ): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (1 would remove every non-blank line): $minDocs")
    IntegralId.require(df, idCol, "removeBoilerplateLines")
    val toks = df
      .select(col(idCol).cast("long").as("id"),
        split(coalesce(col(textCol), lit("")), "\r?\n").as("us"))
      .localCheckpoint() // feeds the frequency pass AND the rebuild
    val lines = toks
      .select(col("id"), posexplode(col("us")))
      .select(col("id"), col("pos"), col("col").as("g"))
    val boiler = lines
      .filter(col("g").rlike("[^ \\t\\n\\f\\r]")) // RE2 \S (Java \S would also exclude \x0B)
      .groupBy("g")
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("g")
    val survivors = lines
      .join(boiler, Seq("g"), "left_anti")
      .select(col("id"), col("pos"), col("g").as("w"))
    rebuildFromSurvivors(toks, survivors, "\n")
  }

  /** Span-level dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022 — the EXACTSUBSTR variant
    * approximated at token granularity): any `n`-token span occurring
    * more than once across the corpus is removed from every position
    * except its canonical (first) occurrence = min (id, pos). Tokens
    * covered by at least one removed occurrence are dropped; documents
    * are rebuilt from the surviving tokens in order.
    *
    * Returns (id, clean_text, n_removed) for EVERY input row (a fully
    * duplicated document comes back with clean_text = "" rather than
    * vanishing — the caller decides whether to drop empties).
    *
    * 100 TB shape: strictly linear dataflow — positional n-grams explode
    * to one row per (doc, pos); duplicated spans are found with ONE
    * hash-partitioned aggregation on the span text (partial aggs collapse
    * repeats map-side); removable occurrences come from one join of the
    * occurrence stream against that (much smaller) duplicate table;
    * coverage/rebuild shuffle on (id, token-pos) and id. No self-join
    * anywhere, so a pathological span repeated k times costs k rows,
    * never k².
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 1, "span length must be at least 2 tokens")
    IntegralId.require(df, idCol, "dedupSpans")
    // tokenized docs, materialized once (feeds occurrences AND rebuild);
    // same tokenizer as every other text op (whitespace contract); null
    // text = empty doc
    val toks = df
      .select(col(idCol).cast("long").as("id"),
        TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("us"))
      .localCheckpoint()
    // positional n-gram occurrences, pos is 1-based. A doc with fewer
    // than n tokens emits NO occurrence (the CASE guard matters:
    // sequence(1, 0) is the DESCENDING [1, 0], not empty, and slice at 0
    // throws). Deliberately NOT materialized, unlike the jaccard inverted
    // index: this stream is ~n× the corpus in bytes, so recomputing the
    // codegen'd explode from the checkpointed `toks` for its two
    // consumers is cheaper than writing an n×-corpus intermediate.
    dedupPositionalUnits(toks, positionalNgrams(toks, n), expand = n, sep = " ")
  }

  /** Positional word n-gram occurrences (id, pos, g), pos 1-based, over a
    * tokenized (id, us) frame. A doc with fewer than n tokens emits NO
    * occurrence (the CASE guard matters: sequence(1, 0) is the DESCENDING
    * [1, 0], not empty, and slice at 0 throws). Deliberately not
    * materialized: this stream is ~n× the corpus in bytes, so recomputing
    * the codegen'd explode from the checkpointed `toks` per consumer is
    * cheaper than writing an n×-corpus intermediate. Shared by
    * [[dedupSpans]] and [[Decontaminate.stripOverlaps]].
    */
  private[llm] def positionalNgrams(toks: DataFrame, n: Int): DataFrame =
    toks
      .select(col("id"), posexplode(expr(
        s"CASE WHEN size(us) >= $n THEN " +
          s"transform(sequence(1, size(us) - ${n - 1}), i -> array_join(slice(us, i, $n), ' ')) " +
          "ELSE CAST(array() AS array<string>) END")))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("g"))

  /** Exact n-gram Jaccard similarity pairs via a shingle inverted index:
    * explode distinct shingles, self-join on shingle, count intersections,
    * compute |A∩B| / (|A|+|B|-|A∩B|). Returns (idA, idB, intersect,
    * sizeA, sizeB) with idA < idB for pairs meeting `threshold`.
    */
  /** `maxShingleDf > 0` drops shingles whose document frequency exceeds
    * it before the self-join — the standard scale guard against
    * non-discriminative shingles blowing up the candidate space (slightly
    * undercounts intersections for affected pairs; leave 0 for exactness).
    */
  /** Shared inverted-index scaffold for the shingle-overlap pair
    * searches: distinct-shingle occurrences (materialized once — they
    * feed the self-join twice plus the size aggregate, and re-deriving
    * shingles per consumer is the dominant cost; at cluster scale this
    * is a persisted index table), per-doc set sizes, the optional
    * hot-shingle DF cap, and the intersection counts with BOTH sizes
    * joined. [[ngramJaccardPairs]] and [[containmentPairs]] differ only
    * in the acceptance test applied on top — one definition, so the
    * guard/checkpoint strategy cannot drift between them.
    * Returns (id_a, id_b, isect, size_a, size_b) with id_a < id_b.
    */
  private def shingleIntersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDf: Long
  ): DataFrame = {
    // NOT spread (cf. minhashLshPairs): the explode's cost is dominated
    // by materializing the checkpoint blocks, and every consumer below is
    // a shuffle over the exploded rows that re-parallelizes anyway — the
    // r18 A/B measured the spread costing +0.35–0.77 s on all four
    // consumers of this helper (extra exchange + 32-block checkpoint for
    // a kernel that was never the bottleneck here)
    val sh = df
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))
      .localCheckpoint()
    val sizes = sh.groupBy("id").agg(count("*").as("sz"))
    val joinSide =
      if (maxShingleDf <= 0) sh
      else {
        val hot = sh.groupBy("sh").agg(count("*").as("df"))
          .filter(col("df") > maxShingleDf).select("sh")
        sh.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    joinSide
      .withColumnRenamed("id", "id_a")
      .join(joinSide.withColumnRenamed("id", "id_b"), "sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count("*").as("isect"))
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")), "id_b")
  }

  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Long = 0L
  ): DataFrame =
    shingleIntersections(df, idCol, textCol, n, maxShingleDf)
      .withColumn(
        "jaccard",
        col("isect").cast("double") /
          (col("size_a") + col("size_b") - col("isect")).cast("double")
      )
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "isect", "size_a", "size_b")

  /** Asymmetric n-gram CONTAINMENT pairs (Broder's containment
    * coefficient `|A∩B| / |A|`): flags a document whose distinct-shingle
    * set lies mostly inside another's — quotes, excerpts, boilerplate
    * wrappers, and expanded re-publications that symmetric Jaccard
    * structurally misses (a fully-quoted 100-word doc inside a
    * 10k-word doc has Jaccard ≈ 0.01 but containment = 1.0). Emits
    * DIRECTED pairs (id_contained, id_container) — one undirected
    * shingle-intersection computation, both directions tested from it.
    *
    * Same scale shape as [[ngramJaccardPairs]]: one inverted-index
    * occurrence self-join bounded by shingle document frequency (the
    * optional `maxShingleDf` hot-shingle cap), intersection counts from
    * ONE hash aggregation, sizes joined back — never an all-pairs text
    * comparison. Exchanged columns are exact integers.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDf: Long = 0L
  ): DataFrame = {
    val pairs = shingleIntersections(df, idCol, textCol, n, maxShingleDf)
    val aInB = pairs
      .filter(col("isect").cast("double") / col("size_a").cast("double") >= threshold)
      .select(col("id_a").as("id_contained"), col("id_b").as("id_container"),
        col("isect"), col("size_a").as("size_contained"))
    val bInA = pairs
      .filter(col("isect").cast("double") / col("size_b").cast("double") >= threshold)
      .select(col("id_b").as("id_contained"), col("id_a").as("id_container"),
        col("isect"), col("size_b").as("size_contained"))
    aInB.unionByName(bInA)
  }

  /** MinHash signature over a pre-materialized shingle-hash array column:
    * k permutations approximated as (a*h+b) mod p over the xxhash64
    * shingle hashes (standard universal-hash construction; parameter
    * stream in [[graft.functions.TextHashUtil.minhashParams]]), in ONE
    * fused pass computing all permutation minima
    * ([[graft.functions.MinHashSig]]; bit-identical to `numHashes`
    * separate `array_min(transform(...))` columns, which would re-scan
    * and re-allocate the shingle array per permutation).
    */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    graft.functions.TextHashes.minhash_signature(hashes, numHashes, seed = 42)

  /** LSH band buckets of a minhash signature: array of (band, bh) structs,
    * bh = hash of the band's `r` signature rows. Shared by the in-session
    * pair search ([[minhashLshPairs]]) and the persisted index
    * ([[LshIndex]]) so their bucket keys are always compatible.
    */
  private[llm] def bandBuckets(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * r + 1, r))).as("bh"))
    }: _*)

  /** MinHash + LSH near-dup pairs: signatures → band buckets → candidate
    * pairs within buckets → verified with exact n-gram Jaccard. Bands/rows
    * trade recall vs candidate volume (b bands of r rows, k = b*r).
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.6,
      /** see [[minhashLshPairsFromSets]] — star edges for buckets past
        * this size (group-resolution callers); 0 = exact all pairs */
      maxBucket: Int = 0
  ): DataFrame = {
    // one shingle pass feeds both the signatures and the verification
    // sets; materialized once (cluster scale: a persisted index table).
    // Docs shorter than n tokens have EMPTY shingle sets: their minhash
    // signatures are all-null, so every band hashes identically and ALL
    // such docs would collide with each other in every band — a k²/2
    // candidate blowup (k = short docs, millions in a web corpus) whose
    // pairs the verify then discards anyway (Jaccard 0/0 = NULL). They
    // are unindexable by this measure; skip them up front, same rule as
    // the persisted [[LshIndex]].
    // spread a narrow input before the shingle + (downstream) minhash
    // kernels — one small parquet split otherwise serializes the whole
    // signature pass on one core; no-op on already-parallel input
    // text aliased in the SAME select as the id rename: re-resolving
    // textCol by name downstream breaks if a caller's textCol is
    // literally "id" (duplicate-column AnalysisException)
    val withSets = graft.operators.HotPath.spreadIfNarrow(
      df.select(col(idCol).as("id"), col(textCol).as("__graft_text")))
      .select(col("id"), shingles(col("__graft_text"), n).as("shset"))
      .filter(size(col("shset")) > 0)
      .localCheckpoint()
    minhashLshPairsFromSets(withSets, numHashes, bands, threshold, maxBucket)
  }

  /** [[minhashLshPairs]] over a PRE-SHINGLED, materialized (id, shset)
    * frame (the streaming shell's pinned batch features).
    *
    * Bucket-size guard for GROUP-shaped consumers (`maxBucket > 0`): a
    * duplicate group with m members puts all m into one (band, bucket)
    * per agreeing band, and the full within-bucket self-join emits
    * Θ(bands · m²) candidate rows — at m = 10k that is ~10⁹ rows whose
    * verified output (m²/2 pairs) the group resolution doesn't even
    * need: connected components only require the bucket to stay
    * CONNECTED. Buckets larger than `maxBucket` therefore emit STAR
    * edges (min-id member ↔ every other member, Θ(m) rows) instead of
    * all pairs; small buckets are untouched. Every emitted pair is still
    * exact-Jaccard verified, so for a true near-dup clique the star
    * verifies fully and the component is identical to the all-pairs
    * graph's. Recall boundary (documented): a >maxBucket bucket that
    * MIXES unrelated sub-groups connects each member only through the
    * min id, so a sub-group whose star pairs fail verification relies on
    * its own (smaller) buckets in other bands — the same
    * miss-probability trade banding itself already makes.
    * `maxBucket = 0` (the default) keeps the exact all-pairs contract —
    * pair-LISTING callers own their Θ(m²) output.
    */
  private[graft] def minhashLshPairsFromSets(
      withSets: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int = 0
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val spark = withSets.sparkSession
    val sig = withSets
      .select(col("id"), size(col("shset")).as("ssz"),
        transform(col("shset"), s => abs(xxhash64(s))).as("hh"))
      .select(col("id"), col("ssz"),
        minhashSignatureFromHashes(col("hh"), numHashes).as("sig"))
    val banded = sig.select(
      col("id"), col("ssz"),
      explode(bandBuckets(col("sig"), bands, r)).as("bb")
    ).localCheckpoint()
    val flat = banded
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    // Preflight (r18, reworked after the cross-tree A/B): the r17 shape
    // ran up to three separate jobs per call; the first r18 cut fused
    // them into one FULL groupBy(band, bh) — but at uniform data the
    // buckets are near-unique, so that groupBy shuffles ~|ids|×bands
    // rows and cost dedup_minhash +0.6 s at sf0.1. Final shape, two
    // cheap pieces:
    //  1. TOTALS for the verify broadcast gate: a shuffle-free global
    //     agg over the checkpointed banded frame (every id contributes
    //     exactly `bands` rows — bandBuckets is a fixed-length array —
    //     so banded totals divide back to per-id totals exactly).
    //  2. BUCKET SHAPE from a deterministic 1/16 HASH SAMPLE of ids:
    //     a bucket of c members appears with Binomial(c, 1/k) sampled
    //     rows, so Σ c_s(c_s−1)/2 × k² is an UNBIASED estimator of the
    //     projected candidate-pair count (the guardrail's number), and
    //     a giant bucket (≥ maxBucket = 1024 ⇒ E[c_s] ≥ 64) is detected
    //     with near-certainty. The sampled groupBy shuffles 1/16 of the
    //     rows. Detection is a PERFORMANCE heuristic only: a missed
    //     oversized bucket falls into the all-pairs arm, whose output is
    //     exactly correct (just slower) — never wrong.
    val tot = banded.agg(count(lit(1)), sum(col("ssz"))).head()
    val idsCount = tot.getLong(0) / bands
    val shingleTotal = (if (tot.isNullAt(1)) 0L else tot.getLong(1)) / bands
    val SampleK = 16L
    // small caps (tests, tiny corpora) sample too coarsely — below
    // 4×SampleK members the expected sample is < 4 rows; go exact direct
    val sampleTooCoarse = maxBucket > 0 && maxBucket < 4 * SampleK
    val sampled =
      if (idsCount == 0 || sampleTooCoarse) None
      else Some(flat
        .filter(pmod(xxhash64(col("id")), lit(SampleK)) === lit(0L))
        .groupBy("band", "bh")
        .agg(count(lit(1)).as("n"))
        .agg(
          sum(col("n").cast("double") * (col("n") - lit(1)).cast("double") / lit(2.0)),
          max(col("n")))
        .head())
    val projPairs = sampled.map { s =>
      (if (s.isNullAt(0)) 0.0 else s.getDouble(0)) * SampleK * SampleK
    }.getOrElse(0.0)
    val sampledMax = sampled.map(s => if (s.isNullAt(1)) 0L else s.getLong(1)).getOrElse(0L)
    if (maxBucket <= 0 && projPairs > 0) {
      // Pair-listing guardrail: the caller asked for every pair, and a
      // giant duplicate group makes that output itself Θ(m²) — warn with
      // the projected count, and honor the opt-in hard cap, BEFORE the
      // self-join launches (a 100k-member group projects ~5×10⁹ pairs
      // and effectively never returns). The estimate is unbiased and
      // deterministic (hash-sampled), accurate exactly where it matters:
      // a 10k-member group contributes ~2×10⁵ sampled pairs.
      val cap = spark.conf.get(MaxPairEstimateKey, "0").toLong
      if (cap > 0 && projPairs > cap.toDouble)
        throw new IllegalStateException(
          f"minhash-LSH pair listing: banded buckets project ~$projPairs%.3g candidate " +
            s"pairs (hash-sampled estimate), over the configured hard cap " +
            s"$MaxPairEstimateKey=$cap. If the duplicate STRUCTURE is enough, " +
            "dedupNearGroups bounds giant groups with star edges " +
            "(Dedup.GroupMaxBucket); otherwise raise or unset the cap.")
      if (projPairs > PairListingWarnEstimate.toDouble)
        log.warn(f"minhash-LSH pair listing: ~$projPairs%.3g projected candidate pairs " +
          "before verification — pair LISTING is Θ(m²) in a duplicate group's size " +
          "(689 s measured at a 10k-member group; 100k ≈ never returns). If group " +
          "structure is enough, use dedupNearGroups (star-edge bounded); set " +
          s"$MaxPairEstimateKey to fail fast instead of warning.")
    }
    // group-shaped arm: exact per-bucket stats run ONLY when the sample
    // says a bucket might cross maxBucket (or the cap is too small to
    // sample) — healthy corpora skip the full-shuffle pass entirely
    val sampledTrigger = math.max(2L, maxBucket.toLong / (2L * SampleK))
    val needExact = maxBucket > 0 && (sampleTooCoarse || sampledMax >= sampledTrigger)
    val oversized: Seq[org.apache.spark.sql.Row] =
      if (!needExact) Nil
      else flat.groupBy("band", "bh")
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"))
        .filter(col("n") > maxBucket)
        .select(col("band"), col("bh"), col("min_id"))
        .collect().toSeq
    // Verify-side broadcast gate (estimate derived in the preflight): a
    // shuffle join for verification re-exchanges every candidate row
    // CARRYING set_a (~1.5 KB each) for the second join — under a giant
    // dup group (Θ(m²) candidates, the r17 skew sweep) that is a
    // candidates×payload shuffle measured in tens of GB, where the
    // broadcast keeps the candidate stream pipelined and exchange-free.
    // Past the gate (corpus-scale sets) the shuffle join stands — it is
    // the only shape that fits.
    val setBytes = 48L * idsCount + 28L * shingleTotal
    def setsSide(idAs: String, setAs: String): DataFrame = {
      val side = withSets.select(col("id").as(idAs), col("shset").as(setAs))
      if (setBytes <= VerifyBroadcastBytes) broadcast(side) else side
    }
    val candidates0 =
      if (oversized.isEmpty) {
        // No oversized buckets (pair-listing arm, or a healthy corpus
        // under maxBucket): the plain within-bucket self-join — the
        // anti-join + star-union machinery is skipped entirely.
        flat.alias("l")
          .join(flat.alias("r"), Seq("band", "bh"))
          .filter(col("l.id") < col("r.id"))
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      } else {
        log.warn(s"minhash-LSH: ${oversized.size} bucket(s) exceed maxBucket=$maxBucket — " +
          "emitting star candidate edges (min-id hub) for them instead of all " +
          "pairs; group connectivity is preserved for true near-dup groups " +
          "(see Dedup.minhashLshPairsFromSets)")
        import scala.jdk.CollectionConverters._
        val bigSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("bh", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__min_id", flat.schema("id").dataType)))
        val big = broadcast(spark.createDataFrame(oversized.asJava, bigSchema))
        val small = flat.join(big.select("band", "bh"), Seq("band", "bh"), "left_anti")
        val smallPairs = small.alias("l")
          .join(small.alias("r"), Seq("band", "bh"))
          .filter(col("l.id") < col("r.id"))
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        val starWithBucket = flat.join(big, Seq("band", "bh"))
          .filter(col("id") =!= col("__min_id"))
          .select(col("band"), col("bh"),
            col("__min_id").as("id_a"), col("id").as("id_b"))
        // Observability (r17 advice): an oversized bucket that MIXES
        // unrelated sub-groups loses all-pairs connectivity for a
        // sub-group whose hub edges fail verification (it then relies on
        // its other-band buckets). Verify the star edges NOW — Θ(m) per
        // bucket, and only on this already-pathological path — and log
        // the per-bucket pass rate so a mixed-bucket recall loss is
        // observable in production, not just reasoned about. DELIBERATE:
        // the returned plan re-verifies these same edges (double work,
        // ~m extra Jaccards per oversized bucket — milliseconds at 10k);
        // folding this accounting into the lazy verify would tie the log
        // to whether/when the caller materializes, and deduplicating the
        // union across the star/small arms would add an output shuffle.
        val sJac = size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          (size(col("set_a")) + size(col("set_b")) -
            size(array_intersect(col("set_a"), col("set_b")))).cast("double")
        val starRates = starWithBucket
          .join(setsSide("id_a", "set_a"), "id_a")
          .join(setsSide("id_b", "set_b"), "id_b")
          .withColumn("ok", coalesce((sJac >= threshold).cast("int"), lit(0)))
          .groupBy("band", "bh")
          .agg(count(lit(1)).as("edges"), sum(col("ok")).as("verified"))
          .collect()
        starRates.foreach { row =>
          val edges = row.getLong(2)
          val ver = if (row.isNullAt(3)) 0L else row.getLong(3)
          if (ver < edges)
            log.warn(s"minhash-LSH star bucket (band=${row.get(0)}, bh=${row.get(1)}): " +
              s"only $ver/$edges hub edges verified at Jaccard >= $threshold — a MIXED " +
              "oversized bucket; the unverified members lose this bucket's connectivity " +
              "and rely on their other-band buckets (the same miss-probability trade " +
              "banding already makes)")
          else
            log.info(s"minhash-LSH star bucket (band=${row.get(0)}, bh=${row.get(1)}): " +
              s"all $edges hub edges verified — a true near-dup clique, component intact")
        }
        smallPairs.unionByName(starWithBucket.select("id_a", "id_b"))
      }
    val candidates = candidates0.distinct()
    // verify candidates with exact Jaccard (no false positives survive):
    // join pairs against per-id shingle sets, intersect in one pass; the
    // sets side is HINTED broadcast when the preflight's estimate fits
    // (see setsSide above).
    candidates
      .join(setsSide("id_a", "set_a"), "id_a")
      .join(setsSide("id_b", "set_b"), "id_b")
      .withColumn("isect", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("union_sz", size(col("set_a")) + size(col("set_b")) - col("isect"))
      .withColumn("jaccard", col("isect").cast("double") / col("union_sz").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "isect")
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster the embeddings with spherical k-means
    * ([[Similarity.kmeans]]), then search cosine pairs WITHIN each
    * cluster only. Returns (id_a, id_b, cosine) with id_a < id_b and
    * exact cosine ≥ `threshold` — candidates are bounded, but every
    * reported pair is exact (no false positives); pairs straddling a
    * cluster boundary are the recall loss, shrinking as `threshold → 1`.
    *
    * 100 TB shape: the within-cluster self-join shuffles on cluster id,
    * so candidate volume is Σ|cluster|² ≈ n²/k instead of n² — at FIXED
    * k that is still quadratic in the corpus (the sf1 probe measured
    * exponent 1.67 on the real query). The default therefore SCALES k
    * with the corpus: k = ceil(n / targetClusterRows), which pins mean
    * per-cluster candidate volume at ~targetClusterRows²/2 pairs and
    * makes the self-join's candidate count ~n·targetClusterRows/2 —
    * linear in n (SemDeDup's published runs size k the same way,
    * k ~ 10⁴-10⁵ on billions of points).
    *
    * The clustering pass itself costs n·k dots per Lloyd assignment —
    * quadratic again once k ∝ n (the sem probe measured it: exponent
    * 1.92 at the 100k→300k step even with linear candidate volume). So
    * above [[SemanticTwoLevelGate]] clusters the assignment routes
    * through [[IvfIndex]]'s two-level coarse quantizer instead: ~√k
    * supers trained on the corpus, cells trained per-super on a
    * hash-capped sample, rows assigned super-first — n·2√k dots, the
    * FAISS IMI shape. Assignment turns IMI-approximate there (a row
    * near a super boundary can land in a neighbouring super's cell),
    * which for THIS operator only moves cluster boundaries — the recall
    * contract is unchanged (pairs straddling any boundary are the loss;
    * every emitted pair stays exactly verified). Skewed clusters remain
    * the operational hazard: re-run with larger k or sub-cluster the
    * giants. Pass an explicit `k` to override the sizing (the gate
    * still applies to the assignment path).
    */
  def semanticNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      k: Int = AutoSize,
      maxIters: Int = 40,
      targetClusterRows: Long = DefaultSemanticClusterRows,
      /** Cluster count above which assignment routes through the
        * approximate two-level (IMI) quantizer instead of the exact
        * k-centroid Lloyd argmax. Exposed (r14 advice) so a caller with
        * a moderate explicit k who needs assignment PARITY with runs
        * predating the two-level arm can raise it (e.g.
        * `Int.MaxValue` = always exact) and accept the measured
        * quadratic exact-assignment cost (SCALE.md "SemDeDup
        * k-scaling") knowingly.
        */
      twoLevelGate: Int = SemanticTwoLevelGate
  ): DataFrame = {
    require(k > 0 || k == AutoSize, s"k must be positive or AutoSize: $k")
    require(targetClusterRows > 0, s"targetClusterRows must be > 0: $targetClusterRows")
    require(twoLevelGate > 0, s"twoLevelGate must be > 0: $twoLevelGate")
    val spark = df.sparkSession
    import spark.implicits._
    val useK =
      if (k != AutoSize) k
      else {
        // one metadata-cheap count sizes the geometry; clamp in Long
        // space before narrowing (the IvfIndex.rebalance lesson)
        val n = df.select(col(idCol)).count()
        math.max(1L,
          math.min((n + targetClusterRows - 1) / targetClusterRows, Int.MaxValue.toLong)).toInt
      }
    val withC: DataFrame =
      if (useK <= twoLevelGate) {
        val res = Similarity.kmeans(df, idCol, vecCol, useK, maxIters)
        df.select(col(idCol).cast("long").as("id"), Similarity.normalize(col(vecCol)).as("v"))
          .join(res.assignments, "id")
      } else {
        // two-level arm: same pre-filters as kmeans (degenerate and
        // width-mismatched vectors are unclusterable and absent from the
        // assignments, by the same contract)
        IntegralId.require(df, idCol, "semanticNearDupPairs")
        val c0 = df.select(col(idCol).cast("long").as("n_id"),
            Similarity.normalize(col(vecCol)).as("n_vec"))
          .filter(Similarity.clusterable(col("n_vec")))
        val dim = Similarity.detectDim(c0)
        val c = c0.filter(size(col("n_vec")) === dim)
          .localCheckpoint() // scanned by super training + cell training + assignment
        // 2 Lloyd refinements, the IvfIndex default: the quantizer only
        // BOUNDS candidates here, convergence buys nothing
        val (supers, cells0) = IvfIndex.trainTwoLevel(c, useK, math.min(maxIters, 2), dim)
        if (supers.isEmpty)
          Seq.empty[(Long, Seq[Double], Long)].toDF("id", "v", "cluster")
        else {
          val cells = cells0.localCheckpoint() // feeds grouping + the supers-with-cells pull
          IvfIndex.assignTwoLevel(c,
              IvfIndex.supersWithCells(spark, cells, supers), IvfIndex.groupCells(cells))
            .select(col("n_id").as("id"), col("n_vec").as("v"), col("c_id").as("cluster"))
        }
      }
    // ONE materialization of the assignment: both sides of the
    // within-cluster self-join read it — unmaterialized, the whole
    // assignment pass (the k-centroid argmax, or the two-level
    // super→cell route + cells join) would re-execute once PER JOIN
    // SIDE, doubling the dominant clustering cost
    val assigned = withC.localCheckpoint()
    // within-cluster exact verify: the blocked tile kernel when the
    // assignment fits the broadcast gate (bit-identical pairs at
    // matrix-multiply cost — the r16 sf1 sweep measured the join shape
    // at 5x the kernel on 20k x 64f with an explicit small k, where
    // per-cluster volume grows quadratically); the grouped self-join
    // stays the plan past the gate
    Similarity.allPairsAtLeast(assigned, threshold, groupCol = Some("cluster"))
      .getOrElse {
        assigned.select(col("cluster"), col("id").as("id_a"), col("v").as("v_a"))
          .join(assigned.select(col("cluster"), col("id").as("id_b"), col("v").as("v_b")), "cluster")
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), Similarity.dot(col("v_a"), col("v_b")).as("cosine"))
          .filter(col("cosine") >= threshold)
      }
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, using
    * pigeonhole banding: split the 64-bit signature into maxDist+1 chunks —
    * any pair within distance shares at least one exact chunk, so the
    * self-join runs on chunk buckets, never all pairs.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3
  ): DataFrame = {
    // 64-bit signature: distances >= 64 are meaningless AND would give
    // bitsPer = 0 (mask 0, one bucket = all-pairs join)
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0, 64): $maxDist")
    val chunks = maxDist + 1
    val bitsPer = 64 / chunks
    // maxDist=0 ⇒ one 64-bit chunk: (1L << 64) constant-folds to 1 (JVM
    // masks shift counts mod 64), which would zero the mask and bucket
    // EVERY row together — the exact all-pairs join this banding exists
    // to prevent
    val chunkMask = if (bitsPer >= 64) -1L else (1L << bitsPer) - 1
    // token-less documents (empty/whitespace-only) all carry signature 0:
    // they would collide with each other in EVERY chunk band and pass the
    // hamming<=maxDist verify — a k²/2 candidate AND output blowup (k =
    // empty docs, millions in a web corpus). They are unindexable by this
    // measure; skip them up front — the same rule minhashLshPairs applies
    // to empty shingle sets, and what the exact SQL oracle computes (its
    // token stream never yields a row for them). The character class IS
    // simHash64's whitespace contract (TextHashes.isSpace).
    val sigs = df
      .filter(col(textCol).isNotNull && col(textCol).rlike("[^ \\t\\n\\f\\r]"))
      .select(col(idCol).as("id"), TextHashes.simhash64(col(textCol)).as("sig"))
    val banded = sigs.select(
      col("id"),
      col("sig"),
      explode(array((0 until chunks).map { c =>
        struct(
          lit(c).as("chunk"),
          shiftrightunsigned(col("sig"), c * bitsPer)
            .bitwiseAND(lit(chunkMask)).as("ch")
        )
      }: _*)).as("bb")
    )
    val l = banded.select(col("id"), col("sig"), col("bb.chunk").as("chunk"), col("bb.ch").as("ch"))
    val pairs = l.alias("l")
      .join(l.alias("r"), Seq("chunk", "ch"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Bits sized to the corpus: with 2^bits buckets per table, expected
    * bucket size is n/2^bits and per-table candidate volume Σ bucket² ≈
    * n · targetBucketSize — linear in n. Fixed bits would be quadratic
    * (n²/2^bits). Floor of 5 keeps tiny corpora from degenerating to a
    * handful of buckets.
    */
  def sizedLshBits(n: Long, targetBucketSize: Int = 16): Int = {
    val buckets = math.max(1L, n).toDouble / math.max(1, targetBucketSize)
    math.max(5, math.ceil(math.log(buckets) / math.log(2)).toInt)
  }

  /** Tables sized to a per-pair miss tolerance at the decision threshold:
    * a pair at cosine t collides per table with probability p^bits where
    * p = 1 - acos(t)/π (sign-agreement per hyperplane), so T =
    * ln(1/missProb)/p^bits gives miss probability (1-p^bits)^T ≤ missProb
    * for every pair at-or-above the threshold.
    *
    * The requirement is EXPONENTIAL in bits, so the result is capped at
    * `maxTables` (each table is one explode struct per row plus one
    * bucket self-join — hundreds of tables are infeasible and would make
    * total candidate volume superlinear again). Within the cap the
    * threshold-worst-case guarantee holds; past it (low thresholds
    * combined with the high bit counts of very large corpora) the
    * guarantee degrades to pairs above the threshold — at that scale
    * raise the decision threshold or switch schemes (e.g. multiprobe)
    * rather than adding tables.
    */
  def sizedLshTables(
      threshold: Double,
      bits: Int,
      missProb: Double = 0.01,
      maxTables: Int = 64
  ): Int = {
    val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    val need = math.ceil(math.log(1.0 / missProb) / math.pow(p, bits))
    math.max(1, math.min(maxTables.toDouble, need).toInt)
  }

  /** Largest bit count whose [[sizedLshTables]] requirement fits UNDER the
    * table cap — i.e. the most selective signature at which the per-pair
    * miss guarantee still holds. The fully-auto path takes
    * `min(volume-sized bits, this)`: above this bit count the cap would
    * bind and recall would degrade SILENTLY (measured at sf0.1: volume
    * bits 9 → recall 0.95; feasible bits 6 → recall 1.0). The price is
    * candidate volume: past the scale where the volume-sized bits exceed
    * this bound, per-table buckets grow with n — at that point raise the
    * threshold, the miss tolerance, or maxTables, or pass explicit bits.
    */
  def recallFeasibleBits(
      threshold: Double,
      missProb: Double = 0.01,
      maxTables: Int = 64
  ): Int = {
    val p = 1.0 - math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
    // p^bits >= ln(1/missProb)/maxTables  ⇔  bits <= ln(budget)/ln(p)
    val budget = math.log(1.0 / missProb) / maxTables
    if (p >= 1.0) Int.MaxValue // threshold 1.0: a qualifying (identical)
    // pair collides at ANY bit count — there is no recall bound to apply,
    // and returning the conservative floor here would cap auto-sized LSH
    // at 1 bit (two buckets, ~n²/4 candidates: the exact blowup this
    // function exists to prevent)
    else if (p <= 0.0 || budget >= 1.0) 1
    else math.max(1, math.floor(math.log(budget) / math.log(p)).toInt)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold over normalized vectors.
    * `lshBits > 0` switches to random-hyperplane bucketing (sign-bit
    * signatures), bounding the self-join at scale; 0 = exact brute pairs;
    * NEGATIVE auto-sizes bits from the corpus count via [[sizedLshBits]]
    * (one count job at index build — the scale-safe default, keeping
    * candidate volume ~linear as the corpus grows).
    *
    * `lshTables` is the standard recall amplifier: L independent plane
    * sets, a pair is a candidate if it collides in ANY table, and every
    * candidate is verified with the exact cosine — so extra tables add
    * recall, never false positives. [[AutoSize]] (the default) sizes the
    * table count via [[sizedLshTables]] so the threshold-worst-case
    * recall target tracks the sized bit count instead of silently
    * degrading as the corpus grows.
    */
  /** `dedupCandidates` picks where the multi-table duplicate pairs are
    * collapsed: BEFORE the verify join (true — pre-shrinks the join input
    * by the collision factor; right when the vector table is too large to
    * broadcast, so verification is a shuffle join) or AFTER (false — the
    * candidate stream flows straight into a broadcast verify and only the
    * tiny survivor set is deduped; measurably cheaper whenever the vector
    * side broadcasts). Either order yields identical pairs.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      lshBits: Int = 0,
      lshTables: Int = AutoSize,
      dedupCandidates: Boolean = true,
      targetBucketSize: Int = 16,
      /** hyperplane width; 0 = detect from the first non-degenerate
        * vector. Callers matching a persisted index's signatures (the
        * streaming shells) pass the index's meta.dim so the within-batch
        * pass can never disagree with the index. */
      dim0: Int = 0
  ): DataFrame = {
    val v = df.select(col(idCol).as("id"), Similarity.normalize(col(vecCol)).as("v"))
    // Brute arm: blocked matrix kernel when the vector set fits the
    // broadcast gate (bit-identical output at matrix-multiply cost —
    // [[Similarity.allPairsAtLeast]]), the distributed pair join past it.
    // Degenerate vectors are excluded up front on BOTH paths (r16): null
    // and zero vectors already dropped themselves at the threshold
    // filter (NULL dots), but a NaN vector's NaN cosine PASSES Spark's
    // `>=` (NaN sorts greatest) — the pre-r16 join arm emitted NaN
    // "near-dup" pairs for it while the LSH arm (clusterable-filtered)
    // did not. Filtering makes all three arms agree: a vector with no
    // direction on the unit sphere is a near-dup of nothing.
    // `clean` must arrive clusterable-filtered AND materialized: the
    // kernel's byte gate and its collect are two passes over it (and the
    // join fallback's self-join is two more) — unmaterialized, the whole
    // upstream normalize pipeline would recompute per pass. The LSH
    // switch path passes its already-checkpointed vv.
    def brute(clean: DataFrame): DataFrame =
      Similarity.allPairsAtLeast(clean, threshold)
        .getOrElse {
          clean.alias("a").join(clean.alias("b"), col("a.id") < col("b.id"))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              Similarity.dot(col("a.v"), col("b.v")).as("cosine"))
            .filter(col("cosine") >= threshold)
        }
    if (lshBits == 0) {
      brute(v.filter(Similarity.clusterable(col("v"))).localCheckpoint())
    } else {
      // degenerate (null/empty/zero/NaN) and width-mismatched vectors are
      // excluded BEFORE signing: they can never verify (cosine NULL/NaN),
      // and the signature kernel REJECTS width mismatches loudly — left
      // in, one empty embedding in a streaming micro-batch would throw on
      // every replay and wedge EmbDedupStream permanently. Same filter as
      // EmbIndex.usable, and output-identical to the brute-force arm
      // (whose NULL dots drop the same rows at the threshold filter).
      val vv0 = v.filter(Similarity.clusterable(col("v")))
      val sigDim =
        if (dim0 > 0) dim0 else Similarity.detectDim(vv0.select(col("v").as("n_vec")))
      // vectors are re-read by the candidate-verify join — materialize the
      // normalized form once (cluster scale: a persisted vector table)
      val vv = vv0.filter(size(col("v")) === sigDim).localCheckpoint()
      val bitsVolume = if (lshBits > 0) lshBits else sizedLshBits(vv.count(), targetBucketSize)
      // auto-sized bits ALWAYS honor the recall contract FIRST: bits are
      // capped at the recall-feasible bound so the table count in play
      // actually delivers the per-pair miss guarantee (volume-sized bits
      // past the bound made the table cap bind and recall degrade
      // silently). With EXPLICIT tables the bound is the bits at which
      // that many tables still meets the miss tolerance; only explicit
      // bits waive the cap (the caller took over the trade-off).
      val bits =
        if (lshBits > 0) bitsVolume
        else math.min(bitsVolume, recallFeasibleBits(threshold,
          maxTables = if (lshTables > 0) lshTables else 64))
      val tables = if (lshTables > 0) lshTables else sizedLshTables(threshold, bits)
      // Degenerate-LSH switch (r16, caught by the sf1 bench sweep): when
      // the recall-feasible bits cap binds far below the volume-sized
      // bits — LOW thresholds, where per-bit agreement p₁ = 1-acos(t)/π
      // sits near the random-pair rate p₂ = 1/2 — the bucket join stops
      // pruning. Expected RANDOM-pair candidate coverage is
      // 1-(1-2^-bits)^tables of ALL pairs
      // ([[Similarity.lshRandomPairCoverage]]); at threshold 0.45 the cap
      // gives bits 6 / tables 62 → coverage ≈0.62: most pairs are
      // candidates and "LSH" is most of the brute pass with a tables-fold
      // explode+join+distinct on top (sf1 measured it at exponent 2.1, 4×
      // the brute arm's cost). Pruning below a quarter of brute volume is
      // the break-even with LSH's heavier per-candidate machinery — under
      // it, take the brute arm, which computes the identical exact
      // output. Sizing-only decision (no data scan), and only for AUTO
      // bits: explicit bits mean the caller owns the trade — but they
      // should SEE it (r17): one WARN with the computed coverage.
      if (Similarity.lshRandomPairCoverage(bits, tables) >=
          Similarity.LshDegenerateCoverage) {
        if (lshBits < 0) return brute(vv)
        degenerateLshWarning(bits, tables, threshold).foreach(log.warn)
      }
      val candidates0 = lshCandidateStream(vv, bits, tables, sigDim)
      val candidates = if (dedupCandidates) candidates0.distinct() else candidates0
      val verified = candidates
        .join(vv.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
        .join(vv.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
        .select(col("id_a"), col("id_b"), Similarity.dot(col("v_a"), col("v_b")).as("cosine"))
        .filter(col("cosine") >= threshold)
      // cosine is deterministic per pair, so post-dedup is exact
      if (dedupCandidates) verified else verified.distinct()
    }
  }

  /** The explicit-bits degenerate-LSH warning (r17): auto sizing switches
    * itself to the brute arm past the coverage break-even, but a caller
    * who PINNED `lshBits` at a low threshold waives the switch by design —
    * and silently gets coverage-0.6 "LSH" that costs more than brute.
    * The caller owns the trade but should see it: Some(message) when the
    * pinned sizing lands at or past
    * [[Similarity.LshDegenerateCoverage]], None otherwise.
    */
  private[llm] def degenerateLshWarning(
      bits: Int, tables: Int, threshold: Double): Option[String] = {
    val coverage = Similarity.lshRandomPairCoverage(bits, tables)
    if (coverage < Similarity.LshDegenerateCoverage) None
    else Some(f"explicit lshBits=$bits%d with $tables%d tables at threshold " +
      f"$threshold%.2f gives random-pair candidate coverage $coverage%.2f " +
      f"(>= ${Similarity.LshDegenerateCoverage}%.2f): the bucket join barely prunes, " +
      "so this 'LSH' costs more than the exact brute arm (lshBits = 0), which " +
      "computes the identical output — consider it, or raise the threshold")
  }

  /** Raw candidate pairs from the banded multi-table self-join — one row
    * per colliding (table, bucket) pair, NOT distinct. `vv` must carry
    * (id, v) with v normalized.
    */
  /** THE normalized-vector → (id, t, sig) hyperplane-signature
    * derivation — one fused expression computes every table's signature
    * (same seeds/values as per-table hyperplaneSignature calls, which at
    * high table counts would explode into tables×bits codegen subtrees).
    * Shared by the in-session candidate stream and the persisted
    * [[EmbIndex]] so their signatures can never drift apart.
    */
  private[llm] def hyperplaneSigRows(
      vecs: DataFrame, idName: String, vecName: String,
      bits: Int, tables: Int, dim: Int): DataFrame =
    vecs.select(col(idName), posexplode(hyperplaneSigs(col(vecName), bits, tables, dim)))
      .select(col(idName), col("pos").as("t"), col("col").as("sig"))

  /** Per-table signatures of one vector: the array [[hyperplaneSigRows]] explodes. */
  private[llm] def hyperplaneSigs(v: Column, bits: Int, tables: Int, dim: Int): Column =
    graft.functions.VectorOps.hyperplane_signatures(v, bits, math.max(1, tables), dim)

  private def lshCandidateStream(
      vv: DataFrame, bits: Int, tables: Int, dim0: Int = 0): DataFrame = {
    // plane dimensionality from the corpus itself (unless the caller
    // pinned it to a persisted index's width) — a hardcoded width would
    // silently truncate higher-dimensional embeddings (vectors beyond
    // the plane width stop influencing the signature); shares
    // Similarity's detection contract
    val dim =
      if (dim0 > 0) dim0 else Similarity.detectDim(vv.select(col("v").as("n_vec")))
    val sigged = hyperplaneSigRows(vv, "id", "v", bits, tables, dim)
    sigged.alias("a")
      .join(sigged.alias("b"), Seq("t", "sig"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
  }

  /** Duplicate-group resolution: connected components over an undirected
    * near-dup pair list, labeling every member with the component's
    * minimum id — the step that turns pairwise dup evidence into "keep
    * one canonical doc per group" (pairs alone under-delete: A~B, B~C
    * without A~C must still collapse to one survivor).
    *
    * Strategy is size-based (like broadcast-join selection): at or below
    * `driverEdgeThreshold` edges the graph is index-build-sized and is
    * resolved with union-find on the driver in one collect; above it,
    * iterative min-label propagation runs distributed over the
    * (self-looped) edge list — `label(u) ← min over neighbors v of
    * label(v)` until a fixpoint, which every node reaches after
    * `component diameter` rounds.
    * Each round is one partition-aligned join plus one partial-aggregated
    * groupBy on a pre-partitioned, lineage-truncated edge list; near-dup
    * graphs have tiny diameters (near-cliques of mutual duplicates), so
    * rounds stay in low single digits. For adversarial million-hop chains
    * the round count degrades linearly — pass `starContraction = true` to
    * run the alternating large-star/small-star contraction instead
    * ([[starContractionComponents]], O(log n)-ish rounds regardless of
    * diameter).
    *
    * Returns (id, group_id); nodes not present in `pairs` are absent
    * (callers left-join and coalesce to the row's own id).
    */
  def connectedComponents(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIters: Int = 25,
      /** Edge-count bound below which the graph is resolved with
        * union-find on the driver (one collect, zero shuffles) — the same
        * size-based strategy switch as broadcast-join selection: dup-pair
        * graphs are usually tiny relative to the corpus that produced
        * them, and the iterative path costs ~3 jobs per round. Above the
        * bound, distributed min-label propagation runs as before. */
      driverEdgeThreshold: Long = 1L << 20,
      /** Use star-contraction for the distributed path: round count
        * bounded by ~log(n) of the LARGEST COMPONENT's size rather than
        * its diameter — the right choice for adversarial chain/path
        * graphs where label propagation needs diameter rounds. */
      starContraction: Boolean = false
  ): DataFrame = {
    // same analysis-time guard as every CAST(id AS LONG) operator
    // (IntegralId): a string/UUID pair frame would null-cast BOTH
    // endpoints of every edge, the isNotNull filter would drop them all,
    // and the grouping would silently resolve to zero groups — the
    // caller's keep-canonical pass then deletes nothing
    IntegralId.require(pairs, idACol, "connectedComponents")
    IntegralId.require(pairs, idBCol, "connectedComponents")
    // materialize the pair list once: it is usually the output of an
    // expensive near-dup join, and the edge construction below references
    // it several times (both orientations + the node set)
    // NULL ids never join (standard join-key semantics; also keeps the
    // typed driver collect total)
    val p = pairs.select(col(idACol).cast("long").as("u"), col(idBCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .localCheckpoint()
    if (p.count() <= driverEdgeThreshold) {
      val spark = p.sparkSession
      import spark.implicits._
      val uf = new UnionFind
      p.as[(Long, Long)].collect().foreach { case (a, b) => uf.union(a, b) }
      return uf.labels.toDF("id", "group_id")
    }
    if (starContraction) return starContractionComponents(p, maxIters)._1
    val und = p.union(p.select(col("v").as("u"), col("u").as("v")))
    // self-loops fold each node's own label into the neighbor-min
    val nodes = und.select(col("u")).distinct()
    val edges = und.union(nodes.withColumn("v", col("u")))
      .distinct()
      .repartition(col("v")) // static across rounds; the per-round join key
      .localCheckpoint()
    var labels = nodes.select(col("u").as("id"), col("u").as("label")).localCheckpoint()
    var it = 0
    var done = false
    while (!done && it < maxIters) {
      it += 1
      val next = edges
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id"))
        .agg(min("label").as("label"))
        .localCheckpoint() // truncate lineage: iterative plans must not stack
      done = next
        .join(labels.withColumnRenamed("label", "prev"), "id")
        .filter(col("label") =!= col("prev"))
        .isEmpty
      labels = next
    }
    // a truncated fixpoint would silently split components into multiple
    // "canonical" groups — fail loudly instead; callers with genuinely
    // deep graphs raise maxIters (or move to star-contraction)
    if (!done)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds — " +
          "component diameter exceeds the bound; raise maxIters")
    labels.select(col("id"), col("label").as("group_id"))
  }

  /** Driver union-find over long ids, every root its component's min id:
    * [[connectedComponents]]' driver arm and the streaming dedup shell. */
  private[graft] final class UnionFind {
    private val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      // path compression — without it a chain-shaped graph makes the
      // final labeling pass quadratic (an effective hang at ~10^5 nodes)
      var c = x
      while (parent.getOrElse(c, c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    /** (id, component min) of every id passed to [[union]]. */
    def labels: Seq[(Long, Long)] = parent.keys.toSeq.map(id => (id, find(id)))
  }

  /** Connected components by alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond" — the published distributed-CC algorithm whose round count
    * grows with log of component SIZE, not diameter):
    *
    *  - large-star: every node points its larger neighbors at the minimum
    *    of its neighborhood ∪ itself
    *  - small-star: every node folds its smaller neighbors (and itself)
    *    onto their minimum
    *
    * Each half-round is one groupBy + one join on the edge list; at the
    * fixpoint the edge list is a star forest (every non-root holds exactly
    * one edge to its component's minimum id). A 10^6-hop chain converges
    * in ~log rounds where label propagation would need 10^6.
    *
    * `p` must be a (u, v) long pair DataFrame (both columns non-null).
    * Returns (labels, rounds): labels = (id, group_id) covering every node
    * in `p`, rounds = contraction rounds to the fixpoint (exposed so tests
    * can assert the logarithmic bound). Throws on non-convergence within
    * `maxIters`, like the label-propagation path.
    */
  private[graft] def starContractionComponents(
      p: DataFrame,
      maxIters: Int
  ): (DataFrame, Int) = {
    val nodes = p.select(col("u")).union(p.select(col("v").as("u"))).distinct()
      .localCheckpoint()
    // canonical directed form: (u big, v small); self-pairs drop (their
    // nodes survive via `nodes`)
    var edges = p
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    var it = 0
    var done = edges.isEmpty
    while (!done && it < maxIters) {
      it += 1
      // large-star over the undirected adjacency: m(u) = min(Γ(u) ∪ {u});
      // emit (v, m(u)) for v ∈ Γ(u), v > u  (v > u ≥ m ⇒ stays big-first)
      val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = und.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = und.join(mLarge, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the directed (big → small) list: m(u) = min Γ⁻(u);
      // emit (w, m) for each smaller neighbor w ≠ m, plus (u, m)
      val mSmall = large.groupBy("u").agg(min("v").as("m"))
      val next = large.join(mSmall, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mSmall.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint() // truncate lineage: iterative plans must not stack
      // fixpoint = identical edge set (set containment + equal cardinality)
      done = next.count() == edges.count() &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
    }
    if (!done)
      throw new IllegalStateException(
        s"starContractionComponents did not converge within $maxIters rounds")
    val labels = nodes
      .join(edges.withColumnRenamed("u", "id").withColumnRenamed("v", "root"),
        nodes("u") === col("id"), "left")
      .select(nodes("u").as("id"), coalesce(col("root"), nodes("u")).as("group_id"))
    (labels, it)
  }

  /** Distinct LSH candidate pairs before verification — the quantity whose
    * growth rate decides whether the plan survives scale-up (exposed so
    * tests can assert it stays ~linear across scale factors under
    * [[sizedLshBits]]). Deterministic: fixed plane seeds.
    */
  def embeddingLshCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      lshBits: Int = -1,
      lshTables: Int = 1,
      targetBucketSize: Int = 16
  ): DataFrame = {
    val vv = df.select(col(idCol).as("id"), Similarity.normalize(col(vecCol)).as("v"))
      .localCheckpoint()
    val bits = if (lshBits > 0) lshBits else sizedLshBits(vv.count(), targetBucketSize)
    lshCandidateStream(vv, bits, lshTables).distinct()
  }
}
