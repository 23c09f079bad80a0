package graft.sinkbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.config.{EngineConfig, TableConfig}
import graft.llm.LshIndex
import graft.sink.Ingest
import graft.streaming.DedupStream
import graft.table.{FilePruning, IceTable}

/** `curate_stream`: documents through `DedupStream.start` against an LSH
  * index built from an initial corpus, stepped one micro-batch at a time;
  * survivors are sunk through `Ingest.run` into a table. Planted
  * near-duplicate families are spread within and across batches, some with
  * a member already in the corpus; every other document is unique. A read
  * phase follows the ingest steps of every round.
  */
final class CurateStream extends Workload {
  import CurateStream._

  private[sinkbench] var docs = IndexedSeq.empty[Doc]
  private[sinkbench] var survivors = Set.empty[Long]
  private var lookups = IndexedSeq.empty[Long]
  private var query: StreamingQuery = null

  private def rdir(ctx: Ctx, r: Int) = ctx.dir(s"r$r")
  private def config(dir: File) = EngineConfig(warehouse = new File(dir, "wh").getPath,
    tables = Seq(TableConfig("curated")), autoCreate = true)
  private def path(dir: File) = Ingest.tablePath(config(dir), "curated")

  def generate(ctx: Ctx): Unit = {
    val in = ctx.dir("in"); in.mkdirs()
    val rnd = new scala.util.Random(ctx.seed)
    val vocab = {
      val s = mutable.LinkedHashSet[String]()
      while (s.size < Vocabulary)
        s += (0 until 3 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      s.toIndexedSeq
    }
    def doc(): Array[String] = Array.fill(Words)(vocab(rnd.nextInt(vocab.size)))
    def variant(base: Array[String]): String = {
      val v = base.clone(); v(rnd.nextInt(v.length)) = vocab(rnd.nextInt(vocab.size)); v.mkString(" ")
    }
    // families 0 until CorpusFamilies have their base in the corpus; the
    // rest first appear in the stream, in a batch `first` and later ones
    val bases = Array.fill(CorpusFamilies + StreamFamilies)(doc())
    val placed = mutable.ArrayBuffer[(Int, String, Int)]() // (batch, text, family)
    for (f <- 0 until CorpusFamilies; _ <- 0 until CorpusFamilyMembers)
      placed += ((rnd.nextInt(Batches), variant(bases(f)), f))
    for (f <- CorpusFamilies until CorpusFamilies + StreamFamilies) {
      val first = rnd.nextInt(Batches - 1)
      placed += ((first, variant(bases(f)), f))
      if (rnd.nextBoolean()) placed += ((first, variant(bases(f)), f))
      for (_ <- 2 until StreamFamilyMembers)
        placed += ((first + 1 + rnd.nextInt(Batches - 1 - first), variant(bases(f)), f))
    }
    val corpus = (1 to CorpusDocs).map { i =>
      Doc(i.toLong, -1, if (i <= CorpusFamilies) bases(i - 1).mkString(" ") else doc().mkString(" "), -1)
    }
    var next = CorpusDocs + 1L
    docs = (0 until Batches).flatMap { b =>
      val fam = placed.filter(_._1 == b).map(p => (p._2, p._3))
      val texts = fam ++ Seq.fill(DocsPerBatch - fam.size)((doc().mkString(" "), -1))
      val ids = rnd.shuffle((0 until DocsPerBatch).map(next + _))
      next += DocsPerBatch
      texts.zip(ids).map { case ((t, f), id) => Doc(id, b, t, f) }
    }
    // the earliest batch of a stream family keeps its minimum id; corpus
    // families keep nothing from the stream; unique documents all survive
    val firstOf = docs.filter(_.family >= CorpusFamilies).groupBy(_.family).map { case (f, ds) =>
      val b = ds.map(_.batch).min
      f -> ds.filter(_.batch == b).map(_.id).min
    }
    survivors = docs.filter(d => d.family < 0 || firstOf.get(d.family).contains(d.id)).map(_.id).toSet
    lookups = IndexedSeq.fill(Lookups)(docs(rnd.nextInt(docs.size)).id)

    def write(f: File, ds: Seq[Doc]): Unit = {
      val w = new java.io.PrintWriter(f, "UTF-8")
      try ds.foreach(d => w.println(s"""{"doc_id":${d.id},"text":${Stats.jsonString(d.text)}}"""))
      finally w.close()
    }
    write(new File(in, "corpus.json"), corpus)
    for (b <- 0 until Batches) write(new File(in, s"batch-$b.json"), docs.filter(_.batch == b))
  }

  private def start(ctx: Ctx, dir: File): StreamingQuery = {
    val spark = ctx.spark
    val idx = new File(dir, "index").getPath
    LshIndex.build(spark.read.schema(DocSchema).json(new File(ctx.dir("in"), "corpus.json").getPath),
      "doc_id", "text", idx, n = Shingle, numHashes = NumHashes, bands = Bands)
    val src = new File(dir, "src"); src.mkdirs()
    val cfg = config(dir)
    DedupStream.start(spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1).json(src.getPath),
      idx, "doc_id", "text", Threshold, new File(dir, "ckpt").getPath,
      sink = (df, batchId) => ctx.tracer.span("sink.callback") {
        Ingest.run(spark, df, batchId, cfg); ()
      },
      triggerMs = 0L)
  }

  def setupRound(ctx: Ctx, r: Int): Unit = {
    val dir = rdir(ctx, r)
    FileSource.stage(ctx, dir, (0 until Batches).map(b => s"batch-$b.json"))
    query = start(ctx, dir)
  }

  def runRound(ctx: Ctx, r: Int): Unit = {
    val dir = rdir(ctx, r)
    // the warm-up round (r < 0) ingests a prefix and leaves reads unchecked
    for (b <- 0 until (if (r < 0) WarmBatches else Batches)) {
      ctx.meter.ingest(DocsPerBatch) {
        ctx.tracer.step(ctx.stepIndex, "streaming.step")(FileSource.step(dir, s"batch-$b.json", query))
      }
      ctx.stepIndex += 1
      ctx.tracer.count("llm.docs_in", DocsPerBatch)
    }
    val p = path(dir)
    lookups.foreach { id =>
      Probe.point(ctx, p, pred = None,
        filePred = Some(f => FilePruning.mayContainRange(f, "doc_id", Some(id.toString), Some(id.toString))),
        key = col("doc_id") === id) { rows =>
        if (r >= 0) ctx.meter.check(survivorsError(rows.map(_.getAs[Long]("doc_id")).toSeq,
          Set(id).intersect(survivors)).map(e => s"round $r lookup of doc $id: $e"))
      }
    }
    val want = (survivors.size.toLong, survivors.sum)
    for (_ <- 0 until Scans)
      Probe.scan(ctx, p, "doc_id") { (cnt, sum) =>
        if (r >= 0)
          ctx.meter.check(if ((cnt, sum) == want) None else Some(s"round $r scan: ($cnt, $sum), want $want"))
      }
  }

  def endRound(ctx: Ctx, r: Int, full: Boolean): (Long, Long) = {
    query.stop()
    val dir = rdir(ctx, r)
    val idx = new File(dir, "index")
    Probe.account(ctx, Seq(path(dir)))
    if (ctx.tracer.enabled) {
      val kept = IceTable.load(path(dir)).log.commits().flatMap(_.dataFiles).map(_.rows).sum
      ctx.tracer.count("llm.docs_dropped", Batches * DocsPerBatch - kept)
      val shingles = new File(LshIndex.dataDir(ctx.spark, idx.getPath), "shingles.parquet")
      ctx.tracer.count("llm.index_partitions",
        Option(shingles.list()).toSeq.flatten.count(_.startsWith("batch=")))
    }
    if (full) {
      val got = IceTable.load(path(dir)).read(ctx.spark).select("doc_id", "text").collect()
        .map(x => x.getLong(0) -> x.getString(1))
      ctx.meter.check(survivorsError(got.map(_._1).toSeq, survivors))
      ctx.meter.check(nearPairsError(got.toSeq, Threshold))
    }
    (Stats.dirBytes(new File(dir, "wh")) + Stats.dirBytes(idx), survivors.size.toLong)
  }
}

object CurateStream {
  val Vocabulary = 5000
  val Words = 60
  val CorpusDocs = 1000
  val CorpusFamilies = 20
  val CorpusFamilyMembers = 3
  val StreamFamilies = 15
  val StreamFamilyMembers = 4
  val Batches = 3
  val WarmBatches = 2
  val DocsPerBatch = 200
  val Lookups = 12
  val Scans = 4
  val Threshold = 0.7
  val Shingle = 3
  val NumHashes = 64
  val Bands = 32

  final case class Doc(id: Long, batch: Int, text: String, family: Int)

  /** The surviving ids must be exactly the expected set, each once. */
  def survivorsError(got: Seq[Long], want: Set[Long]): Option[String] =
    if (got.size == want.size && got.toSet == want) None
    else Some(s"survivors: ${got.size} rows, ${got.toSet.size} ids, want ${want.size}; " +
      s"unexpected ${got.toSet.diff(want).take(5)}, missing ${want.diff(got.toSet).take(5)}")

  /** No two survivors may reach the threshold by exact shingle Jaccard. */
  def nearPairsError(docs: Seq[(Long, String)], threshold: Double): Option[String] = {
    val close = nearPairs(docs, threshold)
    if (close.isEmpty) None else Some(s"survivor pairs at Jaccard >= $threshold: ${close.take(5)}")
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Word `n`-gram shingles, split on whitespace: the set the similarity
    * threshold is defined over. */
  def shingles(text: String, n: Int = Shingle): Set[String] =
    text.split("\\s+").filter(_.nonEmpty).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  /** Pairs of documents whose exact shingle Jaccard reaches `threshold`;
    * candidates are the pairs sharing at least one shingle. */
  def nearPairs(docs: Seq[(Long, String)], threshold: Double): Seq[(Long, Long, Double)] = {
    val sets = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val byShingle = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sets.foreach { case (id, s) => s.foreach(x => byShingle.getOrElseUpdate(x, mutable.ArrayBuffer()) += id) }
    val pairs = byShingle.values.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    pairs.toSeq.flatMap { case (a, b) =>
      val (x, y) = (sets(a), sets(b))
      val j = x.intersect(y).size.toDouble / x.union(y).size
      if (j >= threshold) Some((a, b, j)) else None
    }
  }
}
