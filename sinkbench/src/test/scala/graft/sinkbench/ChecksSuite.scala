package graft.sinkbench

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Each of the benchmark's output checks accepts what its model predicts
  * and rejects a corrupted output. The models come from the workloads' own
  * input generators (plain Scala; no Spark session is started). Run with
  * `sbt test` in this directory. */
class ChecksSuite extends AnyFunSuite {

  private def generated[W <: Workload](w: W): W = {
    val dir = Files.createTempDirectory("sinkbench-checks").toFile
    try w.generate(new Ctx(null, 7L, dir, new Meter, new Tracer(false)))
    finally Stats.deleteRecursively(dir)
    w
  }

  test("backfill_fanout: counts, sums, id sets, evolved schema, offsets and lookups") {
    import Backfill._
    val w = generated(new Backfill)
    for ((tpe, m) <- w.model.byType) {
      val ids = m.recs.map(_.id).toArray
      assert(idsError(tpe, m, ids).isEmpty)
      assert(idsError(tpe, m, ids.tail).nonEmpty, "a lost row")
      assert(idsError(tpe, m, ids :+ ids.head).nonEmpty, "a duplicated row")
      assert(countSumError(tpe, m, m.recs.size, m.sum).isEmpty)
      assert(countSumError(tpe, m, m.recs.size - 1, m.sum).nonEmpty, "a lost row")
      assert(countSumError(tpe, m, m.recs.size, m.sum + 1).nonEmpty, "a changed amount")
      val want = w.model.batchOffsets(m.lastBatch)
      assert(offsetsError(tpe, want, want).isEmpty)
      assert(offsetsError(tpe, want.map { case (k, v) => k -> (v - 1) }, want).nonEmpty,
        "offsets of the batch before")
      val rec = m.recs(m.recs.size / 2)
      assert(lookupError(rec, Seq(rec.amount)).isEmpty)
      assert(lookupError(rec, Nil).nonEmpty, "key not found")
      assert(lookupError(rec, Seq(rec.amount, rec.amount)).nonEmpty, "key found twice")
      assert(lookupError(rec, Seq(rec.amount + 1)).nonEmpty, "wrong row")
    }
    val good = StructType(ExpectedSchema.toSeq.sortBy(_._1).map { case (n, t) => StructField(n, t) })
    assert(schemaError("orders", good).isEmpty)
    assert(schemaError("orders", StructType(good.filterNot(_.name == "coupon"))).nonEmpty,
      "the new optional field was not added")
    assert(schemaError("orders", StructType(good.map(f =>
      if (f.name == "key") f.copy(dataType = IntegerType) else f))).nonEmpty,
      "the key was not widened")
  }

  test("cdc_stream: interleaved lookups, scan aggregates and the final table") {
    import CdcStream._
    val w = generated(new CdcStream)
    val fin = w.finalState
    assert(finalError(fin.toSeq, fin).isEmpty)
    val (k, a) = fin.head
    assert(finalError(fin.toSeq.tail, fin).nonEmpty, "a lost row")
    assert(finalError(fin.toSeq.map { case (x, v) =>
      x -> (if (x == k) v.copy(balance = v.balance + 1) else v) }, fin).nonEmpty, "a stale update")
    assert(finalError(fin.toSeq :+ (k -> a.copy(version = a.version - 1)), fin).nonEmpty,
      "an equality delete not applied")
    val gone = (1L to Keys).find(x => !fin.contains(x)).get
    assert(finalError(fin.toSeq :+ (gone -> Acct("x", 1L, 1L)), fin).nonEmpty,
      "a deleted key resurrected")
    for ((key, want) <- w.lookups.flatten) {
      assert(lookupError(key, want, want.toSeq).isEmpty)
      assert(lookupError(key, want, want.toSeq ++ want.toSeq :+ Acct("x", 0L, 0L)).nonEmpty)
      assert(lookupError(key, want, want.toSeq.map(v => v.copy(version = v.version + 1))).nonEmpty ||
        want.isEmpty)
    }
    for (agg <- w.aggs) {
      assert(aggError(agg, agg).isEmpty)
      assert(aggError((agg._1, agg._2 + 1), agg).nonEmpty)
    }
  }

  test("curate_stream: survivor set and no near-duplicate survivors") {
    import CurateStream._
    val w = generated(new CurateStream)
    val kept = w.docs.filter(d => w.survivors(d.id)).map(d => d.id -> d.text)
    assert(survivorsError(kept.map(_._1), w.survivors).isEmpty)
    assert(nearPairsError(kept, Threshold).isEmpty)
    assert(survivorsError(kept.map(_._1).tail, w.survivors).nonEmpty, "a unique doc dropped")
    // a later member of a family first seen in the stream, kept as well
    val dup = w.docs.find(d => d.family >= CorpusFamilies && !w.survivors(d.id)).get
    assert(survivorsError(kept.map(_._1) :+ dup.id, w.survivors).nonEmpty)
    assert(nearPairsError(kept :+ (dup.id -> dup.text), Threshold).nonEmpty)
  }
}
