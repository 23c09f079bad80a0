package graft.table

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{ObjectStoreTestFs, TestSpark}
import graft.fs.ControlFs
import graft.sink.IceTableWriter

/** r16: the object-store-semantics boundary, pinned by EXPERIMENT on the
  * `osfs:` test double ([[graft.ObjectStoreTestFs]]) instead of by
  * argument. `clusterfs:` proved the pure Hadoop branch over POSIX
  * atomicity; osfs: removes exactly the two properties an S3-class store
  * without conditional creates does not give you — an atomic
  * no-overwrite create (emulated as check-then-act with an injectable
  * fail-point) and list-after-write consistency (armable lag) — and this
  * suite drives the commit log, the writer's staging protocol, and the
  * index pointer protocol through both.
  */
class ObjectStoreSemanticsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def osDir(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.osfs.impl", classOf[ObjectStoreTestFs].getName)
    ObjectStoreTestFs.reset()
    s"osfs:${TestSpark.freshDir(prefix)}"
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  private def df(rows: (Long, String)*) = rows.toDF("id", "name")

  test("table format end-to-end on check-then-act creates (osfs:)") {
    val dir = s"${osDir("osfs-e2e")}/tbl"
    val t = IceTable.create(dir, schema, TableMeta(idColumns = Seq("id")))
    assert(IceTableWriter.append(spark, df((1L, "a"), (2L, "b")), t, batchId = 0).isDefined)
    assert(IceTableWriter.append(spark, df((1L, "a")), t, batchId = 0).isEmpty,
      "replay fence must hold on a check-then-act FS")
    assert(IceTableWriter.delta(spark, df((3L, "c")), Seq(2L).toDF("id"), t, 1L).isDefined)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    t.compact(spark)
    assert(t.gc(olderThanMs = 0L) > 0)
    assert(t.read(spark).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    assert(t.fsck(spark).count() === 0L)
    // checkpoint + retention sweep drive the same check-then-act creates
    val log = new CommitLog(s"${osDir("osfs-ckpt")}/log", checkpointInterval = 5)
    (0 until 18).foreach { i =>
      assert(log.commit(i.toLong, s => Commit(s, i.toLong, s"c$i", 0L, 1,
        dataFiles = Seq(FileEntry(s"f$i", 1L, 1)))).isDefined)
    }
    assert(log.commits().map(_.seq) === (1L to 18L))
  }

  test("check-then-act interleaving, driven deterministically: the documented " +
    "cross-process double-claim failure mode, demonstrated exactly once") {
    val root = s"${osDir("osfs-race")}/log"
    val log = new CommitLog(root)
    assert(log.commit(0L, s => Commit(s, 0L, "a-0", 0L, 1)).isDefined)
    // the probe's judgment for this FS: claims are NOT atomic — the WARN
    // at first publish keys off exactly this answer
    val (fs, p) = ControlFs.fsFor(s"$root/v000000001.json")
    assert(!ControlFs.createClaimIsAtomic(fs, p),
      "osfs: must probe as check-then-act — that is the semantics it exists to emulate")
    // "process B" (simulated): in the window between A's existence check
    // and A's create of seq 2, B's fully-written, read-back-verified claim
    // lands via a DIFFERENT channel than A's filesystem object (raw disk
    // write = another process's PUT). B has every reason to believe it
    // owns seq 2 — its read-back would have returned its own commitId.
    val bEntry = CommitLog.mapper.writeValueAsBytes(Commit(2L, 999L, "b-lost", 0L, 1))
    val target = "v000000002.json"
    @volatile var fired = 0
    ObjectStoreTestFs.betweenCheckAndCreate = { f =>
      if (f.getName == target && fired == 0) {
        fired += 1
        java.nio.file.Files.write(
          java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(s"$root/$target").toUri.getPath),
          bEntry)
        ()
      }
    }
    try {
      val a = log.commit(1L, s => Commit(s, 1L, "a-1", 0L, 1))
      assert(fired === 1, "the fail-point must have fired inside the check-then-act window")
      // A truncated over B and passed its own read-back: A owns seq 2
      assert(a.exists(_.seq === 2L))
    } finally ObjectStoreTestFs.reset()
    // the failure mode, demonstrated: B's verified commit is GONE — this
    // is why multi-PROCESS committers on a check-then-act FS are a
    // documented single-committer boundary (OPERATIONS.md), lifted only
    // by conditional-create stores (probe reports atomic there)
    val ids = log.commits().map(_.commitId)
    assert(ids === Seq("a-0", "a-1"), s"expected B's claim lost, got $ids")
  }

  test("commit claiming stays LIVE under list-after-write lag: the claim refusal " +
    "itself advances the fence past unlisted seqs") {
    val root = s"${osDir("osfs-lag")}/log"
    val log = new CommitLog(root)
    (0 until 3).foreach { i =>
      assert(log.commit(i.toLong, s => Commit(s, i.toLong, s"c$i", 0L, 1)).isDefined)
    }
    ObjectStoreTestFs.armListLag()
    try {
      // seq 4 lands but stays invisible to LIST; HEAD (existence) is
      // consistent, so the next committer's create at seq 4 is refused —
      // without a listing ever telling it seq 4 exists
      assert(log.commit(3L, s => Commit(s, 3L, "c3-hidden", 0L, 1)).exists(_.seq === 4L))
      val next = log.commit(4L, s => Commit(s, 4L, "c4", 0L, 1))
      // liveness: the refused claim at seq 4 must advance the attempt
      // fence (a stale listing would otherwise retry seq 4 forever and
      // exhaust maxRetries); safety: the post-claim dup window re-reads
      // the skipped seqs DIRECTLY (reads are consistent), so a hidden
      // same-batch duplicate is still caught
      assert(next.exists(_.seq === 5L),
        s"committer must step past the unlisted seq, got ${next.map(_.seq)}")
    } finally ObjectStoreTestFs.reset()
    assert(log.commits().map(c => (c.seq, c.batchId)) ===
      Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)))
    // and the replay fence sees the whole log once the namespace catches up
    assert(log.commit(4L, s => Commit(s, 4L, "dup", 0L, 1)).isEmpty)
  }

  test("staged-file listing lag: publish waits for the committer's _SUCCESS to " +
    "become listable instead of committing a silently empty file set") {
    val dir = s"${osDir("osfs-stage")}/tbl"
    val t = IceTable.create(dir, schema, TableMeta())
    ObjectStoreTestFs.armListLag()
    val flusher = new Thread(() => {
      // the namespace catches up while the writer is inside its bounded
      // visibility wait
      Thread.sleep(400)
      ObjectStoreTestFs.flushVisibility()
    })
    flusher.setDaemon(true)
    flusher.start()
    try {
      val c = IceTableWriter.append(spark, df((1L, "a"), (2L, "b"), (3L, "c")), t, batchId = 0)
      assert(c.isDefined)
      assert(c.get.dataFiles.nonEmpty, "lagged listing must not publish an empty commit")
      assert(c.get.dataFiles.map(_.rows).sum === 3L,
        s"all staged files must be committed once visible: ${c.get.dataFiles}")
    } finally {
      flusher.join()
      ObjectStoreTestFs.reset()
    }
    assert(t.read(spark).count() === 3L)
  }

  test("staged-file listing lag that NEVER clears: the append publishes every row " +
    "from the write job's own manifest; the batch's replay is fenced") {
    val dir = s"${osDir("osfs-stale")}/tbl"
    val t = IceTable.create(dir, schema, TableMeta())
    ObjectStoreTestFs.armListLag()
    val c = try {
      // the write job itself succeeds (HEAD/GET are consistent) and its
      // final-location files never list while the lag holds — the writer
      // takes its file set from the commit protocol, not from a listing
      val c = IceTableWriter.append(spark, df((1L, "a"), (2L, "b")), t, batchId = 0)
      assert(c.isDefined)
      c.get.dataFiles.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f.path)
        assert(ControlFs.exists(f.path), s"committed file must exist: ${f.path}")
        assert(!ControlFs.listNames(p.getParent.toString).contains(p.getName),
          s"the lag must hide the committed file from LIST: ${f.path}")
      }
      c.get
    } finally ObjectStoreTestFs.reset()
    assert(c.dataFiles.map(_.rows).sum === 2L,
      s"every row must be committed although nothing listed: ${c.dataFiles}")
    // the namespace flushes: the commit reads back in full
    assert(t.read(spark).count() === 2L)
    // replay of the same batch: fenced, nothing doubles
    assert(IceTableWriter.append(spark, df((1L, "a"), (2L, "b")), t, batchId = 0).isEmpty)
    assert(t.read(spark).count() === 2L)
  }

  test("index pointer protocol (stg/ptr claims, keep-2 prune) on check-then-act osfs:") {
    val dir = osDir("osfs-ptr")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark catalyst engines optimize declarative query plans")
    ).toDF("doc_id", "text")
    (1 to 3).foreach { _ =>
      graft.llm.LshIndex.build(docs, "doc_id", "text", dir, n = 3, numHashes = 32, bands = 16)
    }
    val names = ControlFs.listNames(dir)
    val ptrs = names.filter(_.matches("ptr-v\\d+"))
    assert(ptrs.sorted === Seq("ptr-v2", "ptr-v3"),
      s"prune must keep exactly the newest two pointers on osfs:, got $names")
    val hit = graft.llm.LshIndex.queryBatch(spark, dir,
      Seq((9L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
      .select("id_indexed").as[Long].collect().toSet
    assert(hit === Set(1L), "index must answer from the newest generation on osfs:")
  }
}
