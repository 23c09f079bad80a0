package graft.fs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Hadoop-filesystem control-plane primitives shared by every component
  * that publishes metadata next to Spark-written data: the table format
  * ([[graft.table.CommitLog]]'s commit claims, [[graft.table.IceTable]]'s
  * schema/meta versioning, [[graft.sink.IceTableWriter]]'s staging
  * markers) and the persisted-index family ([[graft.llm.IvfIndex]]'s
  * versioned-geometry pointers, [[graft.llm.IndexLayout]]'s generation
  * sweeps). Promoted out of `graft.llm` in r15 when the table format's
  * control plane moved onto the same layer.
  *
  * The DATA files already go through Spark's (i.e. Hadoop's) filesystem
  * layer; these helpers put the POINTER/stamp/claim/sweep ops on the same
  * layer, so a table or index on a cluster default FS (`hdfs://`,
  * `s3a://`) resolves the same files the executors write — java.nio would
  * resolve against the driver's local disk and silently diverge (data on
  * the cluster, commit log on one node's disk).
  *
  * Everything here is create/list/delete only — no renames. A rename is
  * not atomic on object stores, so the publish protocols built on these
  * primitives (numbered commit claims, `ptr-vN` pointers) publish by
  * CREATING a new file (one PUT, atomic everywhere) and readers take the
  * highest number.
  */
private[graft] object ControlFs {

  // ---- op profile -------------------------------------------------------
  // Always-on per-primitive (count, nanos) tallies — two LongAdder bumps
  // per op, ~20 ns, invisible next to any filesystem call. Exists so a
  // bench regression on a control-plane-heavy query can be attributed to
  // a PRIMITIVE (which op, how many, how long) instead of re-derived from
  // first principles each round — `graft.tools.Profile` prints the delta
  // around each timed run.
  private final class OpStat {
    val count = new java.util.concurrent.atomic.LongAdder
    val nanos = new java.util.concurrent.atomic.LongAdder
  }
  private val opStats =
    new java.util.concurrent.ConcurrentHashMap[String, OpStat]()
  @inline private def timed[A](op: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val s = opStats.computeIfAbsent(op, _ => new OpStat)
      s.count.increment(); s.nanos.add(System.nanoTime() - t0)
    }
  }
  /** (op → (count, totalNanos)) since JVM start; diff two snapshots to
    * attribute a run. */
  private[graft] def profileSnapshot(): Map[String, (Long, Long)] = {
    val b = Map.newBuilder[String, (Long, Long)]
    opStats.forEach((k, v) => b += k -> (v.count.sum(), v.nanos.sum()))
    b.result()
  }
  /** Tally an engine-side (non-primitive) phase — e.g. the writer's
    * `sparkWriteJob` — into the same profile. */
  private[graft] def timedOp[A](op: String)(f: => A): A = timed(op)(f)

  /** The active session's Hadoop conf (it carries `fs.*.impl` bindings
    * and object-store credentials); a bare Configuration only as a last
    * resort for conf-less callers outside any session — call from a
    * thread with the session active (every engine entry point does), or
    * `spark.hadoop.*` credentials won't reach the control plane even
    * though the data plane would still see them.
    */
  def conf: Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fsFor(path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf) match {
      // Local paths resolve to ChecksumFileSystem, which shadows every
      // file with a `.crc` sidecar and REFUSES reads that mismatch it.
      // Control files must stay readable after out-of-band surgery
      // (operator fix-ups, tests, tools that know the JSON format), and
      // must not litter sidecars next to every commit claim — use the
      // raw layer, the exact semantics the pre-r15 java.nio control
      // plane had. Cluster filesystems (hdfs://, s3a://) are not
      // ChecksumFileSystems and pass through untouched.
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f                                          => f
    }
    (fs, p)
  }

  /** Local fast path. RawLocalFileSystem's per-op cost is pathological
    * for a control plane: listStatus builds a Path + several java.io.File
    * stats PER CHILD (3.2 ms at 202 entries), and create() without
    * native hadoop libs applies its default permission by FORK+EXEC'ing
    * chmod (5.3 ms per create) — together the entire ~8 ms/commit the
    * loghist probe measured after the r15 port (java.nio: 0.15/0.04 ms;
    * SCALE.md's fsops micro-probe table). Cluster filesystems keep the
    * pure Hadoop path — at 100 TB the cost there is network RTTs and the
    * design minimizes op COUNT. For filesystems that resolve to the LOCAL
    * disk (file:, plus registered test schemes extending
    * RawLocalFileSystem), the
    * path still resolves THROUGH the filesystem (`pathToFile`, so scheme
    * mapping stays exercised and tested) but byte I/O runs on java.nio.
    * CREATE_NEW is O_EXCL — fail-if-exists strictly STRONGER than the
    * Hadoop layer's local check-then-act.
    */
  private def localFile(fs: FileSystem, p: HPath): Option[java.io.File] =
    fs match {
      case rl: org.apache.hadoop.fs.RawLocalFileSystem => Some(rl.pathToFile(p))
      case _                                           => None
    }

  def mkdirs(dir: String): Unit = timed("mkdirs") {
    val (fs, p) = fsFor(dir)
    fs.mkdirs(p)
    ()
  }

  def exists(path: String): Boolean = timed("exists") {
    val (fs, p) = fsFor(path)
    fs.exists(p)
  }

  /** One-RPC stat: status (existence, length, modification time) or None. */
  def status(path: String): Option[FileStatus] = timed("status") {
    val (fs, p) = fsFor(path)
    try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Children of `dir` (empty when `dir` is absent). */
  def list(dir: String): Seq[FileStatus] = timed("list") {
    val (fs, p) = fsFor(dir)
    localFile(fs, p) match {
      case Some(d) =>
        val names = d.list()
        // null = absent OR a regular file; match listStatus, where a
        // FILE path lists as itself — local and cluster must not
        // silently diverge on a shared primitive
        if (names == null) return status(dir).filter(_.isFile).toSeq
        names.toSeq.flatMap { n =>
          // one readAttributes call per child instead of listStatus's
          // Path + repeated File stats; a child deleted mid-list is
          // skipped, matching listStatus's behavior on a fresh listing —
          // any OTHER per-child IO error is logged, not swallowed
          try {
            val a = java.nio.file.Files.readAttributes(
              d.toPath.resolve(n),
              classOf[java.nio.file.attribute.BasicFileAttributes])
            Some(new FileStatus(a.size(), a.isDirectory, 1, 0,
              a.lastModifiedTime().toMillis, new HPath(p, n)))
          } catch {
            case _: java.nio.file.NoSuchFileException => None
            case e: java.io.IOException =>
              log.warn(s"listing $dir: skipping child '$n': $e")
              None
          }
        }
      case None =>
        // listStatus throws FileNotFoundException on an absent dir — map
        // it to empty, the local branch's null-listing semantics. One RPC
        // (no exists pre-check), and a dir deleted concurrently (retention
        // sweep, gc, generation sweep) reads as absent instead of throwing
        // out of a shared primitive.
        try fs.listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
    }
  }

  /** Child NAMES of `dir` (empty when absent) — the hot-path listing.
    * Most control-plane listings (commit fences, schema versions, meta
    * pointers) need only names; on the local fast path this is ONE
    * directory read with zero per-child stats or Path constructions
    * (~0.15 ms at 200 entries vs [[list]]'s ~1.4 ms — SCALE.md's fsops
    * micro-probe).
    */
  def listNames(dir: String): Seq[String] = timed("listNames") {
    val (fs, p) = fsFor(dir)
    localFile(fs, p) match {
      case Some(d) =>
        val names = d.list()
        // null = absent or a regular file; a FILE lists as itself,
        // matching the Hadoop branch (see list)
        if (names == null) { if (d.isFile) Seq(d.getName) else Nil }
        else names.toSeq
      case None =>
        // same absent/vanished rule (and same saved RPC) as list()
        try fs.listStatus(p).toSeq.map(_.getPath.getName)
        catch { case _: java.io.FileNotFoundException => Nil }
    }
  }

  /** Every status under `dir`, depth-first with children BEFORE their
    * parent (post-order) — the shape a sweep that deletes files then
    * empty directories wants. `dir` itself is not included. Empty when
    * `dir` is absent.
    */
  def walkPostOrder(dir: String): Seq[FileStatus] = {
    def rec(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else list(st.getPath.toString).flatMap(rec) :+ st
    list(dir).flatMap(rec) // list() is empty on an absent dir
  }

  /** Full contents of a small control file, or None if absent. */
  def readSmallBytes(path: String): Option[Array[Byte]] = timed("readSmall") {
    val (fs, p) = fsFor(path)
    localFile(fs, p) match {
      case Some(f) =>
        try Some(java.nio.file.Files.readAllBytes(f.toPath))
        catch {
          case _: java.nio.file.NoSuchFileException => None
          case _: java.io.FileNotFoundException     => None
        }
      case None =>
        try {
          val in = fs.open(p)
          try {
            val out = new java.io.ByteArrayOutputStream()
            val buf = new Array[Byte](8192)
            var n = in.read(buf)
            while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
            Some(out.toByteArray)
          } finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Full contents of a small control file as UTF-8, or None if absent. */
  def readSmall(path: String): Option[String] =
    readSmallBytes(path).map(new String(_, StandardCharsets.UTF_8))

  /** Create-exclusive write of a small control file — the publish
    * primitive (the fail-if-exists claim semantics java.nio hard links
    * gave the pre-r15 commit log, on the Hadoop layer). One create call:
    * atomic on HDFS; on the local FS and on S3A without conditional
    * creates the no-overwrite check is check-then-act, so callers that
    * can race (the commit log) verify the claim by reading it back, and
    * CONCURRENT maintenance publishers remain the documented
    * single-maintenance-writer boundary (what this primitive removes
    * everywhere is the rename, which object stores implement as a
    * non-atomic copy+delete even for single writers). Throws
    * FileAlreadyExistsException if the path already exists.
    */
  def createExclusive(path: String, content: Array[Byte]): Unit = timed("createExclusive") {
    val (fs, p) = fsFor(path)
    probeExclusivity(fs, p)
    // Stripe lock: where create(overwrite=false) is check-then-act (local
    // FS, S3A without conditional creates), two SAME-JVM racers could both
    // pass the existence check and truncate over each other mid-write.
    // All committers of a single-driver deployment live in one JVM, so a
    // JVM-level mutex around check+create+write+close closes exactly the
    // races that deployment can produce; cross-process racers on such an
    // FS remain a documented single-writer boundary (the commit log's
    // read-back verify narrows but cannot close it — see CommitLog). On
    // an atomic FS (HDFS) the lock is redundant and only serializes
    // same-JVM publishes of the same path — which conflict anyway.
    val stripe = lockStripes(math.floorMod(path.hashCode, lockStripes.length))
    stripe.synchronized {
      localFile(fs, p) match {
        case Some(f) =>
          // O_EXCL create — atomic fail-if-exists on posix, and skips
          // the Hadoop layer's fork+exec'd chmod (see localFile). The
          // Hadoop path auto-creates parents; match that.
          if (f.getParentFile != null) java.nio.file.Files.createDirectories(f.getParentFile.toPath)
          try {
            java.nio.file.Files.write(f.toPath, content,
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            ()
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // callers speak the Hadoop exception vocabulary
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"File already exists: $p")
          }
        case None =>
          val out = fs.create(p, /* overwrite = */ false)
          try out.write(content)
          finally out.close()
      }
    }
  }

  private val lockStripes: Array[Object] = Array.fill(64)(new Object)

  def createExclusive(path: String, content: String): Unit =
    createExclusive(path, content.getBytes(StandardCharsets.UTF_8))

  /** Overwriting write of a small control file (stamps, where last-write
    * -wins is the intended semantics).
    */
  def writeSmall(path: String, content: String): Unit = timed("writeSmall") {
    val (fs, p) = fsFor(path)
    localFile(fs, p) match {
      case Some(f) =>
        if (f.getParentFile != null) java.nio.file.Files.createDirectories(f.getParentFile.toPath)
        java.nio.file.Files.write(f.toPath, content.getBytes(StandardCharsets.UTF_8))
        ()
      case None =>
        val out = fs.create(p, /* overwrite = */ true)
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
    }
  }

  def delete(path: String, recursive: Boolean): Unit = timed("delete") {
    val (fs, p) = fsFor(path)
    fs.delete(p, recursive)
    ()
  }

  // ---- exclusivity capability probe -----------------------------------

  /** Hadoop path-capability keys that indicate the FS can make a
    * no-overwrite create atomic server-side (S3A conditional create /
    * If-None-Match PUT, Hadoop 3.4.1+). Probed defensively — older
    * Hadoop versions throw on unknown keys.
    */
  private val ConditionalCreateCapabilities = Seq(
    "fs.capability.conditional.create",
    "fs.capability.create.conditional.overwrite")

  /** Schemes whose namespace operations serialize through a metadata
    * service, making create(overwrite=false) an atomic claim. */
  private val AtomicCreateSchemes = Set("hdfs", "webhdfs", "viewfs", "ofs", "o3fs")

  /** True iff a create-exclusive claim is atomic against CONCURRENT
    * creators on this filesystem (vs a check-then-act emulation).
    * Public so deployments can assert it and tests can pin the answer
    * for a capability-less FS.
    */
  def createClaimIsAtomic(fs: FileSystem, p: HPath): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    // local disks: createExclusive takes the O_EXCL fast path (see
    // localFile) — genuinely atomic against concurrent creators
    localFile(fs, p).isDefined ||
    AtomicCreateSchemes.contains(scheme) ||
    ConditionalCreateCapabilities.exists { k =>
      try fs.hasPathCapability(p, k)
      catch { case _: Exception => false }
    }
  }

  private val probedSchemes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Once per scheme per JVM, at the first exclusive publish: report
    * loudly whether the claim is atomic on the running FS, so the
    * single-maintenance-writer boundary is visible in production logs
    * instead of only in scaladoc. Never throws — an unprobeable FS just
    * gets the conservative WARN.
    */
  private[fs] def probeExclusivity(fs: FileSystem, p: HPath): Unit = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    if (probedSchemes.add(scheme)) {
      val atomic =
        try createClaimIsAtomic(fs, p)
        catch { case _: Exception => false }
      if (atomic)
        log.info(s"control-plane publishes on '$scheme:' use an ATOMIC " +
          "create-exclusive claim — concurrent publishers are safe")
      else
        log.warn(s"control-plane publishes on '$scheme:' fall back to a " +
          "CHECK-THEN-ACT no-overwrite create (no conditional-create " +
          "capability detected): commit claims are verified by read-back, " +
          "but index/maintenance publishes assume a SINGLE maintenance " +
          "writer per table/index — see OPERATIONS.md. For multi-writer " +
          s"deployments on such a store, set ${LockLease.ConfKey} to " +
          "enable the best-effort writer lease (loud takeover on expiry)")
    }
  }

  /** Test hook: forget probed schemes so a suite can observe the probe. */
  private[graft] def resetProbesForTest(): Unit = probedSchemes.clear()
}
