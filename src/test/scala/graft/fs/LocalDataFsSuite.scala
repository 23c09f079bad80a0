package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, TestSpark}
import graft.config.{EngineConfig, TableConfig}
import graft.sink.IceTableWriter
import graft.streaming.IngestStream
import graft.table.{IceTable, TableMeta}

/** The fork-free `file:` filesystem ([[LocalDataFs]]): the engine's local
  * data plane and stream checkpoint start no process, and what they write
  * carries the modes stock Hadoop would give it.
  */
class LocalDataFsSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Commands of the processes Hadoop started while `body` ran: events
    * whose stack passes through `org.apache.hadoop` (its `Shell`, which
    * forks `chmod`, `readlink`, `stat`, `df`…). The shared test JVM starts
    * other processes at times nothing here controls — Spark's
    * `getconf PAGESIZE` at the first executor heartbeat, and an `rm -rf`
    * of a dropped session's artifact dir whenever garbage collection runs
    * its cleaner — and those are not filesystem calls. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body
    finally rec.stop()
    val dump = Files.createTempFile("process-start", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName.startsWith("org.apache.hadoop."))))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump); () }
  }

  test("the session binds file: to the fork-free classes for both Hadoop APIs") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), hc).isInstanceOf[LocalDataFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), hc).getDefaultFileSystem
      .isInstanceOf[LocalDataFs])
  }

  test("a partitioned append on file: starts no process") {
    val t = IceTable.create(TestSpark.freshDir("nofork-append"),
      StructType(Seq(StructField("id", LongType), StructField("p", StringType))),
      TableMeta(partitionBy = Seq("p")))
    val rows = (0L until 600L).map(i => (i, s"p${i % 3}")).toDF("id", "p").repartition(2)
    IceTableWriter.append(spark, rows, t, batchId = 0) // first-use class loading, off the record
    val started = processesStarted {
      assert(IceTableWriter.append(spark, rows, t, batchId = 1).get.dataFiles.size >= 3)
    }
    assert(started.isEmpty, started)
  }

  test("three batches of a file-source IngestStream with a file: checkpoint start no process") {
    val dir = TestSpark.freshDir("nofork-stream")
    val (staged, src) = (new File(dir, "staged"), new File(dir, "src"))
    staged.mkdirs(); src.mkdirs()
    for (b <- 0 until 3) {
      val f = new File(staged, s"batch-$b.json")
      Files.write(f.toPath, (0 until 50).map(i => s"""{"id":${b * 50 + i},"v":"x$i"}""").asJava)
    }
    val cfg = EngineConfig(warehouse = new File(dir, "wh").getPath,
      tables = Seq(TableConfig("t", partitionBy = Seq("bucket(id,3)"))), autoCreate = true)
    val source = spark.readStream.schema("id LONG, v STRING")
      .option("maxFilesPerTrigger", 1).json(src.getPath)
    val started = processesStarted {
      val q = IngestStream.start(source, cfg, new File(dir, "ckpt").getPath, triggerMs = Some(0L))
      try for (b <- 0 until 3) {
        Files.move(new File(staged, s"batch-$b.json").toPath, new File(src, s"batch-$b.json").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(IceTable.load(s"$dir/wh/t").read(spark).count() === 150L)
    assert(started.isEmpty, started)
  }

  /** Relative path → rwx string of every entry under `root`. */
  private def modes(root: String): Map[String, String] = {
    val base = new File(root).toPath
    Files.walk(base).iterator.asScala.filter(_ != base).map { p =>
      base.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  /** What a data write and a checkpoint write leave: directories made on
    * their own and as parents of a create, data files with `.crc`
    * sidecars, and a `FileContext` create-then-rename. */
  private def writeTree(fs: FileSystem, fc: FileContext, root: String): Unit = {
    fs.mkdirs(new Path(s"$root/t/_temporary/0"))
    for (f <- Seq(s"$root/t/p=a/part-0.parquet", s"$root/t/p=b/c=1/part-1.parquet")) {
      val out = fs.create(new Path(f)); out.write(Array.fill[Byte](700)(7)); out.close()
    }
    fc.mkdir(new Path(s"$root/ckpt/offsets"), FsPermission.getDirDefault, true)
    val tmp = new Path(s"$root/ckpt/offsets/.0.tmp")
    val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE))
    out.write("v1".getBytes); out.close()
    fc.rename(tmp, new Path(s"$root/ckpt/offsets/0"), Options.Rename.OVERWRITE)
  }

  test("dirs, data files and .crc sidecars get stock Hadoop's modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val uri = URI.create("file:///")
      val stock = new LocalFileSystem()
      stock.initialize(uri, conf)
      val ours = new LocalDataFileSystem()
      ours.initialize(uri, conf)
      val (a, b) = (TestSpark.freshDir(s"modes-stock-$umask"), TestSpark.freshDir(s"modes-ours-$umask"))
      val stockFc = AbstractFileSystem.get(uri, conf)
      assert(stockFc.isInstanceOf[org.apache.hadoop.fs.local.LocalFs])
      writeTree(stock, FileContext.getFileContext(stockFc, conf), a)
      writeTree(ours, FileContext.getFileContext(new LocalDataFs(uri, conf), conf), b)
      val (want, got) = (modes(a), modes(b))
      assert(want.keySet.exists(_.endsWith(".part-0.parquet.crc")) &&
        want.keySet.exists(_.endsWith(".0.crc")), want.keySet)
      assert(got === want, s"umask $umask")
      val dirMode = if (umask == "022") "rwxr-xr-x" else "rwx------"
      assert(got("t/p=b/c=1") === dirMode && got("ckpt/offsets") === dirMode, s"umask $umask")
      stock.close(); ours.close()
    }
  }

  test("getFileLinkStatus answers as stock Hadoop does, symlinks included") {
    val dir = TestSpark.freshDir("nofork-link")
    val target = Files.write(new File(dir, "target").toPath, "x".getBytes)
    val link = Files.createSymbolicLink(new File(dir, "link").toPath, target)
    val (stock, ours) = (new LocalFileSystem(), new LocalDataFileSystem())
    Seq(stock, ours).foreach(_.initialize(URI.create("file:///"), new Configuration()))
    // stock reads the link through `readlink <path string>`, so only an
    // unqualified path reports as a link; ours defers to it for every link
    for (p <- Seq(target, link); path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      val (want, got) = (stock.getFileLinkStatus(path), ours.getFileLinkStatus(path))
      assert((got.isSymlink, got.isFile, got.getLen) === ((want.isSymlink, want.isFile, want.getLen)),
        path)
    }
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
    Seq(stock, ours).foreach(_.close())
  }

  test("configure lists exactly the builder settings a running session lacks") {
    val ours = classOf[LocalDataFileSystem].getName
    val stock = classOf[LocalFileSystem].getName
    assert(GraftSession.unmetSettings(GraftSession.CodegenCacheEntries, ours).isEmpty)
    assert(GraftSession.unmetSettings(GraftSession.CodegenCacheEntries + 1, ours).isEmpty)
    assert(GraftSession.unmetSettings(100, ours).map(_._1) === Seq(GraftSession.CodegenCacheKey))
    assert(GraftSession.unmetSettings(GraftSession.CodegenCacheEntries, stock).map(_._1) ===
      Seq("fs.file.impl"))
    assert(GraftSession.unmetSettings(100, stock).map(_._1) ===
      Seq(GraftSession.CodegenCacheKey, "fs.file.impl"))
    // the running test session was built by the builder: nothing is unmet
    assert(GraftSession.unmetSettings(spark.conf.get(GraftSession.CodegenCacheKey).toInt,
      FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
        .getClass.getName).isEmpty)
  }

  test("a builder session and a plain session after configure agree on every runtime setting") {
    val keys = GraftSession.runtimeSettings(shufflePartitions = 8).map(_._1)
    // a new session shares the context but not the SQL conf; unset, each
    // key falls back to Spark's own default
    val plain = spark.newSession()
    keys.foreach(plain.conf.unset)
    assert(keys.exists(k => plain.conf.getOption(k) != spark.conf.getOption(k)),
      "the plain session must start from Spark's defaults")
    GraftSession.configure(plain, shufflePartitions = 8)
    for (k <- keys) assert(plain.conf.getOption(k) === spark.conf.getOption(k), k)
  }
}
