package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.fs.ControlFs
import graft.operators.HotPath
import graft.table.{IceTable, TableMeta}

/** The write job's own file manifest ([[ManifestCommitProtocol]]): the
  * stats and paths a table write commits come from the task commit
  * messages, so they must equal what a listing plus footer read of the
  * committed files would give, hold only the committing attempt's files,
  * stay apart across concurrent writes, and leave no driver-side state.
  */
class ManifestCommitProtocolSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("p", StringType),
    StructField("v", DoubleType)))

  /** 1 000 rows over 3 partition values of different sizes, in 2 input
    * partitions that each hold every value: with distribution mode `none`
    * each task writes one file per partition dir, so dirs share part names. */
  private def rows = (0L until 1000L)
    .map(i => (i, if (i % 10 == 0) "a" else if (i % 3 == 0) "b c" else "d/e", i * 0.5))
    .toDF("id", "p", "v").repartition(2)

  /** Every data file under `root`, spelled as a Hadoop listing spells it. */
  private def listed(root: String): Seq[String] =
    ControlFs.walkPostOrder(root).filter(_.isFile).map(_.getPath.toString)
      .filter { p => val n = new Path(p).getName; !n.startsWith("_") && !n.startsWith(".") }

  /** Partition values of a listed file, relative to its staging root. */
  private def listedPartition(t: IceTable, root: String, file: String): Map[String, String] = {
    val writeToField = graft.operators.PartitionTransforms.parseSpec(t.meta.partitionBy, t.schema)
      .map(x => x.writeName -> x.fieldName).toMap
    IceTable.normalizePath(file).stripPrefix(IceTable.normalizePath(root).stripSuffix("/") + "/")
      .split('/').filter(_.contains("=")).map { seg =>
        val Array(k, v) = seg.split("=", 2)
        writeToField(k) -> org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(v)
      }.toMap
  }

  private def checkAgainstFooters(format: String): Unit = {
    val t = IceTable.create(TestSpark.freshDir(s"manifest-$format"), schema,
      TableMeta(partitionBy = Seq("p"), format = format,
        props = Map("write.distribution-mode" -> "none")))
    val files = IceTableWriter.append(spark, rows, t, batchId = 0).get.dataFiles
    assert(files.map(_.rows).sum === 1000L)
    assert(files.map(_.partition("p")).toSet === Set("a", "b c", "d/e"))
    val names = files.map(f => new Path(f.path).getName)
    assert(names.distinct.size < names.size,
      s"two partition dirs must share a part name for this check to bite: $names")
    val conf = ControlFs.conf
    files.foreach { f =>
      assert(ManifestCommitProtocol.footerStats(f.path, format, conf) ===
        FooterStats(f.rows, f.bytes, f.min, f.max), s"manifest stats differ from ${f.path}'s footer")
      assert(f.min.contains("id") && f.max.contains("v"), s"bounds missing: $f")
    }
    // the same spelling and partition map a listing of the stage gives
    val root = IceTableWriter.stagingRootOf(files.head.path, t.dir).get
    assert(files.map(_.path).sorted === listed(root).sorted)
    files.foreach(f => assert(f.partition === listedPartition(t, root, f.path)))
  }

  test("manifest stats equal the committed footers: partitioned parquet, shared part names") {
    checkAgainstFooters("parquet")
  }

  test("manifest stats equal the committed footers: partitioned ORC, shared part names") {
    checkAgainstFooters("orc")
  }

  test("avro rows come from block headers: 0, 1 and several blocks") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val avroSchema = SchemaBuilder.record("r").fields().requiredLong("id").endRecord()
    val dir = TestSpark.freshDir("manifest-avro")
    def write(name: String, n: Int, perBlock: Int): Path = {
      val p = new Path(s"$dir/$name.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avroSchema))
      w.create(avroSchema, new java.io.File(p.toUri.getPath))
      try (0 until n).foreach { i =>
        val r = new GenericData.Record(avroSchema)
        r.put("id", i.toLong)
        w.append(r)
        if ((i + 1) % perBlock == 0) w.sync() // close the block here
      } finally w.close()
      p
    }
    val blocks = (p: Path) => {
      val in = new org.apache.avro.file.DataFileStream[AnyRef](
        new java.io.FileInputStream(p.toUri.getPath),
        new org.apache.avro.generic.GenericDatumReader[AnyRef]())
      try { var b = 0; while (in.hasNext) { b += 1; in.nextBlock() }; b } finally in.close()
    }
    val conf = ControlFs.conf
    // a header-only file is the eager empty part file: it must count 0 so
    // the writer unstages it (the guard against an empty partition
    // overwrite truncating the table)
    for ((name, n, perBlock, nBlocks) <- Seq(("empty", 0, 1, 0), ("one", 1, 1, 1), ("many", 10, 3, 4))) {
      val p = write(name, n, perBlock)
      assert(blocks(p) === nBlocks, s"$name: fixture block count")
      assert(ManifestCommitProtocol.avroRows(p, conf) === n.toLong, name)
      assert(ManifestCommitProtocol.footerStats(p.toString, "avro", conf).rows === n.toLong, name)
    }
  }

  test("a retried task attempt: the manifest holds only the committed attempt's files, once") {
    val out = new Path(TestSpark.freshDir("manifest-attempts"), "stage")
      .makeQualified(java.net.URI.create("file:///"), new Path("/"))
    val job = Job.getInstance(new org.apache.hadoop.conf.Configuration(ControlFs.conf))
    FileOutputFormat.setOutputPath(job, out)
    job.getConfiguration.set(ManifestCommitProtocol.TokenOption, "attempts")
    val proto = new ManifestCommitProtocol("job-attempts", out.toString)
    proto.setupJob(job)
    // the task side runs in a Spark task, as in a real write: the default
    // task commit asks the driver's commit coordinator for permission
    val conf = new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)
    val msgs = spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      def attempt(n: Int) = {
        val id = new TaskAttemptID(new TaskID(new JobID("manifest", 0), TaskType.MAP, 0), n)
        val c = new org.apache.hadoop.conf.Configuration(conf.value)
        c.set("mapreduce.task.attempt.id", id.toString)
        new TaskAttemptContextImpl(c, id)
      }
      def writeAvro(ctx: TaskAttemptContextImpl, dir: String, n: Int): Unit = {
        import org.apache.avro.SchemaBuilder
        import org.apache.avro.file.DataFileWriter
        import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
        val s = SchemaBuilder.record("r").fields().requiredLong("id").endRecord()
        val p = new Path(proto.newTaskTempFile(ctx, Some(dir), FileNameSpec("", ".avro")))
        val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](s))
        w.create(s, p.getFileSystem(ctx.getConfiguration).create(p))
        try (0 until n).foreach { i =>
          val r = new GenericData.Record(s); r.put("id", i.toLong); w.append(r)
        } finally w.close()
      }
      val a0 = attempt(0)
      proto.setupTask(a0)
      writeAvro(a0, "p=1", 3)
      writeAvro(a0, "p=2", 4)
      proto.abortTask(a0)
      val a1 = attempt(1)
      proto.setupTask(a1)
      writeAvro(a1, "p=1", 5)
      proto.commitTask(a1)
    }.collect().toSeq
    proto.commitJob(job, msgs)
    val manifest = ManifestCommitProtocol.take("attempts").get
    assert(manifest.size === 1, s"only attempt 1's file: $manifest")
    val f = manifest.head
    assert(f.partitionDir === "p=1" && f.stats.rows === 5L)
    assert(f.path === new Path(new Path(out, "p=1"), new Path(f.path).getName).toString)
    assert(ControlFs.exists(f.path), s"manifest file must exist at its final path: ${f.path}")
    assert(listed(out.toString) === Seq(f.path), "no other data file may reach the output")
    assert(ManifestCommitProtocol.pending === 0)
  }

  test("concurrent table appends (K10 shape) each commit only their own files") {
    val tables = (0 until 3).map { i =>
      IceTable.create(TestSpark.freshDir(s"manifest-k10-$i"), schema,
        TableMeta(partitionBy = Seq("p")))
    }
    (0 until 2).foreach { round =>
      val commits = HotPath.inParallel("manifest k10 test", spark, tables.size)(
        tables.zipWithIndex.map { case (t, i) =>
          () => IceTableWriter.append(spark, rows.limit(100 * (i + 1)), t, batchId = round).get
        })
      commits.zip(tables).zipWithIndex.foreach { case ((c, t), i) =>
        val own = IceTable.normalizePath(t.dir).stripSuffix("/") + "/"
        assert(c.dataFiles.forall(f => IceTable.normalizePath(f.path).startsWith(own)),
          s"table $i committed a foreign file: ${c.dataFiles.map(_.path)}")
        assert(c.dataFiles.map(_.rows).sum === 100L * (i + 1))
      }
    }
    tables.zipWithIndex.foreach { case (t, i) => assert(t.read(spark).count() === 200L * (i + 1)) }
    assert(ManifestCommitProtocol.pending === 0)
  }

  test("no manifest outlives its write: success, failure and unmarked writes") {
    val t = IceTable.create(TestSpark.freshDir("manifest-leak"), schema, TableMeta())
    assert(IceTableWriter.append(spark, rows, t, batchId = 0).isDefined)
    assert(ManifestCommitProtocol.pending === 0)
    // graft table writes leave no _SUCCESS behind: nothing reads it
    val successMarkers = ControlFs.walkPostOrder(t.dir).filter(_.getPath.getName == "_SUCCESS")
    assert(successMarkers.isEmpty, s"table write left ${successMarkers.map(_.getPath)}")

    val boom = udf((x: Long) => { if (x == 7L) throw new IllegalStateException("boom"); x })
    intercept[Exception] {
      IceTableWriter.append(spark, rows.withColumn("id", boom(col("id"))), t, batchId = 1)
    }
    assert(ManifestCommitProtocol.pending === 0)
    assert(t.read(spark).count() === 1000L, "a failed write publishes nothing")

    val plain = s"${TestSpark.freshDir("manifest-plain")}/out"
    spark.range(10).write.parquet(plain)
    assert(ManifestCommitProtocol.pending === 0)
    // unmarked writes keep the default committer's behaviour
    assert(ControlFs.exists(s"$plain/_SUCCESS"))
  }

  test("a session without the protocol cannot write a table: it throws and publishes nothing") {
    val t = IceTable.create(TestSpark.freshDir("manifest-unset"), schema, TableMeta())
    val key = ManifestCommitProtocol.ProtocolClassKey
    val installed = spark.conf.get(key)
    spark.conf.unset(key)
    val ex =
      try intercept[IllegalStateException](IceTableWriter.append(spark, rows, t, batchId = 0))
      finally spark.conf.set(key, installed)
    assert(ex.getMessage.contains("GraftSession.configure"), ex.getMessage)
    assert(t.log.commits().isEmpty)
    assert(listed(s"${t.dir}/data").isEmpty, "nothing may be staged either")
  }
}
