package graft.sink

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.{DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Footer-derived stats for one written file. */
final case class FooterStats(
    rows: Long,
    bytes: Long,
    min: Map[String, String],
    max: Map[String, String])

/** One file a table write job committed: its final path, the Hive-escaped
  * partition dir it was written under ("" when unpartitioned) and the
  * stats read from it on the executor that wrote it.
  */
final case class WrittenFile(path: String, partitionDir: String, stats: FooterStats)

/** The session's file commit protocol: Spark's default one, plus a file
  * manifest for graft table writes. The reference's workers return their
  * `DataFile`s with writer-produced metrics in `DataWritten`
  * (`channel/CommitterImpl.sendCommitResponse:140-188`); here the task
  * commit message carries them, so the writer never lists or re-reads
  * what it staged.
  *
  * A write is marked by the [[ManifestCommitProtocol.TokenOption]] write
  * option, which reaches the job's and every task's Hadoop conf. For a
  * marked write each task records the files it opens, reads their
  * footers in `commitTask` (the files are closed by then), and returns
  * the stats next to the default message; `commitJob` unwraps the
  * messages for the default commit and then publishes the manifest under
  * the token for the calling writer to take. An unmarked write only
  * delegates. Installed once per session by [[graft.GraftSession]].
  */
class ManifestCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean = false)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  import ManifestCommitProtocol._

  /** This task attempt's opened files: (temp path, partition dir); reset
    * by each attempt's `setupTask`. */
  @transient private var opened: ArrayBuffer[(String, String)] = _

  override def setupTask(ctx: TaskAttemptContext): Unit = {
    super.setupTask(ctx)
    opened = ArrayBuffer.empty
  }

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String], spec: FileNameSpec): String = {
    val tmp = super.newTaskTempFile(ctx, dir, spec)
    if (tokenOf(ctx.getConfiguration).isDefined) opened += ((tmp, dir.getOrElse("")))
    tmp
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val conf = ctx.getConfiguration
    if (tokenOf(conf).isEmpty) super.commitTask(ctx)
    else {
      // read before the default commit moves the files out of the attempt dir
      val files = opened.toSeq.map { case (tmp, dir) =>
        val name = new Path(tmp).getName
        val target = if (dir.isEmpty) new Path(path) else new Path(new Path(path), dir)
        val format = Seq("parquet", "orc", "avro").find(f => name.endsWith(s".$f")).getOrElse("")
        WrittenFile(new Path(target, name).toString, dir, footerStats(tmp, format, conf))
      }
      new TaskCommitMessage((super.commitTask(ctx), files))
    }
  }

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    tokenOf(job.getConfiguration) match {
      case None => super.commitJob(job, msgs)
      case Some(token) =>
        val (inner, files) = msgs.map(_.obj.asInstanceOf[(TaskCommitMessage, Seq[WrittenFile])]).unzip
        super.commitJob(job, inner)
        manifests.put(token, files.flatten)
        ()
    }
}

object ManifestCommitProtocol {

  /** Spark's session conf naming the file commit protocol class. */
  val ProtocolClassKey = "spark.sql.sources.commitProtocolClass"

  /** Internal write option marking a graft table write; its value is the
    * write's own token, so concurrent writes never share a manifest. */
  private[sink] val TokenOption = "graft.write.manifestToken"

  /** Manifests published by `commitJob`, until the writer takes them. */
  private val manifests = new java.util.concurrent.ConcurrentHashMap[String, Seq[WrittenFile]]()

  /** Manifests published and not yet taken (0 between writes). */
  private[graft] def pending: Int = manifests.size

  /** Remove and return the manifest published under `token`. */
  private[sink] def take(token: String): Option[Seq[WrittenFile]] = Option(manifests.remove(token))

  private def tokenOf(conf: Configuration): Option[String] =
    Option(conf.get(TokenOption)).filter(_.nonEmpty)

  /** Throw unless `spark` runs this protocol: without it a table write
    * would have no manifest, and there is no listing to fall back on. */
  private[sink] def requireInstalled(spark: SparkSession): Unit = {
    val cls = spark.conf.get(ProtocolClassKey)
    if (cls != classOf[ManifestCommitProtocol].getName)
      throw new IllegalStateException(
        s"$ProtocolClassKey is $cls, not ${classOf[ManifestCommitProtocol].getName}: graft " +
          "table writes take their file list from that protocol. Build the session with " +
          "GraftSession.builder or apply GraftSession.configure to it")
  }

  /** Run `w.save(dir)` as a marked write and return the files its job
    * committed. No `_SUCCESS` is written: nothing reads it. */
  private[sink] def save(w: DataFrameWriter[Row], dir: String): Seq[WrittenFile] = {
    val token = java.util.UUID.randomUUID().toString
    var manifest: Option[Seq[WrittenFile]] = None
    try
      w.option(TokenOption, token)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .save(dir)
    finally manifest = take(token)
    manifest.getOrElse(throw new IllegalStateException(
      s"the write job into $dir committed without publishing a file manifest"))
  }

  /** Rows + size + per-top-level-column min/max bounds from one file
    * footer (no data read). Parquet and ORC both carry footer statistics;
    * avro carries a row count per block header and no bounds; any other
    * format records size only (rows = -1). A file without bounds prunes
    * as "may contain", never a wrong skip.
    *
    * Bounds are recorded only for columns with valid statistics in EVERY
    * row group / stripe; nested paths and raw binary are skipped.
    */
  private[graft] def footerStats(p: String, format: String, conf: Configuration): FooterStats = {
    val hp = new Path(p)
    val size = hp.getFileSystem(conf).getFileStatus(hp).getLen
    if (format == "orc") return orcStats(p, size, conf)
    if (format == "avro") return FooterStats(avroRows(hp, conf), size, Map.empty, Map.empty)
    if (format != "parquet") return FooterStats(-1L, size, Map.empty, Map.empty)
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    // pass `conf` into the read options: the default options build a fresh
    // Hadoop Configuration per file, which re-parses the default XML
    // resources and costs several times the footer read itself
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hp, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, hp).build())
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val merged = scala.collection.mutable.LinkedHashMap[
        String, org.apache.parquet.column.statistics.Statistics[_]]()
      val invalid = scala.collection.mutable.Set[String]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val pathParts = c.getPath.toArray
          if (pathParts.length == 1) {
            val name = pathParts(0)
            val st: org.apache.parquet.column.statistics.Statistics[_ <: Comparable[_]] =
              c.getStatistics
            val pt = c.getPrimitiveType
            val encodable = pt.getPrimitiveTypeName match {
              case INT32 | INT64 | FLOAT | DOUBLE | BOOLEAN => true
              case BINARY =>
                pt.getLogicalTypeAnnotation
                  .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
              case _ => false
            }
            if (st == null || st.isEmpty || !st.hasNonNullValue || !encodable) {
              invalid += name; ()
            } else {
              merged.get(name) match {
                case None => merged(name) = st
                case Some(acc) =>
                  // erased cast to a concrete type param so the invariant
                  // Java generic accepts the same-column merge
                  type S = org.apache.parquet.column.statistics.Statistics[java.lang.Long]
                  acc.asInstanceOf[S].mergeStatistics(st.asInstanceOf[S])
              }
            }
          }
        }
      }
      def enc(v: Any): String = v match {
        case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
        case other                               => String.valueOf(other)
      }
      val valid = merged.view.filterKeys(!invalid.contains(_))
      FooterStats(
        rows = blocks.map(_.getRowCount).sum,
        bytes = size,
        min = valid.map { case (k, s) => k -> enc(s.genericGetMin) }.toMap,
        max = valid.map { case (k, s) => k -> enc(s.genericGetMax) }.toMap
      )
    } finally r.close()
  }

  /** ORC footer statistics (P5 three-format parity with the reference's
    * symmetric parquet/ORC/avro appenders, `data/Utilities.java:162-167`):
    * row count from the reader, per-top-level-column bounds from the
    * file-level `ColumnStatistics`, string-encoded the same way as the
    * parquet path so [[graft.table.FilePruning]] compares them uniformly.
    * Only integer/floating/string stats are recorded (same conservative
    * class as parquet); anything else simply carries no bound.
    */
  private def orcStats(p: String, size: Long, conf: Configuration): FooterStats = {
    import org.apache.orc.{OrcFile, TypeDescription}
    val reader = OrcFile.createReader(new Path(p), OrcFile.readerOptions(conf))
    try {
      val schema = reader.getSchema
      val mins = scala.collection.mutable.LinkedHashMap[String, String]()
      val maxs = scala.collection.mutable.LinkedHashMap[String, String]()
      if (schema.getCategory == TypeDescription.Category.STRUCT) {
        val stats = reader.getStatistics // indexed by column id; 0 = root struct
        val names = schema.getFieldNames.asScala.toSeq
        val children = schema.getChildren.asScala.toSeq
        names.zip(children).foreach { case (name, child) =>
          val s = stats(child.getId)
          if (s != null && s.getNumberOfValues > 0) s match {
            case i: org.apache.orc.IntegerColumnStatistics =>
              mins(name) = String.valueOf(i.getMinimum)
              maxs(name) = String.valueOf(i.getMaximum)
            case d: org.apache.orc.DoubleColumnStatistics =>
              mins(name) = String.valueOf(d.getMinimum)
              maxs(name) = String.valueOf(d.getMaximum)
            // BOTH sides must be present: ORC truncates string stats per
            // side (values > 1024 bytes record only lower/upper bounds and
            // the exact min/max return null independently)
            case st: org.apache.orc.StringColumnStatistics
                if st.getMinimum != null && st.getMaximum != null =>
              mins(name) = st.getMinimum
              maxs(name) = st.getMaximum
            case _ => () // no bound recorded — pruner treats as "may contain"
          }
        }
      }
      FooterStats(reader.getNumberOfRows, size, mins.toMap, maxs.toMap)
    } finally reader.close()
  }

  /** Record count of an avro container file from its block headers (no
    * record is decoded). A file with no block counts 0, so an eager
    * empty part file is unstaged like an empty parquet one.
    */
  private[sink] def avroRows(p: Path, conf: Configuration): Long = {
    val in = new org.apache.avro.file.DataFileStream[AnyRef](
      p.getFileSystem(conf).open(p), new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    try {
      var n = 0L
      while (in.hasNext) { n += in.getBlockCount; in.nextBlock() }
      n
    } finally in.close()
  }
}
