package graft

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.fs.{LocalDataFileSystem, LocalDataFs}
import graft.sink.ManifestCommitProtocol

/** Session factory with the engine's required/recommended settings. */
object GraftSession {

  /** Entries of Spark's generated-class cache (`CodeGenerator`, one per
    * JVM, keyed by context class loader and source, so driver threads and
    * task threads hold separate entries). Spark's default of 100 is below
    * one pipeline's working set: with an unbounded cap a sinkbench
    * `backfill_fanout` run compiles 107–112 keys and a `curate_stream` run
    * 129–130, so at 100 the LRU cycles and each batch recompiles classes
    * an earlier one built. All 129 `graft.Bench` queries compile 1 313
    * (sf0.001, 4 cores); the cap holds that with headroom. An entry costs
    * about 24 KB of heap and 8 KB of Metaspace (clearing the 1 316 entries
    * a `graft.Bench` run ends with frees 31.5 MB and 10.1 MB), so a full
    * cache is about 64 MB. A static conf, read once, when the cache is
    * first built.
    */
  private[graft] val CodegenCacheEntries = 2000
  private[graft] val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The runtime-settable SQL settings every engine session carries,
    * applied by both [[builder]] and [[configure]]: non-ANSI casts (the
    * reference's permissive coercions, `data/RecordConverter.java:302-336`),
    * UTC, local-appropriate shuffle parallelism, AQE, microsecond parquet
    * timestamps, and the file commit protocol that hands table writes
    * their file manifest.
    */
  private[graft] def runtimeSettings(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    // harmless compatibility shim: on Spark builds that still read
    // ns-precision parquet timestamps as a hard error, this turns them
    // into epoch-nanos longs. On this Spark 4.1.2 install the conf is a
    // silent no-op — consumers must NOT rely on it; all event-time access
    // goes through the schema-adaptive SparkEntry.tsMicros/tsTimestamp.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    ManifestCommitProtocol.ProtocolClassKey -> classOf[ManifestCommitProtocol].getName)

  /** Apply engine settings to a builder: the [[runtimeSettings]], the
    * fork-free `file:` filesystem for both Hadoop APIs
    * ([[graft.fs.LocalDataFs]]) and a generated-class cache that holds
    * the engine's working set.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
    (runtimeSettings(shufflePartitions) ++
      LocalDataFs.Bindings.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
  }

  /** Settings applied when reusing an externally created session — the
    * builder's [[runtimeSettings]] and extensions (a session missing the
    * extension registrations lacks every graft SQL function; UTC
    * makes the TIMESTAMP_NTZ→TIMESTAMP cast in SparkEntry.tsMicros
    * instant-exact; AQE + right-sized shuffle parallelism keep plans
    * identical to builder-created sessions — the host's default 200
    * partitions pay ~6× task overhead on local shapes; table writes fail
    * without the manifest commit protocol). The `file:` bindings go on the
    * session's Hadoop conf; a builder setting that cannot take effect on a
    * running session is logged once per JVM as a WARN (see
    * [[unmetSettings]]).
    */
  def configure(spark: SparkSession, shufflePartitions: Int = 32): SparkSession = {
    runtimeSettings(shufflePartitions).foreach { case (k, v) => spark.conf.set(k, v) }
    val hc = spark.sparkContext.hadoopConfiguration
    LocalDataFs.Bindings.foreach { case (k, v) => hc.set(k, v) }
    // builds the bound class when no `file:` instance is cached yet; an
    // instance cached earlier is shared by its holders and stays open
    val fileFs = FileSystem.get(java.net.URI.create("file:///"), hc).getClass.getName
    for ((setting, detail, stands) <- unmetSettings(spark.conf.get(CodegenCacheKey).toInt, fileFs))
      if (warned.add(s"$setting $detail"))
        log.warn(s"GraftSession.configure: $setting not in effect ($detail) — $stands")
    GraftExtensions.register(spark)
    spark
  }

  /** The builder settings a running session lacks and `configure` cannot
    * apply, as (setting, what is in effect, what that costs): the codegen
    * cap is a static conf, fixed when the session was built; and Hadoop
    * caches one `FileSystem` per scheme and user, so a `file:` instance
    * created before `configure` keeps its class for the JVM's life.
    */
  private[graft] def unmetSettings(codegenCacheEntries: Int,
      fileFsClass: String): Seq[(String, String, String)] =
    Option.when(codegenCacheEntries < CodegenCacheEntries)((CodegenCacheKey,
      s"the session was built with $codegenCacheEntries, below $CodegenCacheEntries",
      "a static conf: set it when building the session, or steady batches recompile " +
        "generated classes once the working set passes the cap")).toSeq ++
    Option.when(fileFsClass != classOf[LocalDataFileSystem].getName)(("fs.file.impl",
      s"the JVM's cached file: filesystem is $fileFsClass",
      "data-file writes keep its per-file costs (stock Hadoop without native libraries " +
        "forks chmod for every file and directory); build the session with " +
        "GraftSession.builder, or set spark.hadoop.fs.file.impl before anything opens a file: path"))
}
