package graft

import org.apache.spark.sql.SparkSession

import graft.sink.ManifestCommitProtocol

/** Session factory with the engine's required/recommended settings. */
object GraftSession {

  /** Apply engine settings to a builder: non-ANSI casts (the reference's
    * permissive coercions, `data/RecordConverter.java:302-336`), UTC, AQE,
    * local-appropriate shuffle parallelism, and the file commit protocol
    * that hands table writes their file manifest.
    */
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // harmless compatibility shim: on Spark builds that still read
      // ns-precision parquet timestamps as a hard error, this turns them
      // into epoch-nanos longs. On this Spark 4.1.2 install the conf is a
      // silent no-op — consumers must NOT rely on it; all event-time access
      // goes through the schema-adaptive SparkEntry.tsMicros/tsTimestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(ManifestCommitProtocol.ProtocolClassKey, classOf[ManifestCommitProtocol].getName)

  /** Settings applied when reusing an externally created session — the
    * full RUNTIME-SETTABLE set the builder configures (a session missing
    * the extension registrations lacks every graft SQL function; UTC
    * makes the TIMESTAMP_NTZ→TIMESTAMP cast in SparkEntry.tsMicros
    * instant-exact; AQE + right-sized shuffle parallelism keep plans
    * identical to builder-created sessions — the host's default 200
    * partitions pay ~6× task overhead on local shapes; table writes fail
    * without the manifest commit protocol).
    */
  def configure(spark: SparkSession, shufflePartitions: Int = 32): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set(ManifestCommitProtocol.ProtocolClassKey, classOf[ManifestCommitProtocol].getName)
    GraftExtensions.register(spark)
    spark
  }
}
