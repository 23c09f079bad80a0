package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{EngineConfig, TableConfig}
import graft.streaming.IngestStream
import graft.table.IceTable
import graft.transforms.Transforms

/** Generated code survives the batch: Spark's codegen cache holds the
  * engine's working set, and a steady batch compiles nothing.
  */
class CodegenReuseSuite extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Classes Janino compiled (driver and task threads) while `body` ran. */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("a cycle of plans holding more than Spark's default 100 cache keys recompiles nothing") {
    // literals are inlined into the generated source: each i is its own
    // whole-stage class, compiled once for the driver and once for the tasks
    def cycle(): Unit = (0 until 80).foreach { i =>
      spark.range(4).selectExpr(s"id * ${i + 7} + ${i * 13} AS x").collect()
      ()
    }
    val first = compiles(cycle())
    assert(first > 100, s"the cycle held only $first keys")
    assert(compiles(cycle()) === 0L, s"first pass compiled $first")
  }

  test("jsonExpand: a second same-shaped batch compiles no class") {
    // the Kafka-shaped file batch a sink consumer hands the SMT chain
    val dir = TestSpark.freshDir("json-expand-steady")
    def batch(b: Int) = {
      val f = new File(dir, s"batch-$b.json")
      Files.write(f.toPath, (0 until 200).map { i =>
        val value = s"""{\\"id\\":${b * 1000 + i},\\"name\\":\\"n$i\\",\\"score\\":${i * 0.5}}"""
        s"""{"key":$i,"value":"$value","topic":"t","partition":${i % 2},"offset":$i}"""
      }.asJava)
      spark.read.schema("key LONG, value STRING, topic STRING, partition INT, offset LONG").json(f.getPath)
    }
    def run(b: Int): Unit = {
      val out = Transforms.jsonExpand("value")(batch(b))
      assert(out.schema.fieldNames.toSet ===
        Set("key", "value", "topic", "partition", "offset", "id", "name", "score"))
      assert(out.filter(col("id").isNotNull).count() === 200L)
      ()
    }
    run(0)
    assert(compiles(run(1)) === 0L)
  }

  test("CDC IngestStream: zero compilations per steady batch after the first two") {
    val dir = TestSpark.freshDir("cdc-steady")
    val (staged, src) = (new File(dir, "staged"), new File(dir, "src"))
    staged.mkdirs(); src.mkdirs()
    val rnd = new scala.util.Random(7)
    val state = scala.collection.mutable.Map[Long, Long]()
    val batches = 10
    for (b <- 0 until batches) {
      val lines = (0 until 40).map { i =>
        val k = rnd.nextInt(60).toLong
        def row(v: Long) = s"""{"id":$k,"name":"user$k","balance":$v,"version":$b}"""
        val (op, before, after) = state.get(k) match {
          case None => val v = rnd.nextInt(1000).toLong; state(k) = v; ("c", "null", row(v))
          case Some(old) if i % 5 == 0 => state.remove(k); ("d", row(old), "null")
          case Some(old) => val v = rnd.nextInt(1000).toLong; state(k) = v; ("u", row(old), row(v))
        }
        s"""{"op":"$op","before":$before,"after":$after,""" +
          s""""source":{"db":"shop","table":"accounts"},"ts_ms":${1700000000000L + b * 100 + i}}"""
      }
      Files.write(new File(staged, s"batch-$b.json").toPath, lines.asJava)
    }
    val image = "STRUCT<id: BIGINT, name: STRING, balance: BIGINT, version: BIGINT>"
    val source = spark.readStream
      .schema(s"op STRING, before $image, after $image, source STRUCT<db: STRING, table: STRING>, ts_ms BIGINT")
      .option("maxFilesPerTrigger", 1).json(src.getPath)
    val cfg = EngineConfig(warehouse = new File(dir, "wh").getPath,
      tables = Seq(TableConfig("accounts", idColumns = Seq("id"), partitionBy = Seq("bucket(id,4)"))),
      cdcField = Some("_cdc.op"), autoCreate = true)
    // compaction fires at every second delta commit, first in batch 1, so
    // the two warm-up batches run the upsert and the compaction path once
    // each (at a threshold of 3 the first compaction, in batch 2, compiles
    // its 13 classes there; later compactions compile none either way)
    val q = IngestStream.start(source, cfg, new File(dir, "ckpt").getPath,
      transforms = Seq(Transforms.debezium() _), triggerMs = Some(0L), maintenanceDeltaCommits = Some(2))
    val perBatch = try (0 until batches).map { b =>
      compiles {
        Files.move(new File(staged, s"batch-$b.json").toPath, new File(src, s"batch-$b.json").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        q.processAllAvailable()
      }
    } finally q.stop()
    info(s"compilations per batch: ${perBatch.mkString(" ")}")
    val rows = IceTable.load(s"$dir/wh/accounts").read(spark)
      .select(col("id"), col("balance")).as[(Long, Long)].collect().toMap
    assert(rows === state.toMap)
    assert(perBatch.drop(2).forall(_ == 0L), perBatch)
  }
}
