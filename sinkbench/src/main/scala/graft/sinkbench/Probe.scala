package graft.sinkbench

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.table.{FileEntry, IceTable}

/** The read probes a table reader makes, and the per-round table
  * accounting of a traced run. */
object Probe {

  /** Current row(s) of one key through the table's pruning:
    * `IceTable.load` -> `scan` with a partition and/or stats predicate ->
    * filter -> collect. `check` runs untimed on the result. */
  def point(ctx: Ctx, path: String,
      pred: Option[Map[String, String] => Boolean],
      filePred: Option[FileEntry => Boolean],
      key: Column)(check: Array[Row] => Unit): Unit = {
    var t: IceTable = null
    var rows: Array[Row] = null
    ctx.meter.read(ctx.meter.pointMs) {
      ctx.tracer.span("table.read_point") {
        t = ctx.tracer.span("table.load")(IceTable.load(path))
        val df = ctx.tracer.span("table.plan")(t.scan(ctx.spark, pred, filePred = filePred))
        rows = df.filter(key).collect()
      }
    }
    if (rows != null) check(rows)
    if (ctx.tracer.enabled && t != null) planned(ctx, t, t.planFiles(pred, filePred = filePred).size)
  }

  /** Full-table aggregate through `IceTable.read`: (count, sum of `sumCol`). */
  def scan(ctx: Ctx, path: String, sumCol: String)(check: (Long, Long) => Unit): Unit = {
    var t: IceTable = null
    var res: Row = null
    ctx.meter.read(ctx.meter.scanMs) {
      ctx.tracer.span("table.read_scan") {
        t = ctx.tracer.span("table.load")(IceTable.load(path))
        val df = ctx.tracer.span("table.plan")(t.read(ctx.spark))
        res = df.agg(count(lit(1)), coalesce(sum(col(sumCol).cast("long")), lit(0L))).head()
      }
    }
    if (res != null) check(res.getLong(0), res.getLong(1))
    if (ctx.tracer.enabled && t != null) planned(ctx, t, t.planFiles(None).size)
  }

  private def planned(ctx: Ctx, t: IceTable, files: Int): Unit = {
    val commits = t.log.commits()
    val live = commits.drop(math.max(0, commits.lastIndexWhere(_.props.get("compaction").contains("true"))))
    ctx.tracer.count("table.probes", 1)
    ctx.tracer.count("table.files_planned", files)
    ctx.tracer.count("table.delete_files_planned", live.flatMap(_.deleteFiles.map(_.path)).distinct.size)
  }

  /** Per-round layer counts from the tables' own logs (traced runs only):
    * data commits and their files, compactions, schema versions added. */
  def account(ctx: Ctx, paths: Seq[String]): Unit = if (ctx.tracer.enabled) {
    val tr = ctx.tracer
    tr.count("rounds", 1)
    paths.filter(IceTable.exists).foreach { p =>
      val t = IceTable.load(p)
      val (rewrites, data) = t.log.commits().partition(_.props.keys.exists(_.startsWith("compaction")))
      tr.count("sink.commits", data.size)
      tr.count("sink.data_files", data.map(_.dataFiles.size).sum)
      tr.count("sink.delete_files", data.map(_.deleteFiles.size).sum)
      tr.count("sink.data_bytes", data.flatMap(_.dataFiles).map(f => math.max(0L, f.bytes)).sum)
      tr.count("table.compactions", rewrites.size)
      tr.count("schema.versions_added", t.schemaVersions.size - 1)
    }
  }
}
