package graft.sinkbench

import java.io.File

/** Per-layer metrics of a traced run, by the names BENCHMARK.json lists.
  *
  * "Per batch" divides a run total by the number of timed ingest steps;
  * "per commit" by the table commits those steps made; "per probe" by the
  * read probes; "per round" by the rounds. A layer the workload does not
  * reach reads 0.
  */
object Layers {

  val Modules = Seq("transforms", "operators", "sink", "table", "llm")
  val FsOps = Seq("createExclusive", "list", "listNames", "readSmall", "exists", "status",
    "writeSmall", "delete", "mkdirs")
  /** Engine phases `ControlFs` tallies beside its primitives. */
  private val Phases = Set("sparkWriteJob", "footerStatsPass")

  def compute(t: Tracer, batches: Int): Seq[(String, (Double, String))] = {
    val nb = math.max(1, batches).toDouble
    val c = t.counters.withDefaultValue(0.0)
    val rounds = math.max(1.0, c("rounds"))
    val roots = t.spans.filter(_.parent < 0).toSeq
    val stepSpans = t.steps.map(s => (s.startMs, s.endMs)).toSeq
    def within(ms: Long, w: Seq[(Double, Double)]) = w.exists { case (a, b) => ms >= a && ms <= b }

    // a job with no engine frame on its call stack is the benchmark's own
    // action: it belongs to the module of the innermost span it ran in
    def spanModule(ms: Long): String =
      t.spans.filter(s => s.startMs <= ms && ms <= s.endMs)
        .sortBy(-_.startMs).headOption.map(_.module).getOrElse("other")
    val jobs = t.jobs.values.toSeq
      .filter(j => within(j.startMs, roots.map(s => (s.startMs, s.endMs))))
      .map(j => (j, j.module.getOrElse(spanModule(j.startMs))))
    val jobModule = jobs.map { case (j, m) => j.id -> m }.toMap
    val stages = t.stages.toSeq.filter(s => within(s.time, roots.map(s => (s.startMs, s.endMs))))
    def stageModule(s: t.StageRec): String = s.module.getOrElse(spanModule(s.time))

    val modules = Modules.flatMap { m =>
      Seq(s"$m.jobs" -> (jobs.count(_._2 == m) / nb, "count"),
        s"$m.task_ms" -> (stages.filter(stageModule(_) == m).map(_.runMs).sum / nb, "ms"))
    }.toMap

    val fs = t.steps.flatMap(_.fs).groupMapReduce(_._1)(_._2) {
      case ((a, b), (x, y)) => (a + x, b + y) }
    val commits = math.max(1.0, c("sink.commits"))
    val fsPrims = fs.filter { case (k, _) => !Phases.contains(k) }
    val probes = math.max(1.0, c("table.probes"))
    def spanMean(name: String, per: Double) =
      t.spans.filter(_.name == name).map(_.ms).sum / per

    val progress = t.progress.toSeq
    def progressMean(key: String) =
      if (progress.isEmpty) 0.0 else progress.map(_.durations.getOrElse(key, 0L)).sum.toDouble / progress.size

    val stepJobs = jobs.filter { case (j, _) => within(j.startMs, stepSpans) }.map(_._1)
    val stepStages = stages.filter(s => within(s.time, stepSpans))
    val gapMs = t.steps.map { s =>
      val ivs = stepJobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
        .map(j => (j.startMs.toDouble, math.min(if (j.endMs < 0) s.endMs else j.endMs.toDouble, s.endMs)))
        .sortBy(_._1)
      var covered = 0.0
      var end = Double.MinValue
      ivs.foreach { case (a, b) =>
        val a1 = math.max(a, end)
        if (b > a1) covered += b - a1
        end = math.max(end, b)
      }
      (s.endMs - s.startMs) - covered
    }.sum

    val docsIn = c("llm.docs_in")
    Seq(
      "transforms.jobs" -> modules("transforms.jobs"),
      "transforms.task_ms" -> modules("transforms.task_ms"),
      "operators.jobs" -> modules("operators.jobs"),
      "operators.task_ms" -> modules("operators.task_ms"),
      "schema.versions_added" -> (c("schema.versions_added") / rounds, "count"),
      "sink.jobs" -> modules("sink.jobs"),
      "sink.task_ms" -> modules("sink.task_ms"),
      "sink.write_job_ms" -> (fs.get("sparkWriteJob").map(_._2).getOrElse(0L) / 1e6 / nb, "ms"),
      "sink.footer_stats_ms" -> (fs.get("footerStatsPass").map(_._2).getOrElse(0L) / 1e6 / nb, "ms"),
      "sink.files_per_commit" -> (c("sink.data_files") / commits, "count"),
      "sink.delete_files_per_commit" -> (c("sink.delete_files") / commits, "count"),
      "sink.bytes_per_file" -> (c("sink.data_bytes") / math.max(1.0, c("sink.data_files")), "B"),
      "table.jobs" -> modules("table.jobs"),
      "table.task_ms" -> modules("table.task_ms"),
      "table.load_ms" -> (spanMean("table.load", probes), "ms"),
      "table.plan_ms" -> (spanMean("table.plan", probes), "ms"),
      "table.files_planned" -> (c("table.files_planned") / probes, "count"),
      "table.delete_files_planned" -> (c("table.delete_files_planned") / probes, "count"),
      "table.compactions" -> (c("table.compactions") / rounds, "count"),
      "fs.ops_per_commit" -> (fsPrims.values.map(_._1).sum / commits, "count"),
      "fs.op_ms_per_commit" -> (fsPrims.values.map(_._2).sum / 1e6 / commits, "ms")
    ) ++ FsOps.map(op => s"fs.$op.count" -> (fs.get(op).map(_._1).getOrElse(0L) / commits, "count")) ++
    Seq(
      "streaming.trigger_ms" -> (progressMean("triggerExecution"), "ms"),
      "streaming.add_batch_ms" -> (progressMean("addBatch"), "ms"),
      "streaming.wal_commit_ms" -> (progressMean("walCommit"), "ms"),
      "streaming.planning_ms" -> (progressMean("queryPlanning"), "ms"),
      "llm.jobs" -> modules("llm.jobs"),
      "llm.task_ms" -> modules("llm.task_ms"),
      "llm.dedup_ms" -> (if (docsIn == 0) 0.0
        else progressMean("addBatch") - spanMean("sink.callback", nb), "ms"),
      "llm.docs_dropped" -> (c("llm.docs_dropped") / nb, "count"),
      "llm.drop_ratio" -> (if (docsIn == 0) 0.0 else c("llm.docs_dropped") / docsIn, "ratio"),
      "llm.index_partitions" -> (c("llm.index_partitions") / rounds, "count"),
      "batch.jobs" -> (stepJobs.size / nb, "count"),
      "batch.task_ms" -> (stepStages.map(_.runMs).sum / nb, "ms"),
      "batch.task_cpu_ms" -> (stepStages.map(_.cpuNs).sum / 1e6 / nb, "ms"),
      "batch.gc_ms" -> (stepStages.map(_.gcMs).sum / nb, "ms"),
      "batch.shuffle_bytes" -> (stepStages.map(_.shuffleBytes).sum / nb, "B"),
      "batch.driver_gap_ms" -> (gapMs / nb, "ms"))
  }

  /** Spans, steps, jobs, stream progress, counters and both metric sets,
    * as one JSON document. */
  def write(f: File, workload: String, seed: Long, t: Tracer,
      layers: Seq[(String, (Double, String))], e2e: Seq[(String, (Double, String))]): Unit = {
    f.getParentFile.mkdirs()
    val q = Stats.jsonString _
    def metrics(ms: Seq[(String, (Double, String))]) = ms.map { case (k, (v, u)) =>
      s"${q(k)}: {\"value\": ${if (v.isNaN) "null" else v.toString}, \"unit\": ${q(u)}}" }.mkString("{", ", ", "}")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(s"""{"workload": ${q(workload)}, "seed": $seed,""")
      w.println(s""" "end_to_end": ${metrics(e2e)},""")
      w.println(s""" "per_layer": ${metrics(layers)},""")
      w.println(s""" "counters": ${t.counters.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")},""")
      w.println(""" "spans": [""")
      w.println(t.spans.sortBy(_.id).map(s =>
        f"""  {"id": ${s.id}, "name": ${q(s.name)}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "parent": ${s.parent}, "batch": ${s.batch}}"""
      ).mkString(",\n"))
      w.println(" ],")
      w.println(""" "steps": [""")
      w.println(t.steps.map(s =>
        f"""  {"batch": ${s.batch}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "fs": """ +
          s.fs.map { case (k, (cnt, ns)) => s"${q(k)}: [$cnt, $ns]" }.mkString("{", ", ", "}") + "}"
      ).mkString(",\n"))
      w.println(" ],")
      w.println(""" "jobs": [""")
      w.println(t.jobs.values.map(j =>
        s"""  {"id": ${j.id}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "module": ${q(j.module.getOrElse(""))}}"""
      ).mkString(",\n"))
      w.println(" ],")
      w.println(""" "progress": [""")
      w.println(t.progress.map(p =>
        s"""  {"run": ${q(p.runId)}, "batch": ${p.batchId}, "duration_ms": """ +
          p.durations.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}") + "}"
      ).mkString(",\n"))
      w.println(" ]")
      w.println("}")
    } finally w.close()
  }
}
