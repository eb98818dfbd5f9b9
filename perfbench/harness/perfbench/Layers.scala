package perfbench

import graft.Tables

/** Per-layer figures for one traced pass, from the pass's spans, the
  * listener counts attributed to them, and the operations' details.
  * Also probes the table loader directly: one `Tables.load` per table.
  */
object Layers {
  import Main.{Ctx, Op}

  def ofPass(ctx: Ctx, p: Int, ops: Seq[Op]): Map[String, Any] = {
    val loadMs = Tables.names.map { n =>
      Main.timed(ctx.tracer.span("tables.load", 0, p)(Tables.load(ctx.spark, ctx.data, n)))._2 * 1e3
    }
    val (spans, counts) = ctx.tracer.snapshot()
    val mine = spans.filter(_.pass == p)
    def dur(name: String) = mine.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
    def sum(name: String => Boolean): Tracer.Counts = {
      val c = Tracer.Counts()
      mine.filter(s => name(s.name)).foreach(s => counts.get(s.id).foreach(c += _))
      c
    }
    // Work inside the operations only: not the checks, nor the probe above.
    val all = sum(n => !Set("pass", "check", "tables.load")(n))
    // Query builders run eager jobs too, so slots are measured against the
    // whole operation wall time, not only the final collect.
    val opWall = dur("op")
    val ok = ops.filter(_.ok)
    def detail(op: String, k: String): Seq[Double] = ok.filter(_.name == op)
      .flatMap(_.detail.get(k)).map(_.asInstanceOf[Number].doubleValue)
    def total(k: String) = ok.flatMap(_.detail.get(k)).map(_.asInstanceOf[Number].doubleValue).sum
    def latency(op: String) = ok.filter(_.name == op).map(_.latencyS).sum
    val ingestWall = latency("sources.ingest")
    val writers = detail("sources.ingest", "writers").sum
    val batchMs = ok.filter(_.name == "streaming.stream").flatMap(_.detail.get("batch_ms"))
      .flatMap(_.asInstanceOf[Seq[Long]]).map(_.toDouble)
    Map(
      "tables.load_ms_per_call" -> loadMs.sum / loadMs.size,
      "tables.load_jobs" -> sum(_ == "tables.load").jobs,
      "queries.build_s" -> dur("queries.build"),
      "queries.build_jobs" -> sum(_ == "queries.build").jobs,
      "catalyst.analysis_s" -> total("analysis_ms") / 1e3,
      "catalyst.optimization_s" -> total("optimization_ms") / 1e3,
      "catalyst.planning_s" -> total("planning_ms") / 1e3,
      "plan.exchanges" -> total("exchanges"),
      "exec.jobs" -> all.jobs,
      "exec.stages" -> all.stages,
      "exec.tasks" -> all.tasks,
      "exec.task_run_s" -> all.runMs / 1e3,
      "exec.task_cpu_s" -> all.cpuNs / 1e9,
      "exec.task_gc_s" -> all.gcMs / 1e3,
      "exec.fetch_wait_s" -> all.fetchWaitMs / 1e3,
      "exec.shuffle_write_bytes" -> all.shuffleWriteBytes,
      "exec.shuffle_read_bytes" -> all.shuffleReadBytes,
      "exec.spill_bytes" -> all.spillBytes,
      "exec.slot_busy_ratio" ->
        (if (opWall > 0) all.runMs / 1e3 / (opWall * ctx.cores) else 0.0),
      "sources.generate_write_s" -> latency("sources.generate_write"),
      "sources.parquet_files" -> detail("sources.generate_write", "files").sum,
      "sources.bytes_written" -> detail("sources.generate_write", "bytes").sum,
      "sources.scan_s" -> latency("sources.scan"),
      "sources.scan_partitions" -> detail("sources.scan", "partitions").sum,
      "sources.ingest_s" -> ingestWall,
      "sources.ingest_batches" -> detail("sources.ingest", "batches").sum,
      "sources.ingest_batch_ms_p50" -> median(detail("sources.ingest", "batch_ms_p50")),
      "sources.ingest_sink_share" ->
        (if (ingestWall > 0 && writers > 0)
          detail("sources.ingest", "write_ms").sum / 1e3 / (ingestWall * writers) else 0.0),
      "sources.export_fetch_s" -> detail("sources.export", "fetch_s").sum,
      "sources.export_write_s" -> detail("sources.export", "write_s").sum,
      "sources.export_degraded" -> detail("sources.export", "degraded").sum,
      "streaming.batches" -> detail("streaming.stream", "batches").sum,
      "streaming.batch_ms_p50" -> median(batchMs),
      "streaming.add_batch_ms" -> detail("streaming.stream", "add_batch_ms").sum,
      "streaming.get_batch_ms" -> detail("streaming.stream", "get_batch_ms").sum)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  /** Every recorded span with its own listener counts, for the trace file. */
  def spansJson(ctx: Ctx): Seq[Map[String, Any]] = {
    val (spans, counts) = ctx.tracer.snapshot()
    spans.map { s =>
      val c = counts.getOrElse(s.id, Tracer.Counts())
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass,
        "start_ns" -> s.start, "end_ns" -> s.end, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_run_ms" -> c.runMs)
    }
  }
}
