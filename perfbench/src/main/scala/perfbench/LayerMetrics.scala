package perfbench

import scala.collection.mutable

import perfbench.Main.OpRec

/** Per-layer metrics of a traced run, each averaged over its traced ops. */
object LayerMetrics {

  def apply(rec: Recorder, tracer: Tracer, ops: Seq[OpRec], untracedSeconds: Seq[Double],
            extras: Map[String, Double]): Seq[(String, Double, String)] = rec.synchronized {
    val n = math.max(ops.size, 1).toDouble
    def within(o: OpRec, ms: Long) = ms >= o.startMs && ms <= o.endMs
    val jobs = ops.flatMap(o => Main.jobsIn(rec, o))
    val stages = ops.flatMap(o => rec.stages.filter(s => within(o, s.submitMs)))
    val sqls = ops.flatMap(o => rec.sqls.values.filter(q => within(o, q.startMs)))
    val opIds = ops.map(_.k).toSet
    val spans = tracer.spans.filter(s => opIds.contains(s.op))
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(name: String, total: Double, unit: String): Unit = out += ((name, total / n, unit))

    for (m <- Layers.Modules) {
      val js = jobs.filter(_.module == m)
      put(s"$m.jobs_per_op", js.size, "count")
      put(s"$m.job_s_per_op", js.map(j => (j.endMs - j.startMs) / 1000.0).sum, "s")
      put(s"$m.planning_ms_per_op", sqls.filter(_.module == m)
        .map(q => q.analysisMs + q.optimizationMs + q.planningMs).sum, "ms")
      put(s"$m.shuffle_bytes_per_op", stages.filter(_.module == m)
        .map(_.shuffleWriteBytes.toDouble).sum, "bytes")
    }
    put(s"${Layers.Unattributed}.jobs_per_op", jobs.count(_.module == Layers.Unattributed), "count")

    def spanSelf(name: String) =
      spans.filter(_.name == name).map(s => Spans.selfNs(s, spans) / 1e9).sum
    def spanTotal(name: String) =
      spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
    put("materialize.incremental_log.run_s", spanSelf("materialize.incremental_log.run"), "s")
    put("warehouse.consumer_read_s", spanSelf("warehouse.consumer_read"), "s")
    put("warehouse.partitions_rewritten_per_op", sqls.map(_.partsWritten.toDouble).sum, "count")
    val batchBytes = ops.map(_.batchBytes).sum
    out += (("warehouse.write_amplification",
      if (batchBytes == 0) 0.0 else sqls.map(_.bytesWritten).sum.toDouble / batchBytes, "ratio"))
    out += (("runlog.log_files", extras.getOrElse("runlog.log_files", 0.0), "count"))

    // streaming: micro-batch progress inside each round
    val rounds = ops.map(o => (o, rec.progress.filter(p => within(o, p.startMs)).toSeq))
      .filter(_._2.nonEmpty)
    def dur(ps: Seq[Rec.Progress], k: String) = ps.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    put("streaming.start_to_first_batch_ms",
      rounds.map { case (o, ps) => (ps.map(_.startMs).min - o.startMs).toDouble }.sum, "ms")
    put("streaming.batches_per_round", rounds.map(_._2.size.toDouble).sum, "count")
    put("streaming.add_batch_ms", rounds.map(r => dur(r._2, "addBatch")).sum, "ms")
    put("streaming.wal_commit_ms", rounds.map(r => dur(r._2, "walCommit")).sum, "ms")
    put("streaming.query_planning_ms", rounds.map(r => dur(r._2, "queryPlanning")).sum, "ms")
    put("streaming.other_ms", rounds.map { case (o, ps) =>
      o.seconds * 1000 - dur(ps, "addBatch") - dur(ps, "walCommit") - dur(ps, "queryPlanning")
    }.sum, "ms")

    put("llm.store_ingest_s", spanTotal("llm.store_ingest"), "s")
    put("llm.forget_s", spanTotal("llm.forget"), "s")
    put("llm.audit_s", spanTotal("llm.audit"), "s")

    val jobCover = ops.map { o =>
      val iv = Main.jobsIn(rec, o).map(j =>
        (math.max(j.startMs, o.startMs), math.min(if (j.endMs < 0) o.endMs else j.endMs, o.endMs)))
      Spans.unionLength(iv) / 1000.0
    }
    put("engine.driver_s_per_op", ops.map(_.seconds).sum - jobCover.sum, "s")
    put("engine.job_s_per_op", jobCover.sum, "s")
    put("engine.stages_per_op", stages.size, "count")
    put("engine.tasks_per_op", stages.map(_.tasks.toDouble).sum, "count")
    put("engine.analysis_ms_per_op", sqls.map(_.analysisMs).sum, "ms")
    put("engine.optimization_ms_per_op", sqls.map(_.optimizationMs).sum, "ms")
    put("engine.physical_planning_ms_per_op", sqls.map(_.planningMs).sum, "ms")
    put("engine.codegen_ms_per_op", ops.map(_.codegenMs).sum, "ms")
    put("engine.shuffle_write_bytes_per_op", stages.map(_.shuffleWriteBytes.toDouble).sum, "bytes")
    put("engine.spill_bytes_per_op", stages.map(_.spillBytes.toDouble).sum, "bytes")

    put("fs.read_ops_per_op", ops.map(_.fs.readOps.toDouble).sum, "count")
    put("fs.write_ops_per_op", ops.map(_.fs.writeOps.toDouble).sum, "count")
    put("fs.bytes_written_per_op", ops.map(_.fs.bytesWritten.toDouble).sum, "bytes")
    put("fs.files_written_per_op", sqls.map(_.filesWritten.toDouble).sum, "count")

    val tracedP50 = if (ops.isEmpty) 0.0 else Stats.median(ops.map(_.seconds))
    out += (("trace.op_p50_s", tracedP50, "s"))
    out += (("trace.overhead_s",
      if (ops.isEmpty || untracedSeconds.isEmpty) 0.0
      else tracedP50 - Stats.median(untracedSeconds), "s"))
    out.toSeq
  }
}

/** Writes a traced run's spans and jobs as one JSON file. */
object TraceFile {
  def write(dir: String, workload: String, seed: Long, tracer: Tracer, rec: Recorder,
            ops: Seq[OpRec]): Unit = rec.synchronized {
    val spans = tracer.spans
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val traced = ops.filter(_.traced)
    val spansJ = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
      "name" -> Json.str(s.name), "start_ms" -> Json.num((s.startNs - t0) / 1e6),
      "duration_ms" -> Json.num((s.endNs - s.startNs) / 1e6),
      "self_ms" -> Json.num(Spans.selfNs(s, spans) / 1e6))))
    val jobsJ = traced.flatMap(o => Main.jobsIn(rec, o).map(j => Json.obj(Seq(
      "op" -> o.k.toString, "job" -> j.id.toString, "module" -> Json.str(j.module),
      "group" -> Json.str(j.group), "site" -> Json.str(j.site), "duration_ms" -> (j.endMs - j.startMs).toString))))
    val opsJ = ops.map(o => Json.obj(Seq("op" -> o.k.toString, "traced" -> o.traced.toString,
      "seconds" -> Json.num(o.seconds), "rows" -> o.rows.toString)))
    val f = new java.io.File(dir, s"trace-$workload-$seed.json")
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(Json.obj(Seq("workload" -> Json.str(workload), "seed" -> seed.toString,
      "ops" -> Json.arr(opsJ), "spans" -> Json.arr(spansJ), "jobs" -> Json.arr(jobsJ))))
    finally w.close()
  }
}
