package graft.perfbench

/** The per-layer metric catalogue of the gate workloads listed in
  * BENCHMARK.json (`point_serve`, `stream_events`). Every traced run
  * reports every name, 0 for a layer the workload does not exercise; the
  * hand-run `index_refresh` appends its compaction metrics after these.
  */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "client.call_ms.keyword" -> "ms", "client.call_ms.vector" -> "ms",
    "client.call_ms.hybrid" -> "ms", "client.eager_jobs_per_req" -> "count",
    "client.route_p50_ms.exact" -> "ms", "client.route_p50_ms.refreshed" -> "ms",
    "client.first_req_ms.exact" -> "ms", "client.first_req_ms.refreshed" -> "ms",
    "catalyst.plan_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.task_ms_per_op" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.tasks_per_op" -> "count",
    "exec.shuffle_bytes_per_op" -> "bytes", "exec.sched_delay_ms_p95" -> "ms",
    "exec.task_failures" -> "count",
    "serve.add_batch_ms" -> "ms", "serve.wal_commit_ms" -> "ms",
    "serve.commit_offsets_ms" -> "ms", "fusion.shuffle_records_per_query" -> "count",
    "fusion.rows_out_per_shuffle_record" -> "ratio",
    "build_base_ms" -> "ms", "kw_refresh_ms" -> "ms", "vec_refresh_ms" -> "ms",
    "refresh.jobs" -> "count", "refresh.bytes_written_per_delta_byte" -> "ratio",
    "read.view_rebuild_ms" -> "ms", "artifact.live_segments" -> "count",
    "artifact.bytes_per_live_doc" -> "bytes",
    "state.commit_ms.latest" -> "ms", "state.commit_ms.dedup" -> "ms",
    "state.commit_ms.sessionize" -> "ms", "state.update_ms.latest" -> "ms",
    "state.update_ms.dedup" -> "ms", "state.update_ms.sessionize" -> "ms",
    "state.instances" -> "count", "state.rows_total" -> "count",
    "state.rows_per_instance" -> "ratio", "state.memory_bytes" -> "bytes",
    "blocks.persistent_rdds_delta" -> "count", "blocks.storage_mb" -> "MB",
    "jvm.gc_ms" -> "ms", "tmp.dirs_left" -> "count", "trace.overhead_pct" -> "%")

  /** Spark-execution layer metrics over the spans whose key starts with
    * `prefix`: `execMs` are the execution-phase wall times, `nOps` the
    * number of traced operations.
    */
  def exec(ctx: Ctx, prefix: String, execMs: Seq[Double], nOps: Int): Unit = {
    val a = ctx.tracer.sum(prefix)
    val n = math.max(1, nOps).toDouble
    ctx.layers("exec.ms") = (Stats.median(execMs), "ms")
    ctx.layers("exec.task_ms_per_op") = (a.runMs / n, "ms")
    ctx.layers("exec.jobs_per_op") = (a.jobs / n, "count")
    ctx.layers("exec.tasks_per_op") = (a.tasks / n, "count")
    ctx.layers("exec.shuffle_bytes_per_op") = (a.shuffleBytes / n, "bytes")
    ctx.layers("exec.sched_delay_ms_p95") =
      (Stats.pct(a.schedDelayMs.map(_.toDouble).toSeq, 0.95), "ms")
    ctx.layers("exec.task_failures") = (a.failures.toDouble, "count")
  }

  /** Put the catalogue first, in order, 0 for every name the workload did
    * not set; the workload's own extra metrics follow.
    */
  def complete(ctx: Ctx): Unit = {
    val got = ctx.layers.clone()
    ctx.layers.clear()
    for ((n, u) <- All) ctx.layers(n) = got.getOrElse(n, (0.0, u))
    for ((n, v) <- got if !ctx.layers.contains(n)) ctx.layers(n) = v
  }
}
