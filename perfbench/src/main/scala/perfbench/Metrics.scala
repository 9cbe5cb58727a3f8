package perfbench

/** Every metric a run can report, with its unit. A traced run reports
  * all layer metrics; a layer a workload never enters reads 0. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "unit_ms_p50" -> "ms", "rows_per_s" -> "rows/s")

  val layers: Seq[(String, String)] = Seq(
    "sessions.start_s" -> "s", "tables.warm_s" -> "s",
    "dedup_history.build_s" -> "s", "emb_history.build_s" -> "s",
    "operator.build_ms" -> "ms", "operator.build_jobs" -> "count",
    "par.concurrent_jobs_max" -> "count",
    "cachescope.cached_mb" -> "MB", "cachescope.live_pins" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms", "query.remainder_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.sched_delay_s" -> "s",
    "exec.core_busy_frac" -> "ratio", "exec.task_ms_p50" -> "ms",
    "exec.task_ms_max" -> "ms", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "tables.scan_mb" -> "MB", "tables.scan_rows" -> "rows",
    "tickgen.ms_per_batch" -> "ms", "candlepipeline.parse_ms_per_batch" -> "ms",
    "candlepipeline.agg_ms_per_batch" -> "ms",
    "candlepipeline.rows_kept_frac" -> "ratio",
    "trigger.latestOffset_ms" -> "ms", "trigger.getBatch_ms" -> "ms",
    "trigger.queryPlanning_ms" -> "ms", "trigger.addBatch_ms" -> "ms",
    "trigger.walCommit_ms" -> "ms", "trigger.commitOffsets_ms" -> "ms",
    "state.rows_total" -> "rows", "state.rows_updated" -> "rows",
    "state.mem_mb" -> "MB", "state.commit_ms" -> "ms",
    "state.rows_dropped_by_watermark" -> "rows", "candles.emitted" -> "rows",
    "dedup_history.probe_ms" -> "ms", "emb_history.probe_ms" -> "ms",
    "dedup_history.artifact_mb" -> "MB", "emb_history.artifact_mb" -> "MB",
    "sinks.bytes_written_per_row" -> "B/row", "sinks.files_per_batch" -> "count",
    "neardup.kept_frac" -> "ratio", "vec.kept_frac" -> "ratio",
    "neardup.rows_per_s" -> "rows/s", "vec.rows_per_s" -> "rows/s")
}
