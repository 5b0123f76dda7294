"""Names and units of every metric the benchmark prints (the same lists
as BENCHMARK.json; a self-test keeps them equal). METRICS.md describes
each one.

The wall-clock pass and op times, ``op_p90_s``, ``failed_frac``,
``peak_rss_mb`` and the relational_ingest sink and stream figures are
printed in the report lines of an untraced run, not in its result JSON,
because an end-to-end metric must hold its bound from run to run on a
shared host:
- wall time follows the CPU time the hypervisor steals for other guests,
  and spreads by up to two thirds between seeds; the process tree's CPU
  time per pass spreads by a third of that;
- a run holds too few op samples for a p90 with ten samples beyond it;
- the ingest figures are zero on the other workload;
- peak RSS moves by a fifth from run to run with the JVM's heap sizing.
"""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
}

# operator modules the workloads' registered queries live in
OPERATOR_MODULES = (
    "aggregates", "analytics", "etl", "joins", "llm_text", "llm_vector",
    "relational", "scans", "setops", "windows",
)

PER_LAYER = {
    "session.start_s": "s",
    "registry.import_s": "s",
    "warmup_s": "s",
    "peak_rss_mb": "MB",
    "tables.load_s": "s",
    **{
        f"operators.{m}.{k}": u
        for m in OPERATOR_MODULES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("eager_jobs", "count"))
    },
    "driver.collect_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.sched_delay_s": "s",
    "spark.slot_busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_records": "count",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.input_rows": "count",
    "spark.python_eval_s": "s",
    "spark.task_skew": "ratio",
    "spark.rows_examined_per_row_out": "ratio",
    "cache.materialized": "count",
    "cache.reads_per_materialization": "ratio",
    "cache.leaked": "count",
    "sinks.write_s": "s",
    "sinks.write_mb_s": "MB/s",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.files_written": "count",
    "jdbc.write_s": "s",
    "jdbc.read_s": "s",
    "etl.xml_parse_s": "s",
    "stream.feed_files": "count",
    "stream.batches": "count",
    "stream.batch_p50_ms": "ms",
    "stream.batch_p90_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.state_files": "count",
    "stream.state_mb": "MB",
    "compaction.s": "s",
    "compaction.bytes_rewritten": "bytes",
    "trace.pass_s": "s",
    "trace.overhead": "ratio",
    "failed_frac": "ratio",
}

# printed in the report lines only
REPORT_ONLY = {
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "op_p90_percentile": "%",
    "op_p90_beyond": "count",
    "n_ops": "count",
    "n_passes": "count",
}

UNITS = {**END_TO_END, **PER_LAYER, **REPORT_ONLY}
