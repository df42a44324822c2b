"""The benchmark's metrics: names, units, direction, and for each
per-layer metric the end-to-end metric and workload it should move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` keeps the
two in step.
"""

from __future__ import annotations

# (name, unit, better). CPU seconds are those of the driver JVM plus the
# Python process. They are the gated figures because wall-clock time on
# a shared virtual machine moves with the CPU time the hypervisor steals
# (up to 19% of a 4-vCPU VM during a pass): a run's wall time then varies
# by half, its CPU time by a tenth. Wall-clock figures are printed with
# every run and reported per layer.
END_TO_END = [
    ("setup_s", "s", "lower"),        # CPU s of session start, inputs, fixtures, warm-up
    ("cpu_s", "s", "lower"),          # CPU s of one pass of the fixed sequence (median)
    ("op_cpu_p50_s", "s", "lower"),   # median CPU s of one operation
    ("op_cpu_tail_s", "s", "lower"),  # highest percentile with >= 10 samples beyond
    ("peak_rss_mb", "MB", "lower"),   # VmHWM of the driver JVM + Python process
]

ETL, LLM, LAKE = "customer_etl", "llm_curation", "lakehouse_ingest"
ALL = f"{ETL},{LLM},{LAKE}"

# (name, unit, better, what it should move: "metric@workload, ...")
PER_LAYER = [
    ("setup_wall_s", "s", "lower", f"setup_s@{ALL}"),
    ("wall_s", "s", "lower", f"cpu_s@{ALL}"),  # wall time of one pass (median)
    ("rows_per_s", "1/s", "higher", f"cpu_s@{ALL}"),  # input rows of a pass / wall_s
    ("op_p50_s", "s", "lower", f"op_cpu_p50_s@{ALL}"),
    ("op_tail_s", "s", "lower", f"op_cpu_tail_s@{ALL}"),
    ("host.steal_share", "ratio", "lower", "wall-clock noise: CPU the hypervisor took"),
    ("session.start_s", "s", "lower", f"setup_s@{ALL}"),
    ("pipelines.build_s", "s", "lower", f"op_cpu_p50_s,cpu_s@{ETL}"),
    ("pipelines.plan_s", "s", "lower", f"op_cpu_p50_s,cpu_s@{ETL}"),
    ("pipelines.exec_s", "s", "lower", f"op_cpu_p50_s,cpu_s@{ETL}"),
    ("sources.parquet.write_s", "s", "lower", f"cpu_s@{ETL}"),
    ("sources.parquet.bytes_written", "bytes", "lower", f"cpu_s@{ETL}"),
    ("operators.dedup.exact_s", "s", "lower", f"op_cpu_p50_s,op_cpu_tail_s@{LLM}"),
    ("operators.dedup.minhash_s", "s", "lower", f"op_cpu_p50_s,op_cpu_tail_s@{LLM}"),
    ("operators.dedup.simhash_s", "s", "lower", f"op_cpu_p50_s,op_cpu_tail_s@{LLM}"),
    ("operators.dedup.candidate_yield", "ratio", "higher", f"recall,op_cpu_tail_s@{LLM}"),
    ("operators.dedup.minhash_recall", "ratio", "higher", f"recall@{LLM}"),
    ("operators.dedup.simhash_recall", "ratio", "higher", f"recall@{LLM}"),
    ("operators.similarity.cosine_s", "s", "lower", f"op_cpu_p50_s,op_cpu_tail_s@{LLM}"),
    ("operators.similarity.lsh_s", "s", "lower", f"op_cpu_p50_s,op_cpu_tail_s@{LLM}"),
    ("operators.similarity.ivf_search_s", "s", "lower", f"op_cpu_p50_s,op_cpu_tail_s@{LLM}"),
    # vectors in the probed IVF cells per query (the LSH candidate set
    # is not exposed by a public function)
    ("operators.similarity.candidates_per_query", "count", "lower", f"op_cpu_p50_s,recall@{LLM}"),
    ("operators.similarity.lsh_recall", "ratio", "higher", f"recall@{LLM}"),
    ("operators.similarity.ivf_recall", "ratio", "higher", f"recall@{LLM}"),
    ("recall", "ratio", "higher", f"output quality@{LLM}"),
    ("sources.snapshot.merge_s", "s", "lower", f"merge_p50_s,cpu_s@{LAKE}"),
    ("sources.snapshot.delete_s", "s", "lower", f"delete_p50_s,cpu_s@{LAKE}"),
    ("sources.snapshot.read_s", "s", "lower", f"scan_p50_s,cpu_s@{LAKE}"),
    ("sources.snapshot.files_written", "count", "lower", f"write_amp,scan_p50_s@{LAKE}"),
    ("sources.snapshot.bytes_written", "bytes", "lower", f"write_amp@{LAKE}"),
    ("sources.snapshot.files_scanned", "count", "lower", f"scan_p50_s@{LAKE}"),
    ("sources.snapshot.files_total", "count", "lower", f"scan_p50_s@{LAKE}"),
    ("sources.metadata_sql.answer_s", "s", "lower", f"meta_p50_s@{LAKE}"),
    ("sources.metadata_sql.answered_ratio", "ratio", "higher", f"meta_p50_s@{LAKE}"),
    ("streaming.batch_s", "s", "lower", f"stream_p50_s@{LAKE}"),
    ("streaming.batches", "count", "lower", f"stream_p50_s@{LAKE}"),
    ("streaming.rows", "count", "higher", f"stream_p50_s@{LAKE}"),
    ("merge_p50_s", "s", "lower", f"cpu_s@{LAKE}"),
    ("delete_p50_s", "s", "lower", f"cpu_s@{LAKE}"),
    ("stream_p50_s", "s", "lower", f"cpu_s@{LAKE}"),
    ("scan_p50_s", "s", "lower", f"cpu_s@{LAKE}"),
    ("meta_p50_s", "s", "lower", f"cpu_s@{LAKE}"),
    ("write_amp", "ratio", "lower", f"cpu_s@{LAKE}"),
    ("error_rate", "ratio", "lower", f"failed/attempted@{ALL}"),
    ("trace.overhead_s", "s", "lower", "tracing cost: traced minus untraced wall_s"),
]

#: Layers whose spans also report Spark statusTracker counts.
LAYERS = (
    "pipelines",
    "sources.parquet",
    "operators.dedup",
    "operators.similarity",
    "sources.snapshot",
    "sources.metadata_sql",
    "streaming",
)
SPARK_COUNTS = ("spark_jobs", "spark_stages", "spark_tasks", "spark_failed_tasks")
for _layer in LAYERS:
    for _c in SPARK_COUNTS:
        PER_LAYER.append(
            (f"{_layer}.{_c}", "count", "lower",
             f"the {_layer} time metrics' workloads")
        )

#: Per-layer time metrics read from spans: metric -> span name.
SPAN_TIMES = {
    "pipelines.build_s": "pipelines.build",
    "pipelines.plan_s": "pipelines.plan",
    "pipelines.exec_s": "pipelines.exec",
    "sources.parquet.write_s": "sources.parquet.write",
    "operators.dedup.exact_s": "operators.dedup.exact",
    "operators.dedup.minhash_s": "operators.dedup.minhash",
    "operators.dedup.simhash_s": "operators.dedup.simhash",
    "operators.similarity.cosine_s": "operators.similarity.cosine",
    "operators.similarity.lsh_s": "operators.similarity.lsh",
    "operators.similarity.ivf_search_s": "operators.similarity.ivf_search",
    "sources.snapshot.merge_s": "sources.snapshot.merge",
    "sources.snapshot.delete_s": "sources.snapshot.delete",
    "sources.snapshot.read_s": "sources.snapshot.read",
    "sources.metadata_sql.answer_s": "sources.metadata_sql.answer",
    "streaming.batch_s": "streaming.batch",
}
