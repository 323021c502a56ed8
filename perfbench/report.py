"""Metric names and units, and the one-line result printed last on stdout."""

from __future__ import annotations

import json

END_TO_END = {
    "wall_s": "s",
    "docs_per_s": "1/s",
    "input_mb_per_s": "MB/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

_KERNEL_PHASES = ("decode", "segment", "pdf", "classify", "materialize", "sha256", "total")

PER_LAYER = {
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "sources.input_files": "count",
    "partitioning.hot_domains_s": "s",
    "partitioning.n_hot": "count",
    "partitioning.shuffle_s": "s",
    "partitioning.rows_skew": "ratio",
    "extraction.map_s": "s",
    "extraction.identity_map_s": "s",
    "extraction.kernel_cpu_s": "s",
    "extraction.kernel_slowdown": "ratio",
    "extraction.batches": "count",
    **{f"kernels.{p}_s": "s" for p in _KERNEL_PHASES},
    "kernels.error_docs": "count",
    **{f"kernels.mb_per_s.{s}": "MB/s" for s in ("p2k", "p8k", "p32k", "p128k", "p512k")},
    "lineage.resume_s": "s",
    "lineage.committed_buckets": "count",
    "lineage.pending_rows": "count",
    "lineage.write_s": "s",
    "lineage.output_files": "count",
    "lineage.output_mb": "MB",
    "lineage.manifest_rows": "count",
    "spark.job_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "textstats.annotate_s": "s",
    "textstats.gated_rows": "count",
    "textstats.repetition_s": "s",
    "dedup.exact_s": "s",
    "dedup.dropped_rows": "count",
    "pii.scrub_s": "s",
    "curate_job.write_s": "s",
    "curate_job.count_actions_s": "s",
    "extract_job.fused_s": "s",
    "curate_job.fused_s": "s",
    "extract_job.unattributed_frac": "ratio",
    "curate_job.unattributed_frac": "ratio",
    "trace_overhead_s": "s",
}

UNITS = {**END_TO_END, **PER_LAYER}


def _num(v: float | int) -> float | int:
    """Six significant digits: finer than the clocks measure, and short."""
    return v if isinstance(v, int) else float(f"{v:.6g}")


def result_line(
    correct: bool, attempted: int, failed: int, values: dict, names: list[str]
) -> str:
    """The result object for ``names``; a layer a workload does not run
    reads 0."""
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                n: {"value": _num(values.get(n, 0)), "unit": UNITS[n]} for n in names
            },
        },
        separators=(",", ":"),
    )
