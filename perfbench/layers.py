"""The traced run: the production plans' public functions called step by
step, each call in a span, giving one number per layer.

Spark actions run whole plans, so each step re-runs the plan prefix before
it. A layer's time is therefore the difference between its step and the
step holding its input, e.g. ``partitioning.shuffle_s`` = noop write of the
salted repartition − noop write of the scan. Each noop step runs twice and
keeps the faster run. Steps named ``bench.*`` are the benchmark's own
measurements (counts, staging) and belong to no layer.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.dedup import exact_dedup
from ocr_pipeline_spark.operators.extraction import extract_pages
from ocr_pipeline_spark.operators.lineage import (
    committed_buckets,
    pending,
    with_bucket,
    write_extracted_with_manifest,
)
from ocr_pipeline_spark.operators.metrics import StageMetrics
from ocr_pipeline_spark.operators.partitioning import (
    find_hot_domains,
    salted_repartition,
)
from ocr_pipeline_spark.operators.pii import scrub_pii
from ocr_pipeline_spark.operators.textstats import annotate_quality, repetition_stats

from . import kernelprof
from .trace import Tracer, max_over_median, tag_jobs

NOOP_RUNS = 2


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _best_noop(tracer: Tracer, name: str, df: DataFrame) -> float:
    durations = []
    for _ in range(NOOP_RUNS):
        with tracer.span(name) as s:
            _noop(df)
        durations.append(s.duration)
    return min(durations)


def _identity_map(df: DataFrame, batches) -> DataFrame:
    """mapInPandas that returns its input: the Arrow boundary alone."""

    def fn(it):
        for pdf in it:
            batches.add(1)
            yield pdf

    return df.select("url", "html").mapInPandas(fn, schema="url string, html binary")


def _files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if not p.name.startswith(".")]


def fused(wl, spark, tracer: Tracer) -> tuple[float, float, list[str]]:
    """The job call once untraced and once inside the span
    ``<job>.fused`` with its Spark jobs tagged; returns both walls and the
    output-check problems."""
    span_name = f"{wl.job}.fused"
    wl.before_rep("plain")
    t = time.perf_counter()
    wl.rep(spark, "plain")
    plain = time.perf_counter() - t
    problems = wl.check("plain")
    wl.after_rep("plain")
    wl.before_rep("fused")
    with tracer.span(span_name) as s, tag_jobs(spark, span_name):
        wl.rep(spark, "fused")
    problems += wl.check("fused")
    wl.after_rep("fused")
    return plain, s.duration, problems


def trace_extract(wl, spark, tracer: Tracer) -> tuple[dict, list[str]]:
    from .workloads import N_BUCKETS

    sc = spark.sparkContext
    wl.before_rep("steps")
    out, man = wl.paths("steps")
    stage = wl.work / "staged_extracted"
    pages = spark.read.parquet(str(wl.pages_path))
    with tracer.span("extract_job.steps"):
        with tracer.span("lineage.resume") as resume:
            committed = committed_buckets(spark, str(man))
            todo = pending(with_bucket(pages, N_BUCKETS), committed)
            run_buckets = [r["bucket"] for r in todo.select("bucket").distinct().collect()]
        with tracer.span("partitioning.hot_domains") as hot_span:
            hot = find_hot_domains(todo)
        balanced = salted_repartition(todo, sc.defaultParallelism, hot)
        scan = _best_noop(tracer, "sources.scan", todo.select("url", "html"))
        shuffle = _best_noop(tracer, "partitioning.shuffle", balanced)
        batches = sc.accumulator(0)
        identity = _best_noop(tracer, "extraction.identity_map", _identity_map(balanced, batches))
        runs = []
        for _ in range(NOOP_RUNS):
            sm = StageMetrics(spark, stages=("extract",))
            with tracer.span("extraction.map") as s:
                _noop(extract_pages(balanced, metrics=sm))
            runs.append((s.duration, sm.report()["extract"]["kernel_cpu_secs"]))
        map_wall, kernel_cpu = min(runs)
        with tracer.span("bench.stage_extracted"):
            with_bucket(extract_pages(balanced), N_BUCKETS).write.parquet(str(stage))
        with tracer.span("lineage.write") as write:
            write_extracted_with_manifest(
                spark.read.parquet(str(stage)), str(out), str(man), tracer.run_id,
                run_buckets=run_buckets,
            )
    problems = wl.check("steps")
    with tracer.span("bench.counts") as counts:
        n_committed = committed.count()
        n_pending = todo.count()
        sizes = dict(
            balanced.select(F.spark_partition_id().alias("p")).groupBy("p").count().collect()
        )
        rows = [sizes.get(p, 0) for p in range(sc.defaultParallelism)]
        counts.attrs["partition_rows"] = rows
    manifest = spark.read.parquet(str(man)).count()
    out_files = _files(out)
    plain, fused_wall, fused_problems = fused(wl, spark, tracer)
    problems += fused_problems

    job_urls, job_payloads = wl.job_docs()
    with tracer.span("kernels.profile"):
        kern, hashes = kernelprof.profile(job_urls, job_payloads)
    if any(wl.expected[u] != h for u, h in hashes.items()):
        problems.append("phase profile hashes differ from extract_document")
    with tracer.span("kernels.sweep"):
        kern.update(kernelprof.sweep(wl.seed))

    m = {**kern, "trace_overhead_s": fused_wall - plain}
    m.update(
        {
            "sources.scan_s": scan,
            "sources.input_mb": wl.input_mb,
            "sources.input_files": len(pages.inputFiles()),
            "partitioning.hot_domains_s": hot_span.duration,
            "partitioning.n_hot": len(hot),
            "partitioning.shuffle_s": shuffle - scan,
            "partitioning.rows_skew": max_over_median(rows),
            "extraction.map_s": map_wall - shuffle,
            "extraction.identity_map_s": identity - shuffle,
            "extraction.kernel_cpu_s": kernel_cpu,
            "extraction.kernel_slowdown": (
                kernel_cpu / kern["kernels.total_s"] if kern["kernels.total_s"] else 0.0
            ),
            "extraction.batches": batches.value / NOOP_RUNS,
            "lineage.resume_s": resume.duration,
            "lineage.committed_buckets": n_committed,
            "lineage.pending_rows": n_pending,
            "lineage.write_s": write.duration,
            "lineage.output_files": len(out_files),
            "lineage.output_mb": sum(p.stat().st_size for p in out_files) / 1e6,
            "lineage.manifest_rows": manifest,
        }
    )
    m["extract_job.fused_s"] = fused_wall
    return m, problems


def trace_curate(wl, spark, tracer: Tracer) -> tuple[dict, list[str]]:
    from .workloads import CURATE_ARGS

    wl.before_rep("steps")
    out = wl.paths("steps")[0]
    docs = spark.read.parquet(str(wl.docs_path))
    with tracer.span("curate_job.steps"):
        with tracer.span("curate_job.count_in") as count_in:
            docs.count()
        scan = _best_noop(tracer, "sources.scan", docs)
        # the composition of plans.curate_job.curate for CURATE_ARGS
        gated = (
            annotate_quality(docs)
            .filter(F.col("is_quality"))
            .filter(F.col("lang_guess").isin(list(CURATE_ARGS["langs"])))
        )
        t_gated = _best_noop(tracer, "textstats.annotate", gated)
        rep_drops = (
            repetition_stats(gated)
            .filter(F.col("rep_ratio") > CURATE_ARGS["max_rep_ratio"])
            .select("doc_id")
        )
        after_rep = gated.join(rep_drops, "doc_id", "left_anti")
        t_rep = _best_noop(tracer, "textstats.repetition", after_rep)
        canon = exact_dedup(after_rep).select(F.col("canonical_doc_id").alias("doc_id"))
        after_dedup = after_rep.join(canon, "doc_id", "left_semi")
        t_dedup = _best_noop(tracer, "dedup.exact", after_dedup)
        scrubbed = after_dedup.withColumn("text", scrub_pii(F.col("text")))
        t_scrub = _best_noop(tracer, "pii.scrub", scrubbed)
        with tracer.span("curate_job.write") as write:
            scrubbed.write.mode("overwrite").parquet(str(out))
        with tracer.span("curate_job.count_out") as count_out:
            spark.read.parquet(str(out)).count()
    problems = wl.check("steps")
    with tracer.span("bench.counts"):
        n_gated = gated.count()
        n_rep = after_rep.count()
        n_dedup = after_dedup.count()
    plain, fused_wall, fused_problems = fused(wl, spark, tracer)
    problems += fused_problems
    counts = count_in.duration + count_out.duration
    m = {"trace_overhead_s": fused_wall - plain}
    m.update(
        {
            "sources.scan_s": scan,
            "sources.input_mb": wl.input_mb,
            "sources.input_files": len(docs.inputFiles()),
            "textstats.annotate_s": t_gated - scan,
            "textstats.gated_rows": n_gated,
            "textstats.repetition_s": t_rep - t_gated,
            "dedup.exact_s": t_dedup - t_rep,
            "dedup.dropped_rows": n_rep - n_dedup,
            "pii.scrub_s": t_scrub - t_dedup,
            "curate_job.write_s": write.duration - t_scrub,
            "curate_job.count_actions_s": counts,
            "curate_job.fused_s": fused_wall,
        }
    )
    return m, problems
