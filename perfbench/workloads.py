"""The workloads: seeded inputs, the timed job call, and its output check.

A workload's life in one run: ``generate`` writes its input table,
``warm_up`` makes the first (cold) job call, ``prepare_check`` computes the
reference outputs, ``warm_up`` makes ``steady_calls`` more untimed calls,
then each repetition is ``before_rep`` (untimed), ``rep`` (timed),
``check`` and ``after_rep`` (untimed).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.lineage import with_bucket
from ocr_pipeline_spark.plans.curate_job import run_curation
from ocr_pipeline_spark.plans.extract_job import run_extraction

from . import checks, inputs, layers

CORES = 4
N_BUCKETS = 64
RESUME_COMMITTED = 48  # buckets committed before a resume repetition
CURATE_ARGS = {"langs": ("en",), "dedup": "exact", "max_rep_ratio": 0.08, "scrub": True}


class Workload:
    name = ""
    job = ""  # the plan module the timed call comes from
    # job calls after the first (cold) one before timing starts: Spark's
    # planning and scheduling code keeps getting faster for many calls, and
    # the timed window should sit where that curve has flattened
    steady_calls = 0

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        self.n_docs = 0
        self.input_mb = 0.0

    def paths(self, k) -> tuple[Path, Path]:
        return self.work / f"out_{k}", self.work / f"manifest_{k}"

    def warm_up(self, spark: SparkSession, calls: int) -> None:
        for k in range(calls):
            self.before_rep(f"warm{k}")
            self.rep(spark, f"warm{k}")
            self.after_rep(f"warm{k}")

    def before_rep(self, k) -> None:
        pass

    def after_rep(self, k) -> None:
        for p in self.paths(k):
            shutil.rmtree(p, ignore_errors=True)


class ExtractFresh(Workload):
    """``run_extraction`` on the whole table into fresh output and manifest."""

    job = "extract_job"
    n = 0

    def make_pages(self):
        raise NotImplementedError

    @property
    def pages_path(self) -> Path:
        return self.work / "pages"

    def generate(self, spark: SparkSession) -> None:
        df = self.make_pages()
        inputs.write_parquet(df, inputs.PAGES_ARROW_SCHEMA, self.pages_path)
        self.urls = list(df["url"])
        self.payloads = list(df["html"])
        self.n_docs = len(df)
        self.input_mb = sum(map(len, self.payloads)) / 1e6

    def prepare_check(self) -> None:
        self.expected = checks.expected_hashes(self.urls, self.payloads)

    def rep(self, spark: SparkSession, k) -> None:
        out, man = self.paths(k)
        run_extraction(
            spark, spark.read.parquet(str(self.pages_path)), str(out), str(man),
            n_buckets=N_BUCKETS,
        )

    def check(self, k) -> list[str]:
        return checks.check_extract(*self.paths(k), self.expected)

    def job_docs(self):
        """(urls, payloads) the job extracts."""
        return self.urls, self.payloads

    def trace(self, spark, tracer):
        return layers.trace_extract(self, spark, tracer)


class ExtractSmallPages(ExtractFresh):
    name = "extract_small_pages"
    n = 4000

    def make_pages(self):
        return inputs.small_pages(self.n, self.seed)


class ExtractLargePages(ExtractFresh):
    name = "extract_large_pages"
    steady_calls = 1  # the first timed calls still ran ~10% slower without it
    n = 450

    def make_pages(self):
        return inputs.large_pages(self.n, self.seed)


class ExtractResume(ExtractSmallPages):
    """Small pages with 48 of 64 buckets committed: the resume path reads a
    real manifest, anti-joins it and writes beside committed partitions."""

    name = "extract_resume"

    def generate(self, spark: SparkSession) -> None:
        """Also builds the committed state: a fresh run of the whole table
        (the reference output) and a run over the first 48 buckets."""
        super().generate(spark)
        pages = spark.read.parquet(str(self.pages_path))
        self.rep(spark, "full")
        self.expected = checks.expected_hashes(self.urls, self.payloads)
        problems = checks.check_extract(*self.paths("full"), self.expected)
        if problems:
            raise RuntimeError(f"reference run failed its check: {problems}")
        self.fresh = checks.read_table(
            self.paths("full")[0], [*checks.EXTRACT_COLUMNS, "bucket"]
        )
        self.after_rep("full")
        base_out, base_man = self.paths("base")
        run_extraction(
            spark,
            with_bucket(pages, N_BUCKETS)
            .filter(F.col("bucket") < RESUME_COMMITTED)
            .drop("bucket"),
            str(base_out), str(base_man), n_buckets=N_BUCKETS,
        )

    def prepare_check(self) -> None:
        pass  # generate() computed the hashes to check the reference run

    def job_docs(self):
        done = set(self.fresh.loc[self.fresh["bucket"] < RESUME_COMMITTED, "url"])
        keep = [i for i, u in enumerate(self.urls) if u not in done]
        return [self.urls[i] for i in keep], [self.payloads[i] for i in keep]

    def before_rep(self, k) -> None:
        for src, dst in zip(self.paths("base"), self.paths(k)):
            shutil.copytree(src, dst)

    def check(self, k) -> list[str]:
        return checks.check_extract(*self.paths(k), self.expected, fresh=self.fresh)


class CurateFull(Workload):
    name = "curate_full"
    job = "curate_job"
    steady_calls = 6
    n = 2000  # of the table's 5,000, so that the per-run oracle and job calls fit the run budget

    @property
    def docs_path(self) -> Path:
        return self.work / "documents"

    def generate(self, spark: SparkSession) -> None:
        df = inputs.documents(self.n, self.seed)
        inputs.write_parquet(df, inputs.DOCS_ARROW_SCHEMA, self.docs_path)
        self.n_docs = len(df)
        self.input_mb = sum(len(t.encode()) for t in df["text"]) / 1e6

    def prepare_check(self) -> None:
        self.oracle = checks.curate_oracle(self.docs_path, threads=CORES)

    def rep(self, spark: SparkSession, k) -> None:
        run_curation(
            spark, spark.read.parquet(str(self.docs_path)), str(self.paths(k)[0]),
            **CURATE_ARGS,
        )

    def check(self, k) -> list[str]:
        return checks.check_curate(self.paths(k)[0], self.oracle)

    def trace(self, spark, tracer):
        return layers.trace_curate(self, spark, tracer)


WORKLOADS = {
    w.name: w for w in (ExtractSmallPages, ExtractLargePages, ExtractResume, CurateFull)
}
