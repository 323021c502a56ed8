"""Lineage manifests + checkpoint resume (SURVEY.md §5 item 4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_pipeline_spark.operators.lineage import (
    committed_buckets,
    pending,
    with_bucket,
)
from ocr_pipeline_spark.plans.extract_job import run_extraction


def test_bucket_assignment_is_stable(spark, pages_df):
    a = with_bucket(pages_df, 16).select("url", "bucket").collect()
    b = with_bucket(pages_df.repartition(5), 16).select("url", "bucket").collect()
    assert dict((r["url"], r["bucket"]) for r in a) == dict(
        (r["url"], r["bucket"]) for r in b
    )


def test_full_run_then_resume_is_noop(spark, pages_df, tmp_path):
    out = str(tmp_path / "extracted")
    man = str(tmp_path / "manifests")
    run_extraction(spark, pages_df, out, man, run_id="r1", n_buckets=8)

    got = spark.read.parquet(out)
    assert got.count() == pages_df.count()
    assert got.select("url").distinct().count() == pages_df.count()
    manifest = spark.read.parquet(man)
    assert manifest.count() == 8
    assert manifest.agg(F.sum("row_count")).first()[0] == pages_df.count()

    # resume with everything committed → zero pending rows
    todo = pending(with_bucket(pages_df, 8), committed_buckets(spark, man))
    assert todo.count() == 0


def test_first_run_plan_has_no_anti_join(spark, pages_df, tmp_path):
    """With no manifest yet the resume anti-join drops out of the plan, so a
    first run does not shuffle the page payloads by bucket to join nothing."""
    committed = committed_buckets(spark, str(tmp_path / "no_manifest"))
    todo = pending(with_bucket(pages_df, 8), committed)
    plan = todo._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert todo.count() == pages_df.count()


def test_partial_failure_resume_completes_without_dupes(spark, pages_df, tmp_path):
    """Kill-after-partial-commit: run over half the buckets, then resume
    over the full input; final output has every url exactly once and the
    two runs' manifests cover disjoint buckets."""
    out = str(tmp_path / "extracted")
    man = str(tmp_path / "manifests")
    n_buckets = 8

    # simulate a crash: only buckets 0-3 were processed and committed
    half = with_bucket(pages_df, n_buckets).filter(F.col("bucket") < 4).drop("bucket")
    run_extraction(spark, half, out, man, run_id="r1", n_buckets=n_buckets)
    first = spark.read.parquet(out).count()
    assert 0 < first < pages_df.count()

    # resume with the FULL input — anti-join must skip committed buckets
    run_extraction(spark, pages_df, out, man, run_id="r2", n_buckets=n_buckets)
    got = spark.read.parquet(out)
    assert got.count() == pages_df.count()
    assert got.select("url").distinct().count() == pages_df.count()

    manifest = spark.read.parquet(man).collect()
    r1_buckets = {r["bucket"] for r in manifest if r["run_id"] == "r1"}
    r2_buckets = {r["bucket"] for r in manifest if r["run_id"] == "r2"}
    assert r1_buckets == {0, 1, 2, 3}
    assert r1_buckets.isdisjoint(r2_buckets)
    assert r1_buckets | r2_buckets == set(range(n_buckets))


def _skewed(pages_df):
    """pages_df with ~90% of its urls moved onto one domain (paths, and so
    urls, stay unique)."""
    page_no = F.substring_index(F.col("url"), "/", -1).cast("int")
    return pages_df.withColumn(
        "url",
        F.when(
            page_no % 10 != 0,
            F.regexp_replace("url", r"//[^/]+/", "//site00.example/"),
        ).otherwise(F.col("url")),
    )


def test_bytes_hash_is_order_independent(spark, pages_df, tmp_path):
    from ocr_pipeline_spark.operators.partitioning import domain_of

    skewed = _skewed(pages_df)
    n = skewed.count()
    top = skewed.groupBy(domain_of(F.col("url"))).count().agg(F.max("count"))
    assert top.first()[0] >= 0.9 * n
    for name, corpus in (("synth", pages_df), ("skewed", skewed)):
        out1, man1 = str(tmp_path / name / "o1"), str(tmp_path / name / "m1")
        out2, man2 = str(tmp_path / name / "o2"), str(tmp_path / name / "m2")
        run_extraction(spark, corpus, out1, man1, run_id="a", n_buckets=4,
                       num_partitions=2)
        run_extraction(spark, corpus.repartition(13), out2, man2, run_id="b",
                       n_buckets=4, num_partitions=7)
        h1 = {r["bucket"]: r["bytes_hash"]
              for r in spark.read.parquet(man1).collect()}
        h2 = {r["bucket"]: r["bytes_hash"]
              for r in spark.read.parquet(man2).collect()}
        assert h1 == h2, name
        urls = sorted(r["url"] for r in corpus.select("url").collect())
        for out in (out1, out2):
            got = spark.read.parquet(out).select("url").collect()
            assert sorted(r["url"] for r in got) == urls, (name, out)


def test_extraction_reads_input_twice(spark, pages_df, tmp_path):
    """One read of the input for the run-bucket pre-pass and one for the
    job itself: the plan keeps no other pass over the pages."""
    rows_read = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            rows_read.add(len(pdf))
            yield pdf

    counted = pages_df.mapInPandas(count_rows, schema=pages_df.schema)
    run_extraction(spark, counted, str(tmp_path / "out"), str(tmp_path / "man"),
                   run_id="r", n_buckets=8)
    assert rows_read.value == 2 * pages_df.count()


def test_compaction_one_file_per_bucket(spark, pages_df, tmp_path):
    import glob

    out = str(tmp_path / "extracted")
    run_extraction(spark, pages_df, out, str(tmp_path / "man"),
                   run_id="c1", n_buckets=4, num_partitions=8)
    for b in range(4):
        files = glob.glob(f"{out}/bucket={b}/*.parquet")
        assert len(files) == 1, (b, files)


def test_diff_extractions_statuses(spark):
    from ocr_pipeline_spark.operators.lineage import diff_extractions

    old = spark.createDataFrame(
        [("u1", "h1"), ("u2", "h2"), ("u3", "h3")],
        "url string, text_sha256 string",
    )
    new = spark.createDataFrame(
        [("u1", "h1"), ("u2", "CHANGED"), ("u4", "h4")],
        "url string, text_sha256 string",
    )
    got = {
        r["url"]: (r["status"], r["old_sha"], r["new_sha"])
        for r in diff_extractions(old, new).collect()
    }
    assert got == {
        "u1": ("same", "h1", "h1"),
        "u2": ("diff", "h2", "CHANGED"),
        "u3": ("only_old", "h3", ""),
        "u4": ("only_new", "", "h4"),
    }


def test_diff_extractions_null_hash_is_presence_not_absence(spark):
    from ocr_pipeline_spark.operators.lineage import diff_extractions

    old = spark.createDataFrame(
        [("u", None)], "url string, text_sha256 string"
    )
    new = spark.createDataFrame(
        [("u", "abc")], "url string, text_sha256 string"
    )
    r = diff_extractions(old, new).collect()[0]
    # the url existed in BOTH runs — a NULL hash is a failed
    # extraction, not an absent document
    assert (r["status"], r["old_sha"], r["new_sha"]) == ("diff", "", "abc")
    # two NULL hashes are the same (failed) result
    r2 = diff_extractions(old, old).collect()[0]
    assert r2["status"] == "same"
