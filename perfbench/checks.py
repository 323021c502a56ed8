"""Output checks. Each returns a list of problems; an empty list passes.

The checks read the committed parquet with pyarrow, never through Spark, so
a defect in the program's read path cannot hide one in its write path.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.dataset as ds

from ocr_pipeline_spark.kernels.extract import extract_document

EXTRACT_COLUMNS = ["url", "text_sha256", "n_blocks", "kind", "charset", "error"]


def expected_hashes(urls, payloads) -> dict[str, str]:
    """url → text_sha256 of the in-process kernel on the same payload."""
    return {u: extract_document(p).text_sha256 for u, p in zip(urls, payloads)}


def _dataset(path: Path) -> ds.Dataset:
    """A Spark parquet directory (hive partitions, ``_SUCCESS`` skipped)."""
    return ds.dataset(str(path), format="parquet", partitioning="hive")


def read_table(path: Path, columns: list[str] | None = None) -> pd.DataFrame:
    return _dataset(path).to_table(columns=columns).to_pandas()


def text_hash_mismatches(path: Path) -> int:
    """Rows whose ``text`` does not hash to their ``text_sha256``, read one
    batch at a time so the texts are never all in memory."""
    bad = 0
    for batch in _dataset(path).to_batches(columns=["text", "text_sha256"]):
        for text, digest in zip(*(c.to_pylist() for c in batch.columns)):
            if text is None or hashlib.sha256(text.encode("utf-8")).hexdigest() != digest:
                bad += 1
    return bad


def check_extract(
    out_path: Path,
    manifest_path: Path,
    expected: dict[str, str],
    fresh: pd.DataFrame | None = None,
) -> list[str]:
    """Every input url appears exactly once with the in-process kernel's
    ``text_sha256`` and a ``text`` that hashes to it; Σ manifest
    ``row_count`` equals the input rows; with ``fresh`` (a checked fresh
    run's output), the rows equal it url by url (the texts through their
    verified hashes)."""
    out = read_table(out_path, EXTRACT_COLUMNS)
    problems = []
    dup = int(out["url"].duplicated().sum())
    if dup:
        problems.append(f"{dup} duplicate urls")
    got = dict(zip(out["url"], out["text_sha256"]))
    missing = len(expected.keys() - got.keys())
    extra = len(got.keys() - expected.keys())
    if missing or extra:
        problems.append(f"{missing} urls missing, {extra} unexpected")
    wrong = sum(1 for u, h in expected.items() if u in got and got[u] != h)
    if wrong:
        problems.append(f"{wrong} text_sha256 differ from the kernel")
    bad_text = text_hash_mismatches(out_path)
    if bad_text:
        problems.append(f"{bad_text} texts do not hash to their text_sha256")
    manifest_rows = int(read_table(manifest_path, ["row_count"])["row_count"].sum())
    if manifest_rows != len(expected):
        problems.append(f"manifest rows {manifest_rows} != input rows {len(expected)}")
    if fresh is not None:
        a = out.sort_values("url").reset_index(drop=True)
        b = fresh[EXTRACT_COLUMNS].sort_values("url").reset_index(drop=True)
        if len(a) != len(b) or not a.astype(str).equals(b.astype(str)):
            problems.append("output differs from the fresh run")
    return problems


def curate_oracle(docs_path: Path, threads: int) -> set[tuple[int, str]]:
    """The kept (doc_id, text) set of the ``cur_full_keep`` DuckDB oracle."""
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()["cur_full_keep"]
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={threads}")
        con.execute("SET enable_progress_bar=false")
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}/*.parquet')"
        )
        return {(int(d), t) for d, t in con.execute(sql).fetchall()}
    finally:
        con.close()


def check_curate(out_path: Path, oracle: set[tuple[int, str]]) -> list[str]:
    out = read_table(out_path, ["doc_id", "text"])
    got = list(zip(out["doc_id"].astype(int), out["text"]))
    problems = []
    if len(got) != len(set(got)):
        problems.append("duplicate kept rows")
    got_set = set(got)
    if got_set != oracle:
        problems.append(
            f"kept set differs from the oracle: {len(got_set - oracle)} extra, "
            f"{len(oracle - got_set)} missing"
        )
    return problems
