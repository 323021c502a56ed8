"""Tests of the benchmark's own pieces that need no Spark session.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import checks, report  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("section", ["end_to_end", "per_layer"])
def test_benchmark_metrics_have_the_reported_units(section):
    for m in BENCH[section]:
        assert report.UNITS[m["name"]] == m["unit"]


@pytest.mark.parametrize("section", ["end_to_end", "per_layer"])
def test_result_line_stays_well_under_2000_chars(section):
    names = [m["name"] for m in BENCH[section]]
    # the longest numbers six significant digits can print
    worst = {n: -1.23457e-05 for n in names}
    line = report.result_line(False, 10**6, 10**6, worst, names)
    assert "\n" not in line
    assert len(line) < 1600, len(line)
    assert list(json.loads(line)) == ["correct", "attempted", "failed", "metrics"]


def test_layers_a_workload_does_not_run_read_zero():
    line = json.loads(report.result_line(True, 1, 0, {}, ["pii.scrub_s"]))
    assert line["metrics"]["pii.scrub_s"] == {"value": 0, "unit": "s"}


def _write(path: Path, df: pd.DataFrame, partition: str | None = None):
    table = pa.Table.from_pandas(df, preserve_index=False)
    if partition:
        pq.write_to_dataset(table, str(path), partition_cols=[partition])
    else:
        path.mkdir(parents=True)
        pq.write_table(table, path / "part-0.parquet")
    (path / "_SUCCESS").touch()


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _extract_output(tmp_path: Path, rows: list[tuple[str, str, str]]):
    """Output and manifest holding ``rows`` of (url, text, text_sha256)."""
    out, man = tmp_path / "out", tmp_path / "manifest"
    df = pd.DataFrame(
        {
            "url": [u for u, _, _ in rows],
            "text": [t for _, t, _ in rows],
            "text_sha256": [h for _, _, h in rows],
            "n_blocks": [1] * len(rows),
            "kind": ["html"] * len(rows),
            "charset": ["utf-8"] * len(rows),
            "error": [None] * len(rows),
            "bucket": [i % 2 for i in range(len(rows))],
        }
    )
    _write(out, df, partition="bucket")
    counts = df.groupby("bucket").size()
    _write(man, pd.DataFrame({"bucket": counts.index, "row_count": counts.values}))
    return out, man


ROWS = [(f"https://site00.example/page/{i}", f"text {i}", _sha(f"text {i}")) for i in range(6)]
EXPECTED = {u: h for u, _, h in ROWS}


def test_extract_check_passes_on_correct_output(tmp_path):
    out, man = _extract_output(tmp_path, ROWS)
    assert checks.check_extract(out, man, EXPECTED) == []


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: [(rows[0][0], "other", _sha("other"))] + rows[1:],  # wrong text
        lambda rows: [(rows[0][0], "", rows[0][2])] + rows[1:],  # wrong text, right hash
        lambda rows: rows + [rows[0]],  # a url twice
        lambda rows: rows[1:],  # a url missing
    ],
    ids=["wrong_text", "wrong_text_right_hash", "url_twice", "url_missing"],
)
def test_one_corrupted_output_row_fails_the_extract_check(tmp_path, corrupt):
    out, man = _extract_output(tmp_path, corrupt(list(ROWS)))
    assert checks.check_extract(out, man, EXPECTED)


def test_extract_check_compares_with_the_fresh_run(tmp_path):
    out, man = _extract_output(tmp_path, ROWS)
    fresh = checks.read_table(out)
    assert checks.check_extract(out, man, EXPECTED, fresh=fresh) == []
    fresh.loc[0, "n_blocks"] = 2
    assert checks.check_extract(out, man, EXPECTED, fresh=fresh)


def test_one_corrupted_kept_row_fails_the_curate_check(tmp_path):
    oracle = {(1, "a b"), (2, "c d")}
    _write(tmp_path / "ok", pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c d"]}))
    _write(tmp_path / "bad", pd.DataFrame({"doc_id": [1, 2], "text": ["a b", "c <EMAIL>"]}))
    assert checks.check_curate(tmp_path / "ok", oracle) == []
    assert checks.check_curate(tmp_path / "bad", oracle)


def test_spans_record_parents_and_self_time():
    tracer = Tracer("run")
    with tracer.span("job") as job:
        with tracer.span("layer.a"):
            pass
        with tracer.span("layer.b"):
            pass
    a, b = tracer.spans[1:]
    assert (a.parent, b.parent, job.parent) == (job.id, job.id, None)
    assert {s.run_id for s in tracer.spans} == {"run"}
    assert tracer.self_time(job) == pytest.approx(job.duration - a.duration - b.duration)


def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    w = BENCH["workloads"][0]["name"]
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
