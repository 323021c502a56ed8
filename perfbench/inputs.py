"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(n, seed)``: the same seed gives the
same bytes, and the program under test only ever sees the parquet files
written here.

- small pages: ``sources.synth_pages`` as it is (~2.2 KB pages, 90% template
  HTML, 10% mini-PDF, fixed edge rows, 45% of rows on 3 hot domains);
- large pages: ~30-150 KB HTML pages built from the same generator's
  paragraph, sentence and nav pieces, with the same domain skew;
- sized pages: the large-page composition cut to one target size, for the
  in-process kernel page-size sweep;
- documents: a sample of the ``documents`` table kept in
  ``data/documents.parquet`` (5,000 rows of doc_id, text, lang, source,
  n_chars; 10-100 words each), the rows chosen by the seed.
"""

from __future__ import annotations

import importlib
import random
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# the package re-exports the function under the module's own name
synth = importlib.import_module("ocr_pipeline_spark.sources.synth_pages")

PAGES_ARROW_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

DOCS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

# files per table: with Spark's 4 MiB open cost this gives one scan split
# per task slot at local[4]
N_FILES = 4


def small_pages(n: int, seed: int) -> pd.DataFrame:
    return synth.synth_pages(n, seed=seed)


def _paragraph_pool(rng: random.Random, size: int = 2000) -> list[str]:
    return [
        f"<p>{synth._paragraph(rng, rng.choice([0.0, 0.1, 0.3]))}</p>"
        for _ in range(size)
    ]


def _page(rng: random.Random, domain: str, pool: list[str], target: int) -> bytes:
    """One template page (header/nav, article, footer/nav) whose article
    holds paragraphs drawn from ``pool`` until the page reaches ``target``
    bytes."""
    title = synth._sentence(rng, rng.randint(3, 6))[:-1]
    head = (
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        f"<style>body{{margin:0}}</style></head>"
        f"<body><header><h1>{domain}</h1>{synth._nav(rng)}</header>"
        f"<main><article><h2>{title}</h2>"
    )
    tail = (
        f"</article></main><footer><p>© 2024 {domain} &amp; co. "
        f"{synth._sentence(rng, 8)}</p>{synth._nav(rng)}</footer></body></html>"
    )
    paras, size = [], len(head) + len(tail)
    while size < target:
        p = rng.choice(pool)
        paras.append(p)
        size += len(p)
    return (head + "".join(paras) + tail).encode("utf-8")


def _domain(rng: random.Random) -> str:
    # same skew as synth_pages: ~45% of rows on the 3 hot domains
    return rng.choice(synth._HOT) if rng.random() < 0.45 else rng.choice(synth._DOMAINS)


def large_pages(n: int, seed: int) -> pd.DataFrame:
    """n HTML pages of 30-150 KB (mean ~60 KB)."""
    rng = random.Random(seed)
    pool = _paragraph_pool(rng)
    rows = []
    for i in range(n):
        domain = _domain(rng)
        target = min(150_000, 30_000 + int(rng.expovariate(1 / 30_000)))
        rows.append(
            (
                f"https://{domain}/page/{i}",
                synth._EPOCH,
                _page(rng, domain, pool, target),
                None,
                rng.choice(synth._LANGS),
            )
        )
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def sized_pages(target: int, n: int, seed: int) -> list[bytes]:
    """n HTML pages of ~``target`` bytes each (kernel page-size sweep)."""
    rng = random.Random(seed)
    pool = _paragraph_pool(rng, size=200)
    return [_page(rng, _domain(rng), pool, target) for _ in range(n)]


DOCUMENTS_TABLE = Path(__file__).resolve().parent / "data" / "documents.parquet"


def documents(n: int, seed: int) -> pd.DataFrame:
    """n rows of the documents table, chosen by ``seed``, in table order."""
    table = pq.read_table(DOCUMENTS_TABLE)
    rows = sorted(random.Random(seed).sample(range(table.num_rows), n))
    return table.take(rows).to_pandas()


def write_parquet(df: pd.DataFrame, schema: pa.Schema, path: Path) -> None:
    """Write ``df`` as N_FILES parquet files under directory ``path``."""
    path.mkdir(parents=True)
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    n = len(df)
    for i in range(N_FILES):
        lo, hi = i * n // N_FILES, (i + 1) * n // N_FILES
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{i:02d}.parquet")
