"""In-process, one-core timing of the extraction kernel by phase.

``profile`` follows ``kernels.extract.extract_document`` step by step with
a clock around each phase call. The text hashes it returns are compared
with the Spark job's output by the workload check, so a drift between this
copy of the control flow and the kernel shows up as a failed check.
"""

from __future__ import annotations

import time

from ocr_pipeline_spark.kernels.classify import classify_blocks
from ocr_pipeline_spark.kernels.extract import DEFAULT_MAX_PAYLOAD_BYTES, extract_document
from ocr_pipeline_spark.kernels.htmlkit import decode_payload, segment_html
from ocr_pipeline_spark.kernels.materialize import materialize_text, sha256_text
from ocr_pipeline_spark.kernels.pdfkit import parse_pdf_blocks

from . import inputs

PHASES = ("decode", "segment", "pdf", "classify", "materialize", "sha256")
SWEEP_SIZES = {"p2k": 2_000, "p8k": 8_000, "p32k": 32_000, "p128k": 128_000, "p512k": 512_000}
SWEEP_BYTES = 2_000_000  # payload bytes per sweep point


def profile(urls, payloads) -> tuple[dict[str, float], dict[str, str]]:
    """Per-phase seconds, ``total_s`` and ``error_docs`` over the payloads,
    and url → text_sha256."""
    secs = dict.fromkeys(PHASES, 0.0)
    errors = 0
    hashes = {}
    clock = time.perf_counter
    for url, payload in zip(urls, payloads):
        if not payload:
            errors += 1
            hashes[url] = sha256_text("")
            continue
        payload = payload[:DEFAULT_MAX_PAYLOAD_BYTES]
        try:
            t = clock()
            if payload[:5] == b"%PDF-":
                blocks = parse_pdf_blocks(payload)
                secs["pdf"] += clock() - t
            else:
                doc, _ = decode_payload(payload)
                t1 = clock()
                secs["decode"] += t1 - t
                blocks = segment_html(doc)
                secs["segment"] += clock() - t1
            if not blocks and payload[:5] == b"%PDF-":
                errors += 1
                hashes[url] = sha256_text("")
                continue
            t = clock()
            flags = classify_blocks(blocks)
            t1 = clock()
            text = materialize_text(blocks, flags)
            t2 = clock()
            hashes[url] = sha256_text(text)
            secs["classify"] += t1 - t
            secs["materialize"] += t2 - t1
            secs["sha256"] += clock() - t2
        except Exception:  # noqa: BLE001 — the kernel's error-column contract
            errors += 1
            hashes[url] = sha256_text("")
    out = {f"kernels.{p}_s": s for p, s in secs.items()}
    out["kernels.total_s"] = sum(secs.values())
    out["kernels.error_docs"] = errors
    return out, hashes


def sweep(seed: int) -> dict[str, float]:
    """Kernel MB/s (1e6 bytes) on pages of 2 KB to 512 KB."""
    out = {}
    for name, size in SWEEP_SIZES.items():
        pages = inputs.sized_pages(size, max(2, SWEEP_BYTES // size), seed)
        t = time.perf_counter()
        for p in pages:
            extract_document(p)
        secs = time.perf_counter() - t
        out[f"kernels.mb_per_s.{name}"] = sum(map(len, pages)) / 1e6 / secs
    return out
