"""Per-layer kernel probe, run in worker processes for the traced run.

Times the public kernel functions on one input file with the same dispatch
``kernels.document.process_document`` uses: sniff, then
``pdf_layout.parse_with_backend`` (PDF) or ``html_extract.extract_main_text``
(HTML) or the text layer, then ``fields.find_po_number`` and
``fields.fallback_regex_extraction`` on the resulting pages.
"""

from __future__ import annotations

import time
from typing import Dict


def kernel_probe(task: list) -> Dict[str, float]:
    import pyarrow.parquet as pq

    from unified_ocr_pipeline_spark.kernels import document as D
    from unified_ocr_pipeline_spark.kernels import fields, html_extract, pdf_layout, sniff

    path, max_bytes = task
    rows = pq.read_table(path, columns=["url", "html", "text"]).to_pylist()

    # whole-document kernel CPU: what the extraction stage's Python side
    # would spend on these rows if the Arrow boundary were free
    cpu0 = time.process_time()
    for r in rows:
        D.process_document(r["url"], r["html"], r["text"], max_bytes=max_bytes)
    doc_cpu = time.process_time() - cpu0

    out = {"docs": len(rows), "doc_cpu_s": doc_cpu}
    for k in ("pdf", "html", "fields", "po"):
        out[f"{k}_s"] = 0.0
        out[f"{k}_n"] = 0
    clock = time.perf_counter
    for r in rows:
        payload = r["html"]
        if payload is not None and len(payload) > max_bytes:
            continue  # quarantined unparsed, like the engine's size gate
        ctype = sniff.sniff_content_type(payload)
        pages = None
        if ctype == sniff.PDF:
            t = clock()
            pages, _, _ = pdf_layout.parse_with_backend(payload)
            out["pdf_s"] += clock() - t
            out["pdf_n"] += 1
        elif ctype == sniff.HTML:
            t = clock()
            main, _ = html_extract.extract_main_text(payload.decode("utf-8", errors="replace"))
            out["html_s"] += clock() - t
            out["html_n"] += 1
            pages = [main] if main else None
        elif r["text"]:
            pages = [r["text"]]
        if pages:
            t = clock()
            po = fields.find_po_number(pages)
            out["po_s"] += clock() - t
            out["po_n"] += 1
            t = clock()
            fields.fallback_regex_extraction(pages, po or D.UNKNOWN_PO)
            out["fields_s"] += clock() - t
            out["fields_n"] += 1
    return out
