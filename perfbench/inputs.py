"""Seeded benchmark inputs and their oracle goldens, cached per workload.

Inputs come from ``sources.fixtures.generate_pages_rows`` (the FIXTURES.md
class shares, ``content_scale=6``, the skewed heavy host). The oversize
class is generated against a 1 MiB cap, the same cap the benchmark passes to
``ExtractionPipeline(max_bytes=...)``: 1 MiB is Common Crawl's record
truncation limit, and at the engine's 8 MiB default the 2% oversize rows
would make scan I/O dominate the run.

Each input file is generated by its own call with its own derived seed, so
files are made in parallel. Urls get a per-file tag so no url spans two
files; duplicate-url rows stay inside their file. That makes the oracle of
the whole input the union of the per-file oracles, which are also computed
in parallel. Goldens keep, per url, what the benchmark checks: ``status``,
``po_number`` and the SHA-256 of ``extracted_text``.

The cache lives under ``perfbench/.cache``, keyed by workload, seed and a
digest of the engine's sources, so code changes never reuse stale goldens.
Generation time is outside every reported metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Dict, List, Tuple

from worker import parallel_map

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(HERE, ".cache")
CACHE_KEEP = 12  # most recently used input sets kept per workload

MAX_BYTES = 1 << 20  # 1 MiB: Common Crawl's record truncation limit
CONTENT_SCALE = 6

# batch_crawl: one corpus, split into files generated in parallel
BATCH_FILES = 6
BATCH_DOCS_PER_FILE = 500
# ingest_ticks: one untimed warm-up drop, then the fixed timed sequence;
# sizes are positional and the same for every seed
TICK_WARMUP_DOCS = 100
TICK_DROP_DOCS = (200, 300, 100)

Goldens = Dict[str, List[str]]  # url -> [status, po_number, sha256(text)]


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "unified_ocr_pipeline_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:12]


def make_file(task: List) -> Goldens:
    """Generate one input file and its goldens (runs in a worker process)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from unified_ocr_pipeline_spark.oracle.run import run_oracle
    from unified_ocr_pipeline_spark.sources.fixtures import (
        PAGES_ARROW_SCHEMA,
        generate_pages_rows,
    )

    path, n_docs, seed, tag = task
    rows = generate_pages_rows(
        n_docs, seed=seed, max_bytes=MAX_BYTES, content_scale=CONTENT_SCALE
    )
    for row in rows:
        head, tail = row["url"].rsplit("/", 1)
        row["url"] = f"{head}/{tag}-{tail}"
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_ARROW_SCHEMA), path)
    goldens = {
        url: [
            r.status,
            r.po_number,
            hashlib.sha256(r.extracted_text.encode("utf-8")).hexdigest(),
        ]
        for url, r in run_oracle(path, max_bytes=MAX_BYTES).items()
    }
    return goldens


def _plan(workload: str, seed: int) -> List[Tuple[str, int]]:
    """(file name, docs) for every input file of a workload."""
    if workload == "batch_crawl":
        return [(f"corpus/part-{i:03d}.parquet", BATCH_DOCS_PER_FILE) for i in range(BATCH_FILES)]
    if workload == "ingest_ticks":
        return [("warmup/drop-000.parquet", TICK_WARMUP_DOCS)] + [
            (f"drops/drop-{i:03d}.parquet", n) for i, n in enumerate(TICK_DROP_DOCS)
        ]
    raise ValueError(f"unknown workload {workload!r}")


def _evict(workload: str, keep: str) -> None:
    entries = [
        os.path.join(CACHE_DIR, e) for e in os.listdir(CACHE_DIR) if e.startswith(workload + "-")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_KEEP:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def prepare(workload: str, seed: int, workers: int) -> Tuple[str, Dict[str, Goldens]]:
    """Return (input dir, {relative file path: goldens}) for a workload and
    seed, generating and caching them on first use."""
    key = f"{workload}-s{seed}-{_source_digest()}"
    final = os.path.join(CACHE_DIR, key)
    goldens_path = os.path.join(final, "goldens.json")
    if not os.path.exists(goldens_path):
        tmp = os.path.join(CACHE_DIR, f".tmp-{key}-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        plan = _plan(workload, seed)
        tasks = []
        for i, (rel, n) in enumerate(plan):
            os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
            tasks.append([os.path.join(tmp, rel), n, seed * 1009 + i, f"f{i:03d}"])
        results = parallel_map("inputs:make_file", tasks, workers, tmp)
        goldens = {rel: g for (rel, _), g in zip(plan, results)}
        with open(os.path.join(tmp, "goldens.json"), "w") as f:
            json.dump(goldens, f)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    os.utime(final)
    _evict(workload, keep=final)
    with open(goldens_path) as f:
        return final, json.load(f)


def merge(goldens: Dict[str, Goldens], prefix: str) -> Goldens:
    """Union of the goldens of every file under ``prefix``. Urls are
    tagged per file, so a url in two files is a generator bug."""
    out: Goldens = {}
    for rel, g in sorted(goldens.items()):
        if not rel.startswith(prefix):
            continue
        clash = out.keys() & g.keys()
        if clash:
            raise RuntimeError(f"url in two input files: {sorted(clash)[:3]}")
        out.update(g)
    return out
