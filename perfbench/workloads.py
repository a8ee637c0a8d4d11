"""The two workloads, driven through the engine's public API.

Both follow one shape: untimed warm-up passes of every timed operation
(counted in ``setup_s``), the timed operations, then the oracle check of
the output outside every timed interval. Short operations are timed by wall
clock as the median of repetitions; CPU is read from the whole process tree
only over the long operations (fresh runs, ticks).

With tracing on, the timed pass runs once more with spans recorded, and
probes time each layer's public functions from here. Spans wrap calls the
benchmark makes; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import time
import traceback
from typing import Callable, Dict, List, Optional

from pyspark.sql import functions as F

from unified_ocr_pipeline_spark.plans.extraction import extract_stage, gate_oversize
from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline
from unified_ocr_pipeline_spark.plans.preflight import require_healthy
from unified_ocr_pipeline_spark.sources.tables import read_input
from unified_ocr_pipeline_spark.streaming.incremental import run_available_now

import inputs
from measure import Tracer, median, tree_cpu_seconds
from worker import parallel_map

clock = time.perf_counter

# timed repetitions per round; rounds repeat until --seconds have passed,
# so every metric's samples are spread over the whole timed interval
MIN_ROUNDS = 2  # batch_crawl: a median needs more than one fresh run
REPS_PER_ROUND = 2  # batch_crawl resume no-ops and reads after each fresh run
EMPTIES_PER_TICK = 4  # ingest_ticks ticks that find no new file, after each tick
TICK_READS = 3  # ingest_ticks reads after each replay of the drops
PREFLIGHT_REPS = 10
COMPLETED_REPS = 5
SCAN_REPS = 2  # per input unit of batch_crawl; one per drop on ingest_ticks


class TracedPipeline(ExtractionPipeline):
    """ExtractionPipeline whose ``run`` records a span and its result, so a
    tick splits into the pipeline run and the streaming wrapper around it."""

    def __init__(self, *args, tracer: Tracer, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.results: list = []

    def run(self, *args, **kwargs):
        with self.tracer.span("pipeline.run"):
            result = super().run(*args, **kwargs)
        self.results.append(result)
        return result


class Bench:
    """One benchmark run: the session, the operation counters and the
    metrics collected so far."""

    def __init__(self, spark, cores: int, seconds: float, work_dir: str,
                 input_dir: str, goldens: Dict[str, inputs.Goldens], trace: bool) -> None:
        self.spark = spark
        self.cores = cores
        self.seconds = seconds
        self.work_dir = work_dir
        self.input_dir = input_dir
        self.goldens = goldens
        self.trace = trace
        # spans are recorded only in the traced pass, after the untraced one
        self.tracer = Tracer(enabled=False)
        self.warmup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.e2e: Dict[str, float] = {}
        self.layer: Dict[str, float] = {}
        self.trace_extra: Dict[str, object] = {}

    def work(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def pipeline(self, out: str) -> TracedPipeline:
        return TracedPipeline(self.spark, out, max_bytes=inputs.MAX_BYTES, tracer=self.tracer)

    def op(self, fn: Callable, *args, check: Optional[Callable] = None,
           cpu: bool = False, **kwargs):
        """Run one operation; return (result, wall s, process-tree CPU s).
        An exception, or a result that fails ``check``, counts as failed."""
        self.attempted += 1
        c0 = tree_cpu_seconds() if cpu else 0.0
        t0 = clock()
        result = None
        try:
            result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a counted result
            traceback.print_exc()
            self.failed += 1
        wall = clock() - t0
        used = tree_cpu_seconds() - c0 if cpu else 0.0
        print(f"[perfbench] {getattr(fn, '__name__', 'op')} {wall:.3f} s", file=sys.stderr)
        if result is not None and check is not None and not check(result):
            print(f"unexpected result from {getattr(fn, '__name__', fn)}: {result}", file=sys.stderr)
            self.failed += 1
        return result, wall, used

    def check_output(self, pipe: ExtractionPipeline, goldens: Dict[str, list]) -> None:
        """Compare the extracted table with the oracle: exactly one row per
        url, byte-identical ``extracted_text`` (by SHA-256), equal
        ``status`` and ``po_number``. Each bad url counts as failed."""
        t0 = clock()
        rows = (
            pipe.read_extracted()
            .select("url", "status", "po_number", F.sha2("extracted_text", 256).alias("h"))
            .collect()
        )
        seen: Dict[str, list] = {}
        bad = set()
        for r in rows:
            if r.url in seen:
                bad.add(r.url)
            seen[r.url] = [r.status, r.po_number, r.h]
        bad.update(u for u, g in goldens.items() if seen.get(u) != g)
        bad.update(seen.keys() - goldens.keys())
        self.attempted += len(seen.keys() | goldens.keys())
        self.failed += len(bad)
        if bad:
            print(f"oracle mismatch on {len(bad)} urls, e.g. {sorted(bad)[:3]}", file=sys.stderr)
        print(f"[perfbench] oracle check {clock() - t0:.3f} s", file=sys.stderr)


def read_latest(pipe: ExtractionPipeline) -> None:
    """Drain the latest view with all columns, as a downstream reader does."""
    pipe.read_extracted_latest().write.format("noop").mode("overwrite").save()


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _files(b: Bench, pipe: ExtractionPipeline) -> None:
    """Output shape left by the traced pass: files, rows per file and
    quarantined rows (from the pipeline's own metrics table)."""
    files = _count_files(pipe.extracted_path)
    b.layer["pipeline.files_written"] = files
    b.layer["pipeline.rows_per_file"] = b.layer["pipeline.rows_written"] / max(1, files)
    row = b.spark.read.parquet(pipe.metrics_path).agg(F.sum("quarantined_rows")).first()
    b.layer["pipeline.quarantined_rows"] = row[0] or 0


# -- batch_crawl -------------------------------------------------------------

def batch_crawl(b: Bench) -> None:
    corpus = os.path.join(b.input_dir, "corpus")
    goldens = inputs.merge(b.goldens, "corpus/")
    pipe = b.pipeline(b.work("batch"))

    def fresh():
        shutil.rmtree(pipe.output_dir, ignore_errors=True)
        return b.op(pipe.run, corpus, resume=False, cpu=True,
                    check=lambda r: r.rows_written == len(goldens))

    def noop():
        return b.op(pipe.run, corpus, resume=True,
                    check=lambda r: r.buckets_processed == 0 and r.rows_written == 0)

    def round_(runs, noops, reads, reps):
        """A fresh run, then ``reps`` resume no-ops and reads of its output."""
        res, wall, cpu = fresh()
        runs.append((res.rows_written if res else 0, wall, cpu))
        noops += [noop() for _ in range(reps)]
        reads += [b.op(read_latest, pipe)[1] for _ in range(reps)]

    t0 = clock()
    round_([], [], [], 1)
    b.warmup_s = clock() - t0

    runs, noops, reads = [], [], []
    t0 = clock()
    while len(runs) < MIN_ROUNDS or clock() - t0 < b.seconds:
        round_(runs, noops, reads, REPS_PER_ROUND)
    b.check_output(pipe, goldens)

    b.e2e["docs_per_s"] = median([rows / wall for rows, wall, _ in runs])
    b.e2e["docs_per_cpu_s"] = median([rows / cpu for rows, _, cpu in runs])
    b.e2e["tick_p50_s"] = median([wall for _, wall, _ in runs])
    b.e2e["resume_noop_s"] = median([wall for _, wall, _ in noops])
    b.e2e["read_latest_s"] = median(reads)

    if not b.trace:
        return
    b.tracer.enabled = True

    # traced pass: one more fresh run with spans; its difference from the
    # untraced runs above is the tracing overhead
    with b.tracer.span("batch.fresh_run"):
        last, run_s, _ = fresh()
    b.layer["trace.overhead_frac"] = run_s / b.e2e["tick_p50_s"] - 1
    b.layer["pipeline.run_s"] = run_s
    b.layer["pipeline.rows_written"] = last.rows_written if last else 0
    b.layer["pipeline.buckets_processed"] = last.buckets_processed if last else 0
    _files(b, pipe)
    b.layer["pipeline.buckets_skipped"] = median(
        [r.buckets_skipped for r, _, _ in noops if r is not None] or [0]
    )
    _completed_buckets(b, pipe, epoch=0)
    _unit_probes(b, [corpus], {corpus: sorted(glob.glob(os.path.join(corpus, "*.parquet")))},
                 scan_reps=SCAN_REPS)
    b.layer["pipeline.post_extract_s"] = run_s - b.layer["extraction.stage_s"]

    # the whole corpus arriving as one cron tick: splits a tick into the
    # pipeline run and the streaming wrapper around it
    root = b.work("batch_stream")
    shutil.rmtree(root, ignore_errors=True)
    spipe = b.pipeline(os.path.join(root, "out"))
    with b.tracer.span("streaming.tick") as tick:
        n, _, _ = b.op(run_available_now, b.spark, corpus, spipe,
                       os.path.join(root, "ck"), check=lambda n: n == 1)
    b.layer["streaming.micro_batches"] = n or 0
    b.layer["streaming.tick_overhead_s"] = median(_tick_overheads(b.tracer, [tick]))


# -- ingest_ticks ------------------------------------------------------------

def ingest_ticks(b: Bench) -> None:
    drops = sorted(glob.glob(os.path.join(b.input_dir, "drops", "*.parquet")))
    warm_drop = os.path.join(b.input_dir, "warmup", "drop-000.parquet")
    goldens = inputs.merge(b.goldens, "drops/")
    docs = {d: len(b.goldens["drops/" + os.path.basename(d)]) for d in drops}

    def tick(pipe, inbox, ck, expect):
        # CPU only over ticks that ingest a file; empty ones are too short
        return b.op(run_available_now, b.spark, inbox, pipe, ck, cpu=expect > 0,
                    check=lambda n: n == expect)

    def replay(root: str, empties: Optional[list] = None):
        """The drop sequence from an empty output dir and checkpoint; a
        tick is timed from its file landing to run_available_now returning.
        With ``empties`` given, each tick is followed by EMPTIES_PER_TICK
        ticks that find no new file, whose walls are appended to it."""
        shutil.rmtree(root, ignore_errors=True)
        inbox, ck = os.path.join(root, "in"), os.path.join(root, "ck")
        os.makedirs(inbox)
        pipe = b.pipeline(os.path.join(root, "out"))
        ticks = []
        for d in drops:
            shutil.copyfile(d, os.path.join(inbox, os.path.basename(d)))
            with b.tracer.span("streaming.tick") as span:
                n, wall, cpu = tick(pipe, inbox, ck, 1)
            ticks.append((docs[d], wall, cpu, n or 0, span))
            if empties is not None:
                empties += [tick(pipe, inbox, ck, 0)[1] for _ in range(EMPTIES_PER_TICK)]
        return pipe, inbox, ck, ticks

    t0 = clock()
    root = b.work("ticks_warm")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "in"))
    shutil.copyfile(warm_drop, os.path.join(root, "in", "drop-000.parquet"))
    wpipe = b.pipeline(os.path.join(root, "out"))
    tick(wpipe, os.path.join(root, "in"), os.path.join(root, "ck"), 1)
    tick(wpipe, os.path.join(root, "in"), os.path.join(root, "ck"), 0)
    b.op(read_latest, wpipe)
    b.warmup_s = clock() - t0

    ticks, empties, reads = [], [], []
    t0 = clock()
    while True:
        pipe, inbox, ck, replayed = replay(b.work("ticks"), empties)
        ticks += replayed
        reads += [b.op(read_latest, pipe)[1] for _ in range(TICK_READS)]
        if clock() - t0 >= b.seconds:
            break
    b.check_output(pipe, goldens)

    walls = [t[1] for t in ticks]
    b.e2e["docs_per_s"] = sum(t[0] for t in ticks) / sum(walls)
    b.e2e["docs_per_cpu_s"] = sum(t[0] for t in ticks) / sum(t[2] for t in ticks)
    b.e2e["tick_p50_s"] = median(walls)
    b.e2e["resume_noop_s"] = median(empties)
    b.e2e["read_latest_s"] = median(reads)

    if not b.trace:
        return
    b.tracer.enabled = True

    pipe, _, _, traced = replay(b.work("ticks_traced"))
    b.layer["trace.overhead_frac"] = median([t[1] for t in traced]) / b.e2e["tick_p50_s"] - 1
    b.layer["pipeline.run_s"] = median(_run_spans(b.tracer, [t[4] for t in traced]))
    b.layer["pipeline.rows_written"] = sum(r.rows_written for r in pipe.results)
    b.layer["pipeline.buckets_processed"] = sum(r.buckets_processed for r in pipe.results)
    _files(b, pipe)
    b.layer["streaming.micro_batches"] = sum(t[3] for t in traced)
    b.layer["streaming.tick_overhead_s"] = median(_tick_overheads(b.tracer, [t[4] for t in traced]))
    # small-file history: files each tick's epoch left behind
    epochs = sorted(glob.glob(os.path.join(pipe.extracted_path, "epoch=*")),
                    key=lambda p: int(p.rsplit("=", 1)[1]))
    b.trace_extra["files_written_per_tick"] = [_count_files(e) for e in epochs]
    print(f"ingest_ticks files_written per tick: {b.trace_extra['files_written_per_tick']}",
          file=sys.stderr)

    last_epoch = int(epochs[-1].rsplit("=", 1)[1]) if epochs else 0
    res, _, _ = b.op(pipe.run, drops[-1], resume=True, epoch=last_epoch,
                     check=lambda r: r.buckets_processed == 0)
    b.layer["pipeline.buckets_skipped"] = res.buckets_skipped if res else 0
    _completed_buckets(b, pipe, epoch=last_epoch)
    _unit_probes(b, drops, {d: [d] for d in drops}, scan_reps=1)
    b.layer["pipeline.post_extract_s"] = b.layer["pipeline.run_s"] - b.layer["extraction.stage_s"]


# -- layer probes shared by both workloads -----------------------------------

def _run_spans(tracer: Tracer, ticks: List[dict]) -> List[float]:
    by_parent = {s["parent"]: s for s in tracer.spans if s["name"] == "pipeline.run"}
    return [
        by_parent[t["id"]]["end"] - by_parent[t["id"]]["start"]
        for t in ticks if t.get("id") in by_parent
    ]


def _tick_overheads(tracer: Tracer, ticks: List[dict]) -> List[float]:
    """Tick wall minus the wall of the pipeline runs it wrapped."""
    out = []
    for t in ticks:
        inner = sum(
            s["end"] - s["start"] for s in tracer.spans
            if s["parent"] == t.get("id") and s["name"] == "pipeline.run"
        )
        out.append(t["end"] - t["start"] - inner)
    return out or [0.0]


def _completed_buckets(b: Bench, pipe: ExtractionPipeline, epoch: int) -> None:
    walls = []
    for _ in range(COMPLETED_REPS):
        with b.tracer.span("pipeline.completed_buckets"):
            walls.append(b.op(lambda: pipe.completed_buckets(epoch).count())[1])
    b.layer["pipeline.completed_buckets_s"] = median(walls)


def _unit_probes(b: Bench, units: List[str], files: Dict[str, List[str]],
                 scan_reps: int) -> None:
    """Kernels, scan, extraction stage and preflight over each unit of
    input a pipeline run consumes (the corpus, or one drop)."""
    all_files = [f for u in units for f in files[u]]
    with b.tracer.span("kernels.probe"):
        probes = parallel_map("probes:kernel_probe", [[f, inputs.MAX_BYTES] for f in all_files],
                              b.cores, b.work("tmp"))
    by_file = dict(zip(all_files, probes))
    tot = {k: sum(p[k] for p in probes) for k in probes[0]}
    b.layer["kernels.docs_per_cpu_s"] = tot["docs"] / tot["doc_cpu_s"]
    for name, key in (("pdf_parse_ms", "pdf"), ("html_extract_ms", "html"),
                      ("fields_ms", "fields"), ("po_number_ms", "po")):
        b.layer[f"kernels.{name}"] = 1000 * tot[f"{key}_s"] / max(1, tot[f"{key}_n"])
    b.layer["sources.input_mb"] = sum(os.path.getsize(f) for f in all_files) / 1e6

    scan_s, stage_s, stage_cpu, boundary = [], [], [], []
    for u in units:
        scans = []
        for _ in range(scan_reps):
            with b.tracer.span("sources.read_input"):
                _, wall, cpu = b.op(lambda: _drain(read_input(b.spark, u)), cpu=True)
            scans.append((wall, cpu))
        with b.tracer.span("extraction.stage"):
            _, wall, cpu = b.op(lambda: _drain(_stage(b, u)), cpu=True)
        kernel_cpu = sum(by_file[f]["doc_cpu_s"] for f in files[u])
        scan_s.append(median([w for w, _ in scans]))
        stage_s.append(wall)
        stage_cpu.append(cpu)
        boundary.append(cpu - kernel_cpu - median([c for _, c in scans]))
    b.layer["sources.scan_s"] = median(scan_s)
    b.layer["extraction.stage_s"] = median(stage_s)
    b.layer["extraction.stage_cpu_s"] = median(stage_cpu)
    b.layer["extraction.boundary_cpu_s"] = median(boundary)

    walls = []
    for i in range(PREFLIGHT_REPS):
        with b.tracer.span("preflight.require_healthy"):
            walls.append(b.op(require_healthy, b.spark, units[i % len(units)])[1])
    b.layer["preflight.require_healthy_s"] = median(walls)


def _stage(b: Bench, path: str):
    """The extraction stage alone: scan, size gate, Arrow mapInPandas."""
    pages = read_input(b.spark, path).withColumn("partition_id", F.spark_partition_id())
    return extract_stage(gate_oversize(pages, inputs.MAX_BYTES), max_bytes=inputs.MAX_BYTES)
