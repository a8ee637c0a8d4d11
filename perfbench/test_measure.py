"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys

import pytest

from measure import Tracer, descendants, median, percentile, tree_cpu_seconds
from worker import parallel_map

HZ = os.sysconf("SC_CLK_TCK")

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _fake_proc(tmp_path, procs):
    """procs: {pid: (comm, ppid, utime, stime, cutime, cstime)}"""
    for pid, (comm, ppid, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        # fields after the comm: state ppid pgrp session tty tpgid flags
        # minflt cminflt majflt cmajflt utime stime cutime cstime ...
        (d / "stat").write_text(
            f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 {ut} {st} {cut} {cst} 20 0 1 0\n"
        )
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_cpu_sums_descendants_and_reaped_children(tmp_path):
    root = _fake_proc(tmp_path, {
        100: ("python3", 1, 10, 5, 40, 2),      # cutime: reaped workers
        101: ("java", 100, 300, 20, 0, 0),
        102: ("py (daemon) x", 101, 7, 3, 50, 10),  # parens in the name
        200: ("other", 1, 999, 999, 999, 999),  # not in the tree
    })
    want = (10 + 5 + 40 + 2) + (300 + 20) + (7 + 3 + 50 + 10)
    assert tree_cpu_seconds(100, proc_root=root) == pytest.approx(want / HZ)
    assert tree_cpu_seconds(102, proc_root=root) == pytest.approx(70 / HZ)
    assert sorted(descendants(100, proc_root=root)) == [101, 102]
    assert descendants(200, proc_root=root) == []


def test_tree_cpu_of_missing_root_is_zero(tmp_path):
    root = _fake_proc(tmp_path, {5: ("a", 1, 1, 1, 1, 1)})
    assert tree_cpu_seconds(6, proc_root=root) == 0


def test_tree_cpu_counts_a_reaped_child():
    before = tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.3)], check=True)
    # the child is gone; its CPU is now in this process's cutime/cstime
    assert tree_cpu_seconds() - before >= 0.25


def test_tree_cpu_counts_a_live_child():
    before = tree_cpu_seconds()
    child = subprocess.Popen(
        [sys.executable, "-c", BURN.format(s=0.3) + "print(flush=True)\ninput()\n"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        child.stdout.readline()  # the child has burned its CPU and waits
        assert child.pid in descendants()
        assert tree_cpu_seconds() - before >= 0.25
    finally:
        child.communicate("\n", timeout=30)
    assert child.returncode == 0


@pytest.mark.parametrize("values", [[3.0], [1, 2], [5, 1, 4], [2, 9, 4, 7, 1, 8], list(range(11))])
def test_percentile_matches_inclusive_quantiles(values):
    assert median(values) == pytest.approx(statistics.median(values))
    assert percentile(values, 0) == min(values)
    assert percentile(values, 100) == max(values)
    if len(values) >= 2:
        q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
        assert percentile(values, 25) == pytest.approx(q1)
        assert percentile(values, 50) == pytest.approx(q2)
        assert percentile(values, 75) == pytest.approx(q3)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1, 2], 101)


def test_tracer_records_nesting_and_self_time():
    tr = Tracer(enabled=True)
    with tr.span("tick") as tick:
        with tr.span("pipeline.run") as run:
            pass
    assert run["parent"] == tick["id"] and tick["parent"] is None
    s = tr.summary()
    assert s["tick"]["count"] == 1
    child = run["end"] - run["start"]
    assert s["tick"]["self_s"] == pytest.approx(tick["end"] - tick["start"] - child)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == [] and tr.summary() == {}


def test_parallel_map_keeps_task_order(tmp_path):
    tasks = [[5, 1, 3], [2, 2], [9], [4, 6]]
    assert parallel_map("measure:median", tasks, 3, str(tmp_path)) == [3, 2, 9, 5]
