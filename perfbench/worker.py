"""Fan benchmark-side Python work out to child processes and wait for them.

Plain subprocesses rather than a ``multiprocessing`` pool: every child is
waited for before ``parallel_map`` returns, and no helper process (such as
a resource tracker) outlives the call.

Child entry point: ``python3 perfbench/worker.py <module:function>
<tasks.json> <results.json>``; it imports the function by name, applies it
to each task and writes the results.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import tempfile
from typing import Any, List

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parallel_map(target: str, tasks: List[Any], workers: int, tmp_root: str) -> List[Any]:
    """``[f(t) for t in tasks]`` for ``f = target`` ("module:function",
    importable from this directory), spread over ``workers`` children."""
    workers = max(1, min(workers, len(tasks)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.makedirs(tmp_root, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=tmp_root) as tmp:
        procs = []
        for w in range(workers):
            group = [[i, tasks[i]] for i in range(w, len(tasks), workers)]
            tin = os.path.join(tmp, f"in-{w}.json")
            tout = os.path.join(tmp, f"out-{w}.json")
            with open(tin, "w") as f:
                json.dump(group, f)
            procs.append(
                (subprocess.Popen([sys.executable, os.path.abspath(__file__), target, tin, tout], env=env), tout)
            )
        codes = [p.wait() for p, _ in procs]
        if any(codes):
            raise RuntimeError(f"{target}: worker exit codes {codes}")
        results: List[Any] = [None] * len(tasks)
        for _, tout in procs:
            with open(tout) as f:
                for i, res in json.load(f):
                    results[i] = res
    return results


def _main(argv: List[str]) -> None:
    target, tin, tout = argv
    module, func = target.split(":")
    fn = getattr(importlib.import_module(module), func)
    with open(tin) as f:
        group = json.load(f)
    out = [[i, fn(task)] for i, task in group]
    with open(tout, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    _main(sys.argv[1:])
