"""Smoke test for the benchmark itself, at a tiny row count.

    python3 perfbench/smoke.py          # or: python3 -m pytest perfbench/smoke.py

Checks, for every workload in BENCHMARK.json, untraced and traced:
  * the last stdout line is the result object with exactly its four keys;
  * every end-to-end (untraced) or per-layer (traced) metric is emitted by
    name with its BENCHMARK.json unit, and nothing else;
  * the correctness gate passes.
Then that a deliberately wrong reference count is caught (correct false,
failed > 0), and that a directory holding only BENCHMARK.json and the
benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TINY = ["--rows", "20000", "--seconds", "1", "--seed", "5"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(argv: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    proc = subprocess.run([sys.executable, *argv], cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def _result(lines: list[str]) -> dict:
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    return result


def check_workload(workload: str, trace: int) -> None:
    code, lines = _run([os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
                        "--trace", str(trace), *TINY])
    assert code == 0, f"{workload} trace={trace} exited {code}"
    result = _result(lines)
    assert result["correct"] and result["failed"] == 0, lines[-2:]
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    want = {m["name"]: m["unit"] for m in named}
    got = {k: m["unit"] for k, m in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: {set(got) ^ set(want)}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)) and math.isfinite(m["value"]), name
        if not trace:
            assert m["value"] > 0, f"{workload}: {name} = {m['value']}"


def test_agg_untraced():
    check_workload("agg", 0)


def test_agg_traced():
    check_workload("agg", 1)


def test_ticks_untraced():
    check_workload("ticks", 0)


def test_ticks_traced():
    check_workload("ticks", 1)


def test_wrong_reference_is_caught():
    """One route's reference count off by one must fail the run."""
    argv = ["--workload", "agg", "--trace", "0", *TINY]
    code = (
        f"import sys; sys.path.insert(0, {BENCH_DIR!r})\n"
        "import gate, run\n"
        "whole = gate.Reference.whole\n"
        "def wrong(self):\n"
        "    ref = whole(self)\n"
        "    route = sorted(ref['counts'])[0]\n"
        "    ref['counts'][route] += 1\n"
        "    return ref\n"
        "gate.Reference.whole = wrong\n"
        f"sys.exit(run.main({argv!r}))\n"
    )
    rc, lines = _run(["-c", code])
    assert rc == 0, rc
    result = _result(lines)
    assert not result["correct"] and result["failed"] >= 1, result


def test_fails_without_the_program():
    """Only BENCHMARK.json and the benchmark: exit non-zero, print no result."""
    parent = os.path.join(ROOT, ".perfbench")
    os.makedirs(parent, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=parent)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = _run(SPEC["command"][1:] + ["--workload", "agg", "--seed", "1",
                                                "--seconds", "1", "--trace", "0"], cwd=bare)
        assert rc != 0, "benchmark passed with no program to measure"
        assert not any(line.startswith("{") for line in lines), lines
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    failures = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok    {name}", flush=True)
            except AssertionError as exc:
                failures += 1
                print(f"FAIL  {name}: {exc}", flush=True)
    sys.exit(1 if failures else 0)
