"""Tiny-scale self-check of the benchmark harness.

    python3 perfbench/selfcheck.py

Checks, in order:
1. ``BENCHMARK.json`` has the shape the harness relies on.
2. The oracle comparisons reject a wrong answer.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``,
   ``run.py`` exits non-zero without printing a result.
4. Every workload, at ``--scale tiny``, with ``--trace 0`` and
   ``--trace 1``, exits 0 and prints as its last line a correct result
   whose metrics are exactly those ``BENCHMARK.json`` lists, with their
   units, every end-to-end value above zero.

Exits 0 when all pass. Takes a few minutes (eight short Spark sessions).
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(REPO))

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def check_spec(spec: dict) -> None:
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}, sorted(spec)
    names = [w["name"] for w in spec["workloads"]]
    metrics = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for n in names + metrics:
        assert NAME.match(n), n
    assert len(set(metrics)) == len(metrics), "metric names repeat"
    assert 2 <= len(names) <= 8 and 1 <= len(spec["per_layer"]) <= 128
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def check_oracle_comparisons() -> None:
    import pandas as pd

    from perfbench.workloads import _check_verdicts, _check_violations

    v = pd.DataFrame({"doc_id": ["a", "b"], "part_id": [0, 1], "check_id": ["x", "y"],
                      "payload": ["{}", "{}"]})
    assert not _check_violations(v, v)
    assert _check_violations(v.iloc[:1], v)
    assert _check_violations(v.assign(payload=["{}", "{ }"]), v)
    d = pd.DataFrame({"part_id": [0, 1], "verdict": ["probation", "pass"],
                      "n_violations": [0, 0], "psi": [0.0, 0.01], "kl": [0.0, 0.02]})
    assert not _check_verdicts(d, d)
    assert _check_verdicts(d.assign(verdict=["probation", "fail"]), d)
    assert _check_verdicts(d.assign(psi=[0.0, 0.011]), d)


def run(args: list[str], cwd: Path) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_bare_directory(spec: dict) -> None:
    bare = BENCH / ".out" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(REPO / "BENCHMARK.json", bare)
    shutil.copytree(BENCH, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".out", ".cache", "__pycache__"))
    try:
        p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0"], bare)
        assert p.returncode != 0, "run.py succeeded without the engine"
        assert '"metrics"' not in p.stdout, "run.py printed a result without the engine"
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def check_workload(spec: dict, workload: str, trace: int) -> None:
    p = run(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
             "--scale", "tiny"], REPO)
    assert p.returncode == 0, f"{workload} trace {trace}: exit {p.returncode}\n{p.stdout}{p.stderr}"
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, sorted(res)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    assert list(got) == [m["name"] for m in want], f"{workload}: metric names differ"
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], float), m["name"]
        if not trace:
            assert got[m["name"]]["value"] > 0, m["name"]


def main() -> int:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    steps = [("BENCHMARK.json shape", lambda: check_spec(spec)),
             ("oracle comparisons reject wrong answers", check_oracle_comparisons),
             ("bare directory exits non-zero", lambda: check_bare_directory(spec))]
    for w in spec["workloads"]:
        for trace in (0, 1):
            steps.append((f"{w['name']} --trace {trace} at tiny scale",
                          lambda w=w["name"], t=trace: check_workload(spec, w, t)))
    failed = 0
    for label, fn in steps:
        try:
            fn()
            print(f"ok    {label}", flush=True)
        except AssertionError as ex:
            failed += 1
            print(f"FAIL  {label}: {ex}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
