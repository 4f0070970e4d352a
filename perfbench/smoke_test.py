"""Smoke test of the benchmark: every workload at tiny volume.

    python3 perfbench/smoke_test.py        (or: python3 -m pytest perfbench/smoke_test.py)

Runs each workload of BENCHMARK.json untraced and traced at ``--size
tiny`` (a 4x4-tile world and a few thousand rows) and checks that every
named metric is printed with its unit and that no operation failed.
Takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_smoke():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = _run(w["name"], trace)
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
            got = res["metrics"]
            assert set(got) == {m["name"] for m in wanted}, (w["name"], trace, sorted(got))
            for m in wanted:
                assert got[m["name"]]["unit"] == m["unit"], m["name"]
                assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
            print(f"ok: {w['name']} trace={trace} ({len(got)} metrics)", flush=True)


if __name__ == "__main__":
    test_smoke()
