"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced at a tiny input size and
checks that each run passes its correctness gate and prints every metric
BENCHMARK.json names, with that metric's unit. Then runs every workload with
one expected value deliberately corrupted and checks that the gate fires: a
non-zero exit, ``correct: false`` and at least one failed operation.
Takes a few minutes; exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.25", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.exit(f"FAIL {workload} trace={trace}: no JSON result line\n{p.stderr[-3000:]}")
    return p.returncode, out


def expect(ok: bool, what: str) -> None:
    if not ok:
        sys.exit(f"FAIL {what}")
    print(f"ok   {what}", flush=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, out = run(wl, trace)
            expect(rc == 0 and out["correct"] and out["failed"] == 0 and out["attempted"] > 0,
                   f"{wl} trace={trace}: exit 0, correct, {out['attempted']} ops, none failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            expect(got == want, f"{wl} trace={trace}: all {len(want)} {key} metrics with units")
            expect(all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()),
                   f"{wl} trace={trace}: numeric values")
        rc, out = run(wl, 0, "--check-fault")
        expect(rc != 0 and not out["correct"] and out["failed"] >= 1,
               f"{wl}: corrupted expected value makes the gate fire ({out['failed']} failed)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
