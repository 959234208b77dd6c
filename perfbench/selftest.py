"""Self-test of the benchmark at a tiny scale: 150 customers (the size of
sf0.001) and two measured steps per workload.

    python3 perfbench/selftest.py [--workloads ivm_trickle crud_loop]

By default it runs the workloads BENCHMARK.json lists plus
``resync_upgrade``, which is not listed but is kept runnable. For every
workload and both trace modes it requires exit code 0, ``correct: true``,
``failed: 0`` and every metric BENCHMARK.json names, each with its unit,
and in trace mode the per-layer detail metrics on the line before, each
belonging to a layer of layers.json. Then it plants one wrong row in a
maintained view and requires the correctness gate to trip:
``correct: false`` and a non-zero exit code. Run from the root of a
checkout; takes several minutes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--customers", "150", "--steps", "2", "--seconds", "0"]


def run(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    """→ (exit code, result line, the info line before it)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--trace", str(trace),
           *TINY, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]), json.loads(lines[-2])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-4000:])
        return p.returncode, {}, {}


def expect(ok: bool, what: str, failures: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", nargs="+",
                   default=[w["name"] for w in bench["workloads"]]
                   + ["resync_upgrade"])
    args = p.parse_args()
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    with open(os.path.join(HERE, "layers.json")) as f:
        prefixes = tuple(json.load(f)["layers"])
    failures: list[str] = []
    expect(all(n.startswith(prefixes) for n in want[1]),
           "every per-layer metric belongs to a layer of layers.json",
           failures)
    for w in args.workloads:
        for trace in (0, 1):
            rc, out, info = run(w, trace)
            tag = f"{w} trace={trace}"
            expect(rc == 0 and out.get("correct") is True
                   and out.get("failed") == 0 and out.get("attempted", 0) > 0,
                   f"{tag}: exit 0, correct, no failed operations", failures)
            got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
            expect(got == want[trace],
                   f"{tag}: every metric printed with its unit", failures)
            expect(all(isinstance(v.get("value"), (int, float))
                       for v in out.get("metrics", {}).values()),
                   f"{tag}: every value is a number", failures)
            if trace:
                detail = info.get("layer_detail", {})
                expect(bool(detail) and all(
                    v.get("unit") and isinstance(v.get("value"), (int, float))
                    for v in detail.values()),
                    f"{tag}: per-layer detail metrics printed with units",
                    failures)
                expect(all(n.startswith(prefixes) for n in detail),
                       f"{tag}: every detail metric belongs to a layer",
                       failures)
    rc, out, _ = run(args.workloads[0], 0, "--plant-error")
    expect(rc != 0 and out.get("correct") is False and out.get("failed", 0) > 0,
           f"{args.workloads[0]}: a planted wrong view row trips the gate",
           failures)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
