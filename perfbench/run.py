"""Benchmark of the maintained-view service (qvarn_mr_spark).

    python3 perfbench/run.py --workload ivm_trickle --seed 1 --seconds 10 \
        --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``. After
set-up (and, on ``crud_loop``, one unmeasured warm-up step) the run measures
for ``--seconds`` (always at least one step), checks the maintained views
against a DuckDB recompute, and prints one JSON object as the last line of
stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run; the line before the result carries the run's
provenance, tail latency and the per-layer times of layers only this
workload calls. Everything the run writes stays under
``.perfbench/`` in the checkout: scratch state is removed at the end, the
run's record (provenance, tail latencies, traced spans) is kept under
``.perfbench/results/``. Exits 1 when the correctness gate fails and 2 when
the program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ivm_trickle", "resync_upgrade", "crud_loop"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--customers", type=int, default=1500,
                   help="scale: customers (x10 orders, ~x40 lineitems)")
    p.add_argument("--steps", type=int, default=0,
                   help="stop after this many measured steps (0: run --seconds)")
    p.add_argument("--plant-error", action="store_true",
                   help="corrupt one maintained view row before the gate")
    return p.parse_args(argv)


def sandbox(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file either: the JVM puts it in /tmp whatever tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import qvarn_mr_spark  # the program under test, from this checkout
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(qvarn_mr_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: qvarn_mr_spark imported from outside {ROOT}",
              file=sys.stderr)
        return 2

    from provenance import Provenance
    import report
    from tracing import Tracer
    from workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sandbox(work)
    nproc = os.cpu_count() or 1
    master = f"local[{nproc}]"
    prov = Provenance(master)

    from qvarn_mr_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=master, shuffle_partitions=nproc)
    boot_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tr = Tracer(bool(args.trace), args.workload, spark)
    try:
        w = WORKLOADS[args.workload](args, work, spark, tr, boot_s)
        bad = w.run()
        layer = report.per_layer(tr, w, boot_s) if args.trace else {}
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    s = w.s
    gate_failures = sum(1 for n in bad.values() if n)
    s.attempted += len(bad)
    s.failed += gate_failures
    correct = bool(bad) and gate_failures == 0 and s.failed == 0
    e2e = report.end_to_end(s)
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "customers": args.customers, "provenance": prov.finish(),
        "gate_mismatches": bad, "attempted": s.attempted, "failed": s.failed,
        "op_error_rate": s.failed / max(1, s.attempted),
        "end_to_end": e2e, "op_tail_s": report.tail(s.op),
        "op_samples": s.op, "warmup_op_samples": s.warmup_op,
        "setup_samples": s.setup,
        "resync_all_samples": s.resync_all, "read_samples": s.read,
        "resync_live_gap_s": max(s.live_gap, default=None),
        "per_layer": layer,
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tr.dump(stem + "-spans.json")

    metrics = layer if args.trace else e2e
    units = report.PER_LAYER_UNITS if args.trace else report.E2E_UNITS
    info = {k: record[k] for k in ("provenance", "gate_mismatches",
                                   "op_tail_s", "resync_live_gap_s")}
    info["layer_detail"] = {k: {"value": v, "unit": report.DETAIL_UNITS[k]}
                            for k, v in layer.items()
                            if k in report.DETAIL_UNITS}
    print(json.dumps(info))
    print(json.dumps({
        "correct": correct, "attempted": s.attempted, "failed": s.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
