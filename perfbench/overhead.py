"""Tracing overhead: traced minus untraced end-to-end numbers.

    python3 perfbench/overhead.py

Pairs every ``.perfbench/results/<workload>-seed<n>-trace0.json`` with its
``-trace1.json`` twin (same workload and seed, so the same inputs) and
prints, per end-to-end metric, the traced value, the untraced value and
their difference.
"""

from __future__ import annotations

import glob
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    results = os.path.join(ROOT, ".perfbench", "results")
    for plain in sorted(glob.glob(os.path.join(results, "*-trace0.json"))):
        traced = plain.replace("-trace0.json", "-trace1.json")
        if not os.path.exists(traced):
            continue
        with open(plain) as f:
            a = json.load(f)
        with open(traced) as f:
            b = json.load(f)
        print(f"{a['workload']} seed {a['seed']}")
        for k, v in a["end_to_end"].items():
            t = b["end_to_end"].get(k)
            if t is None:
                continue
            print(f"  {k:16s} traced {t:10.4f}  untraced {v:10.4f}  "
                  f"overhead {t - v:+10.4f}")


if __name__ == "__main__":
    main()
