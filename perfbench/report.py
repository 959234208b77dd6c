"""Metric assembly: end-to-end metrics from the untraced samples, per-layer
metrics from the traced run's spans and counts.

Every workload prints every end-to-end and per-layer metric BENCHMARK.json
names (see layers.json for which layer moves which end-to-end metric).
"""

from __future__ import annotations

import json
import math
import os
import statistics

from views import REVENUE_TARGETS, V_TARGETS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The metrics the result line carries, with their units, as BENCHMARK.json
#: names them: the end-to-end ones for ``--trace 0``, the per-layer ones for
#: ``--trace 1``. Every workload prints all of them; a count of a layer a
#: workload does not call reads 0 there.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
E2E_UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n}
    pct = math.floor(100.0 * (n - 10) / n)
    k = max(0, math.ceil(pct / 100.0 * n) - 1)
    return {"value": sorted(xs)[k], "percentile": pct, "samples": n}


def end_to_end(s) -> dict[str, float]:
    return {
        "setup_s": median(s.setup),
        "op_p50_s": median(s.op),
        "changes_per_s": s.changes / sum(s.op) if s.op else 0.0,
    }


#: Metrics of layers only some workloads call, plus the per-target split of
#: the mapreduce sums: kept in the run record and on the line before the
#: result, never printed as 0 for a workload that does not call the layer.
DETAIL_UNITS = {
    "incremental.jobs_per_upgrade": "count",
    **{f"resource_store.{c}_p50_s": "s"
       for c in ("create_many", "update", "delete_many", "get")},
    "maintainer.drain_s": "s", "maintainer.apply_s": "s",
    "maintainer.overhead_s": "s",
    "query.search_s.view": "s", "query.search_s.source": "s",
    **{f"mapreduce.{m}.{t}": u for t in V_TARGETS + REVENUE_TARGETS
       for m, u in (("compute_s", "s"), ("rows_out", "count"))},
}


def _dur(span) -> float:
    return span["end"] - span["start"]


def per_layer(tr, w, boot_s: float) -> dict[str, float]:
    """Every PER_LAYER_UNITS metric (0 where the layer is not called) plus
    the DETAIL_UNITS metrics this workload measured."""
    out = {name: 0.0 for name in PER_LAYER_UNITS}
    out["session.spark_boot_s"] = boot_s
    out["catalog.load_s"] = median([_dur(s) for s in tr.finished(
        "catalog.load")])
    out["incremental.bootstrap_resync_s"] = median(w.s.resync_all)

    applies = tr.finished("incremental.apply_changes")
    if applies:
        # the engine's only wrapped callee is its state store, so an apply's
        # direct children are exactly its store.overwrite / store.read spans
        kids = [tr.kids(a) for a in applies]
        out["incremental.jobs_per_batch"] = median(
            [a["jobs"] for a in applies])
        for call in ("overwrite", "read"):
            out[f"incremental.store_{call}s_per_batch"] = median(
                [sum(k["name"] == f"store.{call}" for k in ks)
                 for ks in kids])
        out["incremental.store_overwrite_s_per_batch"] = median(
            [sum(_dur(k) for k in ks if k["name"] == "store.overwrite")
             for ks in kids])
        out["incremental.self_s_per_batch"] = median(
            [tr.self_time(a) for a in applies])
    for name in ("incremental.bytes_written_per_change",
                 "incremental.rows_written_per_change",
                 "resource_store.bytes_written_per_call",
                 "resource_store.feed_files_per_step",
                 "query.rows_returned.view", "query.rows_returned.source"):
        out[name] = tr.median_count(name)
    upgrades = tr.finished("maintainer.run_with_resync")
    if upgrades:
        out["incremental.jobs_per_upgrade"] = median(
            [u["jobs"] for u in upgrades])
    out["mapreduce.jobs_per_resync_all"] = median(
        [s["jobs"] for s in tr.finished("incremental.resync_all")])

    for call in ("create_many", "update", "delete_many", "get"):
        spans = tr.finished(f"resource_store.{call}")
        if spans:
            out[f"resource_store.{call}_p50_s"] = median(
                [_dur(s) for s in spans])

    drains = tr.finished("maintainer.drain")
    if drains:
        apply_s = [sum(_dur(a) for a in tr.children(
            d, "incremental.apply_changes")) for d in drains]
        out["maintainer.drain_s"] = median([_dur(d) for d in drains])
        out["maintainer.apply_s"] = median(apply_s)
        out["maintainer.overhead_s"] = median(
            [_dur(d) - a for d, a in zip(drains, apply_s)])
        out["maintainer.microbatches_per_drain"] = median(
            [len(tr.children(d, "maintainer.batch")) for d in drains])
        out["maintainer.jobs_per_drain"] = median([d["jobs"] for d in drains])

    searches = []
    for shape in ("view", "source"):
        spans = tr.finished(f"query.search.{shape}")
        if spans:
            searches += spans
            out[f"query.search_s.{shape}"] = median([_dur(s) for s in spans])
    out["query.jobs_per_search"] = median([s["jobs"] for s in searches])

    out.update(w.layer)
    return out
