"""The three closed-loop workloads.

One client in one driver process issues each step only after the previous
one returned, on Spark ``local[nproc]`` — the reference worker's own
poll → process → ack loop. Every call into a layer goes through
:meth:`Tracer.timed` / :meth:`Tracer.span`, so the traced run records its
spans at exactly the calls the untraced run times.

Each workload fills a :class:`Samples` and returns the pieces the
correctness gate needs.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import data
import gate
from storage import WriteProbe, tree_bytes
from views import (REVENUE_TARGETS, V_ID_COLS, V_TARGETS, revenue_view,
                   view_set_v, with_lineitem_id)

from qvarn_mr_spark.catalog import Catalog
from qvarn_mr_spark.operators import (IncrementalEngine, ParquetStateStore,
                                      ViewEngine)
from qvarn_mr_spark.operators.incremental import notifications
from qvarn_mr_spark.operators.mapreduce import REDUCE_SPECS
from qvarn_mr_spark.query import search
from qvarn_mr_spark.sources import ResourceStore
from qvarn_mr_spark.streaming import StreamingMaintainer

ORDERS_SCHEMA = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
                 "o_totalprice double, o_orderpriority string")

#: one ivm_trickle batch: created / updated / deleted notifications
BATCH_CREATED, BATCH_UPDATED, BATCH_DELETED = 16, 32, 16
#: one crud_loop step: created docs, revision-checked updates, deletes —
#: the 25% / 50% / 25% mix of an ivm_trickle batch at the smallest size that
#: keeps it, because each update rewrites the whole collection
CRUD_CREATES, CRUD_UPDATES, CRUD_DELETES = 1, 2, 1
#: set-ups per run; setup_s is their median
SETUP_REPS = 2
#: hash slices of the handler-upgrade resync
UPGRADE_CHUNKS = 8


class OpFailed(Exception):
    """An operation of the workload raised; the run stops stepping."""


class Samples:
    """End-to-end samples and counters of one run."""

    def __init__(self):
        self.setup: list[float] = []
        self.op: list[float] = []
        #: the step operation's wall time in the unmeasured warm-up steps
        self.warmup_op: list[float] = []
        self.resync_all: list[float] = []
        self.read: list[float] = []
        self.changes = 0
        self.attempted = 0
        self.failed = 0
        #: resync_upgrade: longest interval between two drains per upgrade
        self.live_gap: list[float] = []


class Workload:
    #: unmeasured steps before timing starts
    warmup = 0

    def __init__(self, args, work: str, spark, tracer, boot_s: float):
        self.args = args
        self.work = work
        self.spark = spark
        self.tr = tracer
        self.boot_s = boot_s
        self.s = Samples()
        self.rng = np.random.default_rng(args.seed)
        self.tables = data.make_tables(args.seed, args.customers)
        for name, df in self.tables.items():
            data.write_parquet(df, self.path("src", f"{name}.parquet"))
        self.layer: dict[str, float] = {}

    # -- helpers ---------------------------------------------------------------

    def op(self, name: str, fn, *a, **kw):
        """One attempted operation; a failure is counted and ends the run."""
        self.s.attempted += 1
        try:
            return self.tr.timed(name, fn, *a, **kw)
        except Exception as exc:
            self.s.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(name) from exc

    def steps(self):
        """Closed-loop step ids. The first ``warmup`` steps are not measured:
        the samples they leave are dropped and their spans and counts left
        out of the per-layer metrics. Then steps run until --seconds have
        been measured (at least one step; --steps caps the measured count
        for the self-test)."""
        i = 0
        self.tr.warmup = True
        while i < self.warmup:
            self.tr.step = i
            yield i
            i += 1
        self.tr.warmup = False
        s = self.s
        s.warmup_op = s.op[:]
        s.op.clear(), s.read.clear(), s.live_gap.clear()
        s.changes = 0
        deadline = time.perf_counter() + self.args.seconds
        while i == self.warmup or time.perf_counter() < deadline:
            if self.args.steps and i - self.warmup >= self.args.steps:
                return
            self.tr.step = i
            yield i
            i += 1

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def load_catalog(self) -> Catalog:
        """The catalog layer: parquet tables → DataFrames, plus the lineitem
        id the views key on."""
        with self.tr.span("catalog.load"):
            cat = Catalog.from_dir(self.spark, self.path("src"))
            cat.register("lineitem", with_lineitem_id(cat.get("lineitem")))
        return cat

    def trace_store(self, store) -> None:
        self.tr.wrap(store, "overwrite", "store.overwrite")
        self.tr.wrap(store, "read", "store.read")

    def mapreduce_compute(self, engine: ViewEngine, targets) -> None:
        """Traced run only: each target's full map/reduce plan timed against a
        no-op sink — the one way to split compute from store I/O."""
        if not self.tr.enabled:
            return
        for t in targets:
            reduce = isinstance(next(iter(engine.config[t].values())),
                                REDUCE_SPECS)
            df = engine.reduce_table(t) if reduce else engine.map_table(t)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt, rows = time.perf_counter() - t0, df.count()
            self.layer[f"mapreduce.compute_s.{t}"] = dt
            self.layer[f"mapreduce.rows_out.{t}"] = rows
            kind = "reduce_targets" if reduce else "map_targets"
            for name, v in ((f"mapreduce.compute_s.{kind}", dt),
                            (f"mapreduce.rows_out.{kind}", rows)):
                self.layer[name] = self.layer.get(name, 0) + v

    def v_expected(self, orders: pd.DataFrame) -> dict[str, pd.DataFrame]:
        return gate.recompute(gate.V_SQL, {
            "customer": self.tables["customer"], "orders": orders,
            "lineitem": self.tables["lineitem"]})

    def plant(self, inc, target: str) -> None:
        """Self-test: overwrite one row of a maintained view with a wrong
        value, so the gate must trip."""
        pdf = gate.plant_error(inc.read(target).toPandas())
        inc.store.overwrite(target, self.spark.createDataFrame(pdf))

    def gate_views(self, inc, expected: dict) -> dict[str, int]:
        if self.args.plant_error:
            self.plant(inc, next(iter(expected)))
        return gate.check_views(lambda t: inc.read(t).toPandas(), expected)


# ---------------------------------------------------------------------------


class IvmTrickle(Workload):
    """Seeded 64-change ``orders`` batches through apply_changes (view set
    V, ParquetStateStore)."""

    # No warm-up step: the first apply_changes after set-up takes ~1.4x a
    # warm one, but a warm-up would turn a ~50 s run into a ~70 s one, and
    # over ten seeds the first apply spread no more than the second
    # (quartile spread 0.11 against 0.12).

    def setup(self):
        last = None
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            cat = self.load_catalog()
            store = ParquetStateStore(self.spark, self.path(f"state{r}"))
            inc = IncrementalEngine(
                ViewEngine(cat, view_set_v(), id_cols=V_ID_COLS), store)
            _, dt = self.op("incremental.resync_all", inc.resync_all)
            self.s.resync_all.append(dt)
            self.s.setup.append(self.boot_s + time.perf_counter() - t0)
            if last is not None:
                shutil.rmtree(last.store.root, ignore_errors=True)
            last = inc
        return cat, last

    def batch(self, orders: pd.DataFrame, next_key: int):
        """Mutate the overlay model; return (orders', rows, next_key')."""
        live = orders["o_orderkey"].to_numpy()
        pick = self.rng.choice(live, BATCH_UPDATED + BATCH_DELETED,
                               replace=False)
        upd, dele = pick[:BATCH_UPDATED], pick[BATCH_UPDATED:]
        new = data.make_orders(self.rng, BATCH_CREATED, self.args.customers,
                               first_key=next_key)
        orders = orders[~orders["o_orderkey"].isin(dele)].copy()
        m = orders["o_orderkey"].isin(upd).to_numpy()
        orders.loc[m, "o_custkey"] = self.rng.integers(
            1, self.args.customers + 1, size=int(m.sum()))
        orders.loc[m, "o_totalprice"] = data.price(self.rng, int(m.sum()))
        orders = pd.concat([orders, new], ignore_index=True)
        rows = ([("orders", "created", int(k)) for k in new["o_orderkey"]]
                + [("orders", "updated", int(k)) for k in upd]
                + [("orders", "deleted", int(k)) for k in dele])
        order = self.rng.permutation(len(rows))
        return orders, [rows[i] for i in order], next_key + BATCH_CREATED

    def run(self) -> dict[str, int]:
        cat, inc = self.setup()
        self.trace_store(inc.store)
        orders = self.tables["orders"]
        next_key = int(orders["o_orderkey"].max()) + 1
        probe = WriteProbe(inc.store.root, self.tr.enabled)
        try:
            for i in self.steps():
                orders, rows, next_key = self.batch(orders, next_key)
                path = data.write_parquet(
                    orders, self.path("overlay", f"orders{i}.parquet"))
                cat.register("orders", self.spark.read.schema(ORDERS_SCHEMA)
                             .parquet(path))
                changes = notifications(self.spark, rows)
                probe.start()
                _, dt = self.op("incremental.apply_changes",
                                inc.apply_changes, changes)
                rows_w, bytes_w = probe.stop()
                self.s.op.append(dt)
                self.s.changes += len(rows)
                self.tr.count("incremental.rows_written_per_change",
                              rows_w / len(rows))
                self.tr.count("incremental.bytes_written_per_change",
                              bytes_w / len(rows))
                old = self.path("overlay", f"orders{i - 2}.parquet")
                if os.path.exists(old):
                    os.remove(old)
        except OpFailed:
            pass
        self.layer["incremental.state_bytes"] = tree_bytes(inc.store.root)
        self.mapreduce_compute(inc.engine, V_TARGETS)
        return self.gate_views(inc, self.v_expected(orders))


class ResyncUpgrade(Workload):
    """resync_all from an empty state dir, then a lineitem map handler
    version bump resynced by StreamingMaintainer.run_with_resync()."""

    def setup(self):
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            cat = self.load_catalog()
            self.s.setup.append(self.boot_s + time.perf_counter() - t0)
        return cat

    def run(self) -> dict[str, int]:
        cat = self.setup()
        feed = self.path("feed")
        os.makedirs(feed, exist_ok=True)
        version = 1
        inc = None
        try:
            for i in self.steps():
                if inc is not None:
                    shutil.rmtree(inc.store.root, ignore_errors=True)
                store = ParquetStateStore(self.spark, self.path(f"state{i}"))
                self.trace_store(store)
                inc = IncrementalEngine(
                    ViewEngine(cat, view_set_v(version), id_cols=V_ID_COLS),
                    store)
                _, dt = self.op("incremental.resync_all", inc.resync_all)
                self.s.resync_all.append(dt)
                version += 1
                inc = IncrementalEngine(
                    ViewEngine(cat, view_set_v(version), id_cols=V_ID_COLS),
                    store)
                sm = StreamingMaintainer(inc, feed, self.path(f"ckpt{i}"))
                drains = traced_drains(self.tr, sm)
                _, dt = self.op("maintainer.run_with_resync",
                                sm.run_with_resync, chunks=UPGRADE_CHUNKS)
                self.s.op.append(dt)
                self.s.changes += len(self.tables["lineitem"])
                ends = [e for _, e in drains]
                self.s.live_gap.append(
                    max(b - a for a, b in zip(ends, ends[1:])))
        except OpFailed:
            pass
        if inc is None:
            return {}
        self.layer["incremental.state_bytes"] = tree_bytes(inc.store.root)
        self.mapreduce_compute(inc.engine, V_TARGETS)
        return self.gate_views(inc, self.v_expected(self.tables["orders"]))


def traced_drains(tr, sm: StreamingMaintainer) -> list[tuple[float, float]]:
    """Route the maintainer's drains and micro-batches through spans; return
    the list that collects each drain's (start, end)."""
    drains: list[tuple[float, float]] = []
    drain, batch = sm.run_available, sm._apply

    def run_available():
        t0 = time.perf_counter()
        with tr.span("maintainer.drain"):
            drain()
        drains.append((t0, time.perf_counter()))

    def apply(df, batch_id):
        with tr.span("maintainer.batch"):
            batch(df, batch_id)

    sm.run_available = run_available
    sm._apply = apply
    tr.wrap(sm.inc, "apply_changes", "incremental.apply_changes")
    return drains


class StoreCatalog(Catalog):
    """Catalog over a live ResourceStore: sources resolve to the store's
    current snapshot each time the engine asks."""

    def __init__(self, spark, rstore: ResourceStore, types):
        super().__init__(spark)
        self.rstore = rstore
        self.types = set(types)

    def get(self, name):
        if name in self.types:
            return self.rstore.table(name)
        return super().get(name)


class CrudLoop(Workload):
    """ResourceStore CRUD → notification feed → StreamingMaintainer →
    revenue view, then reads of the view, the source and one resource."""

    FIELDS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    #: the first step runs CRUD, drain and probe paths set-up did not and
    #: pays their JIT and codegen cost (~1.6x a warm step). Over three sets
    #: of ten seeds the warm step's quartile spread was 0.13, 0.11 and 0.19
    #: (the last on a host with 2-16% CPU steal); the first step's was 0.17,
    #: 0.06 and 0.28
    warmup = 1

    def setup(self):
        orders = self.tables["orders"]
        src = self.path("src", "orders.parquet")
        last = None
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            rs = ResourceStore(self.spark, self.path(f"store{r}"),
                               feed_dir=self.path(f"feed{r}"))
            with self.tr.span("catalog.load"):
                df = self.spark.read.schema(ORDERS_SCHEMA).parquet(src)
            self.op("resource_store.backfill", rs.backfill, "orders", df,
                    id_col="o_orderkey")
            cat = StoreCatalog(self.spark, rs, {"orders"})
            inc = IncrementalEngine(
                ViewEngine(cat, revenue_view(), id_cols={"orders": "id"}),
                ParquetStateStore(self.spark, self.path(f"state{r}")))
            _, dt = self.op("incremental.resync_all", inc.resync_all)
            self.s.resync_all.append(dt)
            self.s.setup.append(self.boot_s + time.perf_counter() - t0)
            if last is not None:
                for d in (last[0].root, last[0].feed_dir, last[1].store.root):
                    shutil.rmtree(d, ignore_errors=True)
            last = (rs, inc, r)
        rs, inc, r = last
        sm = StreamingMaintainer(inc, rs.feed_dir, self.path(f"ckpt{r}"))
        model = orders.assign(id=orders["o_orderkey"].astype(str))
        model = model.set_index("id")[list(self.FIELDS)]
        model["revision"] = None
        return rs, inc, sm, model

    def doc(self) -> dict:
        o = data.make_orders(self.rng, 1, self.args.customers).iloc[0]
        return {f: (o[f].item() if hasattr(o[f], "item") else o[f])
                for f in self.FIELDS}

    def crud(self, rs: ResourceStore, model: pd.DataFrame):
        """The step's writes; returns (model', keys whose revenue changed)."""
        docs = [self.doc() for _ in range(CRUD_CREATES)]
        ids, _ = self.op("resource_store.create_many", rs.create_many,
                         "orders", docs)
        new = pd.DataFrame(docs, index=ids)
        new["revision"] = None
        model = pd.concat([model, new])
        pick = self.rng.choice(model.index.to_numpy(),
                               CRUD_UPDATES + CRUD_DELETES, replace=False)
        keys = {d["o_custkey"] for d in docs}
        for rid in pick[:CRUD_UPDATES]:
            cur, _ = self.op("resource_store.get", rs.get, "orders", rid)
            doc = self.doc()
            rev, _ = self.op("resource_store.update", rs.update, "orders",
                             rid, doc, revision=cur["revision"])
            keys |= {int(cur["o_custkey"]), doc["o_custkey"]}
            model.loc[rid, list(self.FIELDS)] = [doc[f] for f in self.FIELDS]
            model.loc[rid, "revision"] = rev
        dele = [str(x) for x in pick[CRUD_UPDATES:]]
        keys |= set(model.loc[dele, "o_custkey"].astype(int))
        self.op("resource_store.delete_many", rs.delete_many, "orders", dele)
        model = model.drop(index=dele)
        self.s.changes += CRUD_CREATES + CRUD_UPDATES + CRUD_DELETES
        return model, pick[0], keys

    def visible(self, inc, model: pd.DataFrame, keys) -> None:
        """Read the revenue rows of every key the step changed and require
        the values the client's model predicts."""
        want = {f"Cust#{k}" for k in keys}
        rows, _ = self.op("query.probe", lambda: inc.read("revenue").filter(
            F.col("_mr_key").isin(sorted(want))).collect())
        got = {r["_mr_key"]: (r["revenue"], r["n"]) for r in rows}
        live = model[model["o_custkey"].isin(keys)]
        exp = live.groupby("o_custkey")["o_totalprice"].agg(["sum", "count"])
        for k, row in exp.iterrows():
            rev, n = got.pop(f"Cust#{k}", (None, None))
            if n != row["count"] or abs(rev - row["sum"]) > 1e-6 * max(
                    1.0, abs(row["sum"])):
                self.s.failed += 1
                raise OpFailed(f"view stale for Cust#{k}")
        if got:   # keys that should have vanished
            self.s.failed += 1
            raise OpFailed(f"view keeps emptied keys {sorted(got)}")

    def reads(self, inc, rs: ResourceStore, model: pd.DataFrame,
              updated: str) -> None:
        """The fixed read set: a case-insensitive search with sort and limit
        on the revenue view and on the orders collection, then get() of a
        just-updated resource, which must return its new revision. One read
        sample is the wall time of the set."""
        shapes = (("view", inc.read("revenue"),
                   dict(_mr_key__startswith="cust#1", sort=("-revenue",),
                        limit=10, show_all=True)),
                  ("source", rs.table("orders"),
                   dict(o_orderpriority="1-urgent", sort=("-o_totalprice",),
                        limit=10, show=("o_totalprice",), id_col="id")))
        total = 0.0
        for shape, df, kw in shapes:
            rows, dt = self.op(f"query.search.{shape}",
                               lambda: search(df, **kw).collect())
            total += dt
            self.tr.count(f"query.rows_returned.{shape}", len(rows))
        doc, dt = self.op("resource_store.get", rs.get, "orders", updated)
        if doc is None or doc["revision"] != model.loc[updated, "revision"]:
            self.s.failed += 1
            raise OpFailed(f"get() of {updated} misses its revision")
        self.s.read.append(total + dt)

    def run(self) -> dict[str, int]:
        rs, inc, sm, model = self.setup()
        self.trace_store(inc.store)
        traced_drains(self.tr, sm)
        feed_files = len(os.listdir(rs.feed_dir))
        store_probe = WriteProbe(rs.root, self.tr.enabled)
        view_probe = WriteProbe(inc.store.root, self.tr.enabled)
        wrap_store(self.tr, rs, store_probe)
        try:
            for _ in self.steps():
                t0 = time.perf_counter()
                model, updated, keys = self.crud(rs, model)
                n_files = len(os.listdir(rs.feed_dir))
                self.tr.count("resource_store.feed_files_per_step",
                              n_files - feed_files)
                feed_files = n_files
                view_probe.start()
                self.op("maintainer.run_available", sm.run_available)
                rows_w, bytes_w = view_probe.stop()
                n = CRUD_CREATES + CRUD_UPDATES + CRUD_DELETES
                self.tr.count("incremental.rows_written_per_change",
                              rows_w / n)
                self.tr.count("incremental.bytes_written_per_change",
                              bytes_w / n)
                self.visible(inc, model, keys)
                self.s.op.append(time.perf_counter() - t0)
                self.reads(inc, rs, model, updated)
        except OpFailed:
            pass
        self.layer["incremental.state_bytes"] = tree_bytes(inc.store.root)
        self.mapreduce_compute(inc.engine, REVENUE_TARGETS)
        bad = self.gate_views(inc, gate.recompute(
            {"revenue": gate.REVENUE_SQL}, {"orders": model}))
        bad["orders"] = self.check_store(rs, model)
        return bad

    def check_store(self, rs: ResourceStore, model: pd.DataFrame) -> int:
        """The store holds exactly the model's resources, and get() returns
        each updated resource's latest revision."""
        got = rs.table("orders").toPandas().set_index("id")
        bad = len(set(got.index) ^ set(model.index))
        common = model.index.intersection(got.index)
        for f in self.FIELDS:
            bad += int((got.loc[common, f].to_numpy()
                        != model.loc[common, f].to_numpy()).sum())
        known = model[model["revision"].notna()]
        for rid, rev in known["revision"].items():
            doc = rs.get("orders", rid)
            bad += doc is None or doc["revision"] != rev
        return int(bad)


def wrap_store(tr, rs: ResourceStore, probe: WriteProbe) -> None:
    """Traced run: spans around the store's writes plus the rows and bytes
    each call committed."""
    if not tr.enabled:
        return
    for method in ("create_many", "update", "delete_many"):
        inner = getattr(rs, method)

        def call(*a, _inner=inner, **kw):
            probe.start()
            out = _inner(*a, **kw)
            tr.count("resource_store.bytes_written_per_call", probe.stop()[1])
            return out

        setattr(rs, method, call)


WORKLOADS = {"ivm_trickle": IvmTrickle, "resync_upgrade": ResyncUpgrade,
             "crud_loop": CrudLoop}
