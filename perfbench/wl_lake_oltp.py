"""lake_oltp: writes beside reads on one ``lake.VersionedTable``.

Setup generates lineitem (``LINEITEM_ORDERS`` orders, 1-7 lines each,
keys ``l_orderkey, l_linenumber``), creates the table from it and runs
each op shape once untimed.  The timed phase is a closed loop over a
fixed op sequence whose keys and values come from the seed.  Each cycle
is:

* an upsert, batch sizes alternating between ``BATCH_SIZES``, keys
  skewed toward recent orders, some of them new orders;
* snapshot reads: point reads and an aggregate;
* ``DELETES_PER_CYCLE`` ``delete_keys`` batches that repeat ids within
  the batch and name keys already deleted;
* ``compact()`` + ``vacuum()`` after every ``MAINT_EVERY`` commits.

After the last cycle come a time-travel count and ``changes()`` over the
last few versions.  Deletes are most of the writes, so the median write
is always a delete.

The whole op sequence and its expected results come from a key -> row
model built in setup, before anything is timed; the check compares the
final snapshot, every read and every ``changes()`` count with it.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import lineitem_frame

LINEITEM_ORDERS = 50_000
KEYS = ["l_orderkey", "l_linenumber"]
BATCH_SIZES = (8, 4096)
DELETE_KEYS = 24
DELETES_PER_CYCLE = 8
POINT_READS_PER_CYCLE = 3
MAINT_EVERY = 18
WARM_DELETES = 2
WARM_READS = 6
KEEP_LAST = 4
CHANGES_SPAN = 2
SECONDS_PER_CYCLE = 7.0
AGG_COLS = ["l_returnflag", "l_linestatus"]


def _key(df: pd.DataFrame) -> pd.Index:
    return pd.Index(df["l_orderkey"].to_numpy() * 8 + df["l_linenumber"].to_numpy())


def _agg(df: pd.DataFrame) -> dict:
    g = df.groupby(AGG_COLS).agg(n=("l_quantity", "size"), qty=("l_quantity", "sum"))
    return {k: (int(r.n), round(float(r.qty), 6)) for k, r in g.iterrows()}


class Model:
    """Key -> row state of the table, with per-version change sets."""

    PAYLOAD = ["l_quantity", "l_extendedprice"]

    def __init__(self, df: pd.DataFrame):
        self.rows = df.set_index(_key(df))
        self.version = 0
        self.counts = {0: len(self.rows)}
        # version -> {key: (payload before or None, payload after or None)}
        self.deltas: dict[int, dict] = {}

    def upsert(self, batch: pd.DataFrame) -> None:
        batch = batch.set_index(_key(batch))
        present = batch.index.isin(self.rows.index)
        old = self.rows.reindex(batch.index)[self.PAYLOAD].to_numpy()
        new = batch[self.PAYLOAD].to_numpy()
        self.rows = pd.concat([self.rows.drop(batch.index[present]), batch])
        self._commit({
            k: (tuple(o) if p else None, tuple(n))
            for k, o, n, p in zip(batch.index, old, new, present)
        })

    def delete(self, keys: pd.Index) -> None:
        present = self.rows.index.intersection(keys.unique())
        gone = self.rows.loc[present, self.PAYLOAD].to_numpy()
        self.rows = self.rows.drop(present)
        self._commit({k: (tuple(o), None) for k, o in zip(present, gone)})

    def no_data_change(self) -> None:
        self._commit({})

    def _commit(self, delta: dict) -> None:
        self.version += 1
        self.deltas[self.version] = delta
        self.counts[self.version] = len(self.rows)

    def changes(self, lo: int, hi: int) -> dict[str, int]:
        """Net change types between snapshots ``lo`` and ``hi``."""
        first: dict = {}
        last: dict = {}
        for v in range(lo + 1, hi + 1):
            for k, (before, after) in self.deltas[v].items():
                first.setdefault(k, before)
                last[k] = after
        out = {"insert": 0, "update_postimage": 0, "delete": 0}
        for k, after in last.items():
            before = first[k]
            if before is None and after is not None:
                out["insert"] += 1
            elif before is not None and after is None:
                out["delete"] += 1
            elif before is not None and before != after:
                out["update_postimage"] += 1
        return out


def _write_input(ctx, name: str, df: pd.DataFrame) -> str:
    path = os.path.join(ctx.inputs, f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def _plan(ctx, base: pd.DataFrame, model: Model) -> list[tuple]:
    """The op sequence with each op's expected result.  Every run makes
    the same ops in the same order with the same batch sizes, so runs
    with different seeds do the same work; the seed picks keys and
    values."""
    rng = np.random.default_rng(ctx.seed)
    prng = random.Random(ctx.seed)
    n_cycles = max(1, round(ctx.seconds / SECONDS_PER_CYCLE))
    sizes = [BATCH_SIZES[i % len(BATCH_SIZES)] for i in range(n_cycles)]
    next_order = int(base["l_orderkey"].max()) + 1
    deleted: list[int] = []
    ops: list[tuple] = []
    commits = 0
    for size in sizes:
        live = model.rows.index.to_numpy()
        recent = live[live >= np.quantile(live, 0.9)]
        pick = rng.choice(recent if prng.random() < 0.8 else live, size, replace=False)
        batch = model.rows.loc[np.sort(pick)].reset_index(drop=True)
        n_new = size // 8
        new = base.iloc[:n_new].copy()
        new["l_orderkey"] = np.arange(next_order, next_order + n_new)
        new["l_linenumber"] = 1
        next_order += n_new
        # batches carry the table's column types: an int64 l_linenumber
        # would hash its keys into other buckets
        batch = pd.concat([batch, new], ignore_index=True).astype(base.dtypes.to_dict())
        batch["l_quantity"] = rng.integers(1, 51, len(batch)).astype("float64")
        batch["l_extendedprice"] = np.round(rng.uniform(900, 105000, len(batch)), 2)
        path = _write_input(ctx, f"upsert_{len(ops)}", batch)
        model.upsert(batch)
        ops.append(("upsert", path, {"version": model.version}))
        commits += 1
        # the reads come before the deletes, so each cycle's reads see a
        # table with the same number of files and no deletion vectors
        recent_keys = model.rows.index.to_numpy()[-2000:]
        for _ in range(POINT_READS_PER_CYCLE):
            k = int(prng.choice(recent_keys))
            ops.append(("read_point", (k // 8, k % 8), float(model.rows.loc[k, "l_quantity"])))
        ops.append(("read_agg", None, _agg(model.rows)))
        for _ in range(DELETES_PER_CYCLE):
            live = model.rows.index.to_numpy()
            victims = rng.choice(live, DELETE_KEYS, replace=False)
            # repeated ids within the batch, and ids an earlier batch deleted
            keys = np.concatenate([victims, victims[:6], np.array(deleted[-6:], dtype="int64")])
            deleted.extend(int(k) for k in victims)
            key_df = pd.DataFrame({"l_orderkey": keys // 8,
                                   "l_linenumber": (keys % 8).astype("int32")})
            path = _write_input(ctx, f"delete_{len(ops)}", key_df)
            model.delete(pd.Index(keys))
            ops.append(("delete_keys", path, {"version": model.version}))
            commits += 1
        if commits % MAINT_EVERY == 0:
            model.no_data_change()  # compact: a new version, same rows
            ops.append(("maint", None, {"version": model.version}))
    back = max(0, model.version - 2)
    ops.append(("read_as_of", back, model.counts[back]))
    lo = max(0, model.version - CHANGES_SPAN)
    ops.append(("changes", (lo, model.version), model.changes(lo, model.version)))
    return ops


def _warm_up(ctx, table, model: Model) -> None:
    """Run each op shape untimed, as a long-running client would have:
    an upsert that rewrites ``BATCH_SIZES[-1]`` rows with their own
    values, ``WARM_DELETES`` deletes of keys the table does not hold,
    compact + vacuum, and ``WARM_READS`` reads of each shape.  The model
    mirrors each commit (the deletes and the compaction as versions with
    no row changes).  The large upsert leaves most buckets written by an
    upsert, as all are when the second cycle reads, and the compaction
    purges the warm-up's deletion vectors, so both timed cycles read a
    table without any."""
    same = model.rows.iloc[:BATCH_SIZES[-1]].reset_index(drop=True)
    table.upsert(ctx.spark.read.parquet(_write_input(ctx, "warm_upsert", same)))
    model.upsert(same)
    for i in range(WARM_DELETES):
        absent = pd.DataFrame({"l_orderkey": [-1 - 2 * i, -2 - 2 * i],
                               "l_linenumber": np.array([1, 1], dtype="int32")})
        table.delete_keys(ctx.spark.read.parquet(_write_input(ctx, f"warm_delete_{i}", absent)))
        model.delete(_key(absent))
    if table.compact() != model.version:
        model.no_data_change()
    table.vacuum(keep_last=KEEP_LAST)
    for _ in range(WARM_READS):
        table.read().where("l_orderkey = 0").collect()
        table.read().groupBy(*AGG_COLS).count().collect()


def setup(ctx) -> dict:
    from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable

    base = lineitem_frame(ctx.seed, LINEITEM_ORDERS)
    src = _write_input(ctx, "lineitem", base)
    table = VersionedTable(ctx.spark, os.path.join(ctx.lake, "lineitem"))
    table.create(ctx.spark.read.parquet(src), keys=KEYS)
    model = Model(base)
    _warm_up(ctx, table, model)
    ops = _plan(ctx, base, model)
    return {"table": table, "model": model, "ops": ops, "results": [], "touched": []}


def instrument(ctx) -> None:
    from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable

    for m in ("upsert", "delete_keys", "compact", "vacuum"):
        ctx.tracer.wrap(VersionedTable, m, f"lake.table.{m}")


def _touched_ratio(table) -> float:
    m = table._load_manifest(table.latest_version())
    return len(m.get("touched_buckets") or []) / int(m["num_buckets"])


def timed(ctx, state) -> None:
    from pyspark.sql import functions as F

    spark, table, span = ctx.spark, state["table"], ctx.tracer.span
    results = state["results"]
    for kind, arg, _want in state["ops"]:
        if kind in ("upsert", "delete_keys"):
            batch = spark.read.parquet(arg)
            ctx.input_bytes += os.path.getsize(arg)
            results.append(ctx.op("write", getattr(table, kind), batch))
            if ctx.tracer.enabled:
                state["touched"].append(_touched_ratio(table))
        elif kind == "maint":
            results.append(ctx.op("maint", lambda: (table.compact(), table.vacuum(keep_last=KEEP_LAST))[0]))
        elif kind == "read_agg":
            with span("lake.table.read"):
                rows = ctx.op("read", lambda: table.read().groupBy(*AGG_COLS).agg(
                    F.count("*").alias("n"), F.sum("l_quantity").alias("qty")).collect())
            results.append(rows)
        elif kind == "read_point":
            o, ln = arg
            with span("lake.table.read"):
                results.append(ctx.op("read", lambda: table.read().where(
                    (F.col("l_orderkey") == o) & (F.col("l_linenumber") == ln)).collect()))
        elif kind == "read_as_of":
            with span("lake.table.read"):
                results.append(ctx.op("read", lambda: table.read(version=arg).count()))
        elif kind == "changes":
            lo, hi = arg
            with span("lake.table.changes"):
                results.append(ctx.op("read", lambda: table.changes(lo, hi).groupBy(
                    "_change_type").count().collect()))
    if state["touched"]:
        state["touched_bucket_ratio"] = sum(state["touched"]) / len(state["touched"])


def live_files(ctx, state) -> set[str]:
    """Files the live snapshot references (data plus deletion vectors)
    and its manifest."""
    from metrics import residue_dirs

    state["residue_dirs"] = residue_dirs(ctx.lake)
    table = state["table"]
    v = table.latest_version()
    m = table._load_manifest(v)
    files = [f for fs in m["buckets"].values() for f in fs]
    files += [f for fs in m.get("dvs", {}).values() for f in fs]
    files.append(table._manifest_path(v))
    return {os.path.relpath(f, ctx.lake) for f in files}


def check(ctx, state) -> list[str]:
    failures = []
    model, results = state["model"], state["results"]
    for (kind, arg, want), got in zip(state["ops"], results):
        if got is None:
            continue  # a failed op; counted in error_rate
        if kind in ("upsert", "delete_keys", "maint"):
            if got != want["version"]:
                failures.append(f"{kind}: committed version {got}, model expects {want['version']}")
        elif kind == "read_agg":
            have = {(r[AGG_COLS[0]], r[AGG_COLS[1]]): (int(r["n"]), round(float(r["qty"]), 6))
                    for r in got}
            if have != want:
                failures.append(f"read_agg: {have} != {want}")
        elif kind == "read_point":
            if len(got) != 1 or float(got[0]["l_quantity"]) != want:
                failures.append(f"read_point {arg}: {got} != quantity {want}")
        elif kind == "read_as_of":
            if got != want:
                failures.append(f"read version {arg}: {got} rows, model has {want}")
        elif kind == "changes":
            have = {"insert": 0, "update_postimage": 0, "delete": 0}
            have.update({r["_change_type"]: int(r["count"]) for r in got})
            if have != want:
                failures.append(f"changes{arg}: {have} != {want}")
    final = state["table"].read().toPandas()
    final = final.set_index(_key(final)).sort_index()
    expected = model.rows.sort_index()
    cols = list(expected.columns)
    if len(final) != len(expected) or not final.index.equals(expected.index):
        failures.append(f"final snapshot: {len(final)} rows, model has {len(expected)}")
    else:
        for c in cols:
            have, want = final[c].to_numpy(), expected[c].to_numpy()
            if have.dtype.kind == "M":
                have, want = have.astype("datetime64[us]"), want.astype("datetime64[us]")
            if not (have == want).all():
                failures.append(f"final snapshot: column {c} differs from the model")
    return failures
