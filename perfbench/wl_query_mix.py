"""query_mix: one pass over a fixed set of served queries, fresh session.

Setup writes the ten fixture tables at ``SF`` from the seed and warms the
JVM up on a scan + aggregate that is not in the mix, so no timed entry
is pre-warmed and session caches (the LSH family build, for one) are
paid inside the timed pass.  Each query runs into the noop sink, the
way ``bench.py`` times the full surface.  Afterwards each result is
compared with the query's ``oracle_sql()`` run by DuckDB over the same
files, using ``scripts/driver_sim.py``'s comparison.
"""

from __future__ import annotations

import importlib.util
import os

from datagen import write_sf_tables

SF = 0.01
# group -> queries; sql and llm entries are read ops, streaming and lake
# entries (replays and table round-trips that commit) are write ops
MIX = {
    "sql": [
        "q3_top_unshipped_orders",
        "approx_quantiles_lineitem",
        "session_windows_events",
    ],
    "llm": [
        "near_dup_clusters_documents",
        "bm25_scores_documents",
        "lang_id_documents",
    ],
    "streaming": ["streaming_upsert_replay_events"],
    "lake": ["cdc_apply_schema_evolution_orders"],
}
WRITE_GROUPS = ("streaming", "lake")


def _load(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def setup(ctx) -> dict:
    sf_dir = os.path.join(ctx.inputs, "sf")
    ctx.input_bytes = write_sf_tables(ctx.seed, SF, sf_dir)
    entry = _load(os.path.join(ctx.root, "__spark_entry__.py"), "__spark_entry__")
    queries = entry.queries()
    # warm-up outside the mix: scan + aggregate over the largest table
    (
        ctx.spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg({"l_extendedprice": "sum", "l_quantity": "avg"})
        .write.format("noop").mode("overwrite").save()
    )
    return {
        "sf_dir": sf_dir,
        "queries": {n: queries[n] for names in MIX.values() for n in names},
        "oracles": entry.oracle_sql(),
        "results": {},
    }


def instrument(ctx) -> None:
    pass  # each query runs inside its plans.<group> span in timed()


def timed(ctx, state) -> None:
    spark, sf_dir = ctx.spark, state["sf_dir"]

    def run(fn):
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    for group, names in MIX.items():
        kind = "write" if group in WRITE_GROUPS else "read"
        for name in names:
            with ctx.tracer.span(f"plans.{group}"):
                state["results"][name] = ctx.op(kind, run, state["queries"][name])


def live_files(ctx, state) -> set[str]:
    state["residue_dirs"] = 0
    return set()  # the mix keeps no lake: replays clean their scratch up


def check(ctx, state) -> list[str]:
    import duckdb

    sim = _load(os.path.join(ctx.root, "scripts", "driver_sim.py"), "driver_sim")
    con = duckdb.connect()
    for t in sim.TABLES:
        path = os.path.join(state["sf_dir"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failures = []
    for name in (n for names in MIX.values() for n in names):
        df = state["results"].get(name)
        if df is None:
            failures.append(f"{name}: no result (the query raised)")
            continue
        got = sim.norm(df.toPandas())
        want = sim.norm(con.execute(state["oracles"][name]).df())
        diff = sim.frames_match(got, want)
        if diff:
            failures.append(f"{name}: {diff}")
    con.close()
    return failures
