"""medallion_daily: the paper's daily bronze -> silver -> gold run, served.

Setup seeds the lake with one high-volume generated day through
``pipeline.runner.run_pipeline``.  The timed phase is consecutive days of
``run_pipeline`` at NeoWs-like volume (tens of NEOs a day, crossing a
year boundary), each followed by the serving read through
``catalog.Catalog``: ``SELECT *`` of each gold table into pandas, as the
reference dashboard does, plus one star-join aggregate.  Gold uses the
default plain-parquet merge.
"""

from __future__ import annotations

import os
import random

from neows_gen import GoldModel, NeowsGenerator, day_sequence, doc_bytes, sk

SEED_NEOS = 4_000
SEED_DAY = "2025-12-20"
FIRST_DAY = "2025-12-30"  # the timed days cross into 2026
DAY_NEOS = (20, 80)
SECONDS_PER_DAY = 5.0
GOLD = ("dim_asteroid", "dim_approach_date", "dim_orbiting_body", "fact_asteroid_approach")
STAR_JOIN = """
SELECT b.orbiting_body, d.year, d.month, a.is_hazardous,
       COUNT(*) AS approaches, AVG(f.velocity_km_s) AS mean_km_s,
       MIN(f.miss_au) AS closest_au
FROM fact_asteroid_approach f
JOIN dim_asteroid a ON f.sk_asteroid = a.sk_asteroid
JOIN dim_approach_date d ON f.sk_approach_date = d.sk_approach_date
LEFT JOIN dim_orbiting_body b ON f.sk_orbiting_body = b.sk_orbiting_body
GROUP BY b.orbiting_body, d.year, d.month, a.is_hazardous
"""


def _runner():
    from nasa_asteroid_data_lakehouse_spark.pipeline import runner

    return runner


def setup(ctx) -> dict:
    runner = _runner()
    gen = NeowsGenerator(ctx.seed)
    model = GoldModel()
    doc = gen.day(SEED_DAY, SEED_NEOS)
    model.apply(doc)
    runner.run_pipeline(ctx.spark, ctx.lake, SEED_DAY, doc)
    from nasa_asteroid_data_lakehouse_spark.catalog import Catalog

    catalog = Catalog(ctx.spark, ctx.lake)
    _serve(ctx, catalog)  # warm-up: the dashboard has served before
    rng = random.Random(ctx.seed)
    n_days = max(2, round(ctx.seconds / SECONDS_PER_DAY))
    days = [(d, gen.day(d, rng.randint(*DAY_NEOS))) for d in day_sequence(FIRST_DAY, n_days)]
    return {"model": model, "days": days, "catalog": catalog, "incoming_rows": 0,
            "rewritten_rows": 0}


def instrument(ctx) -> None:
    from nasa_asteroid_data_lakehouse_spark.pipeline import gold

    runner = _runner()
    t = ctx.tracer
    t.wrap(runner, "run_pipeline", "pipeline.runner")
    t.wrap(runner, "ingest_document", "pipeline.bronze")
    t.wrap(runner, "build_silver", "pipeline.silver")
    t.wrap(runner, "write_silver", "pipeline.silver")
    t.wrap(runner, "build_gold", "pipeline.gold")
    t.wrap(gold, "save_or_update_table", "operators.merge")


def _serve(ctx, catalog) -> None:
    """One serving read: every gold table into pandas, then the star join."""
    for name in GOLD:
        catalog.register(name, os.path.join(ctx.lake, "gold", name))
    for name in GOLD:
        with ctx.tracer.span("catalog"):
            catalog.table(name).toPandas()
    with ctx.tracer.span("catalog"):
        catalog.create_views(GOLD)
        catalog.sql(STAR_JOIN).toPandas()


def timed(ctx, state) -> None:
    runner = _runner()
    catalog = state["catalog"]
    for day, doc in state["days"]:
        state["model"].apply(doc)
        ctx.input_bytes += len(doc_bytes(doc))
        ctx.op("write", runner.run_pipeline, ctx.spark, ctx.lake, day, doc)
        ctx.op("read", _serve, ctx, catalog)
        if ctx.tracer.enabled:
            # the plain-parquet merge rewrites each gold table whole
            state["incoming_rows"] += _incoming_rows(doc)
            state["rewritten_rows"] += sum(state["model"].counts().values())
    if state["incoming_rows"]:
        state["rewrite_ratio"] = state["rewritten_rows"] / state["incoming_rows"]


def _incoming_rows(doc: dict) -> int:
    one_day = GoldModel()
    one_day.apply(doc)
    return sum(one_day.counts().values())


def live_files(ctx, state) -> set[str]:
    """Data files of bronze, silver and the four gold tables."""
    from metrics import residue_dirs

    state["residue_dirs"] = residue_dirs(ctx.lake)
    live = set()
    for dirpath, _dirs, files in os.walk(ctx.lake):
        if "__staging_" in dirpath or "__old_" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet") or f.endswith(".json"):
                live.add(os.path.relpath(os.path.join(dirpath, f), ctx.lake))
    return live


def check(ctx, state) -> list[str]:
    """Gold equals the generator's model: row counts, the latest
    survivor per asteroid, and surrogate keys on a sample."""
    model = state["model"]
    read = {n: ctx.spark.read.parquet(os.path.join(ctx.lake, "gold", n)).toPandas() for n in GOLD}
    failures = []
    for name, expected in model.counts().items():
        if len(read[name]) != expected:
            failures.append(f"{name}: {len(read[name])} rows, model has {expected}")
    dim = read["dim_asteroid"].set_index("id")
    for neo_id, row in model.asteroids.items():
        if neo_id not in dim.index:
            failures.append(f"dim_asteroid: id {neo_id} missing")
            break
        got = dim.loc[neo_id]
        for col, want in row.items():
            have = got[col]
            if (want is None) != (have is None) or (want is not None and have != want):
                failures.append(f"dim_asteroid id {neo_id} {col}: {have!r} != {want!r}")
                break
        if len(failures) > 20:
            break
    rng = random.Random(ctx.seed)
    for neo_id in rng.sample(sorted(model.asteroids), min(200, len(model.asteroids))):
        if dim.loc[neo_id, "sk_asteroid"] != sk(neo_id):
            failures.append(f"dim_asteroid id {neo_id}: sk_asteroid is not sha2-256(id)")
            break
    fact = read["fact_asteroid_approach"].set_index(["sk_asteroid", "sk_approach_date"])
    for key in rng.sample(sorted(model.facts), min(200, len(model.facts))):
        want = model.facts[key]
        fkey = (sk(key[0]), sk(key[1]))
        if fkey not in fact.index:
            failures.append(f"fact: approach {key} missing")
            break
        got = fact.loc[fkey]
        if (
            got["approach_epoch"] != want["approach_epoch"]
            or got["velocity_km_s"] != want["velocity_km_s"]
            or got["sk_orbiting_body"] != want["sk_orbiting_body"]
        ):
            failures.append(f"fact: approach {key} differs from the model")
            break
    dates = read["dim_approach_date"]
    bad = dates[dates["sk_approach_date"] != dates["approach_date_full"].map(sk)]
    if len(bad):
        failures.append(f"dim_approach_date: {len(bad)} sk_approach_date are not sha2-256")
    if set(read["dim_orbiting_body"]["orbiting_body"]) != model.bodies:
        failures.append("dim_orbiting_body differs from the model")
    return failures
