"""Golden tests for the NeoWs bronze->silver->gold pipeline
(SURVEY.md §1.3-1.4 schemas, FIXTURES.md §B edge cases)."""

import hashlib
import os
import threading
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable
from nasa_asteroid_data_lakehouse_spark.operators.merge import save_or_update_table
from nasa_asteroid_data_lakehouse_spark.pipeline import gold
from nasa_asteroid_data_lakehouse_spark.pipeline.gold import (
    GOLD_TABLES,
    build_dim_approach_date,
    build_dim_asteroid,
    build_dim_orbiting_body,
    build_fact,
    build_gold,
)
from nasa_asteroid_data_lakehouse_spark.pipeline.runner import run_pipeline
from nasa_asteroid_data_lakehouse_spark.pipeline.silver import (
    SILVER_COLUMNS,
    build_silver,
)
from nasa_asteroid_data_lakehouse_spark.pipeline.bronze import ingest_document
from tests.fixtures_neows import DAY1, DAY2, DOC_DAY1, DOC_DAY2


@pytest.fixture(scope="module")
def silver_day1(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    path = ingest_document(root, DAY1, DOC_DAY1)
    return build_silver(spark, path, dates=[DAY1]).cache()


def sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def test_silver_schema_27_typed_columns(silver_day1):
    assert silver_day1.columns == SILVER_COLUMNS
    dtypes = dict(silver_day1.dtypes)
    assert dtypes["id"] == "int"
    assert dtypes["absolute_magnitude_h"] == "double"
    assert dtypes["is_hazardous"] == "boolean"
    assert dtypes["velocity_km_s"] == "double"  # JSON string -> typed
    assert dtypes["miss_km"] == "double"
    assert dtypes["approach_date"] == "string"
    # the reference's all-strings bug must NOT reproduce
    assert sum(1 for _, t in silver_day1.dtypes if t == "string") == 6


def test_silver_double_explode_fanout(silver_day1):
    # 2 NEOs, one with 2 approaches -> 3 silver rows
    assert silver_day1.count() == 3
    pk9 = silver_day1.where(F.col("id") == 3542519)
    assert pk9.count() == 2
    assert {r["orbiting_body"] for r in pk9.collect()} == {"Earth", "Moon"}


def test_silver_placeholder_normalization(silver_day1):
    apophis = silver_day1.where(F.col("id") == 2099942).collect()[0]
    assert apophis["nasa_jpl_url"] is None  # "NULL" -> null
    assert apophis["velocity_km_s"] == 13.08


def test_dim_approach_date_golden(silver_day1):
    dim = build_dim_approach_date(silver_day1)
    rows = {r["approach_date_full"]: r for r in dim.collect()}
    assert len(rows) == 3
    r = rows["2025-Dec-28 05:12"]
    assert (r["year"], r["month"], r["day"], r["hour"], r["minute"]) == (2025, 12, 28, 5, 12)
    assert r["week_of_year"] == 52
    assert r["sk_approach_date"] == sha("2025-Dec-28 05:12")
    assert str(r["approach_date"]) == "2025-12-28"


def test_dim_orbiting_body_golden(silver_day1):
    dim = build_dim_orbiting_body(silver_day1)
    rows = {r["orbiting_body"]: r["sk_orbiting_body"] for r in dim.collect()}
    assert rows == {"Earth": sha("Earth"), "Moon": sha("Moon")}


def test_dim_asteroid_golden(silver_day1):
    dim = build_dim_asteroid(silver_day1)
    assert dim.count() == 2  # PK9 deduped to one row
    assert len(dim.columns) == 17  # 16 descriptive + sk
    r = {x["id"]: x for x in dim.collect()}[3542519]
    assert r["sk_asteroid"] == sha("3542519")
    assert r["diam_max_km"] == 0.23


def test_fact_golden(silver_day1):
    fact = build_fact(silver_day1)
    assert fact.count() == 3  # grain: one row per approach
    assert dict(fact.dtypes)["approach_epoch"] == "bigint"
    r = fact.where(F.col("sk_orbiting_body") == sha("Moon")).collect()[0]
    assert r["sk_asteroid"] == sha("3542519")
    assert r["velocity_km_h"] == 47087.38
    assert r["miss_lunar"] == 13.01


def test_fact_dims_join_on_sks(silver_day1):
    fact = build_fact(silver_day1)
    dim_a = build_dim_asteroid(silver_day1)
    dim_d = build_dim_approach_date(silver_day1)
    dim_b = build_dim_orbiting_body(silver_day1)
    joined = (
        fact.join(dim_a, "sk_asteroid")
        .join(dim_d, "sk_approach_date")
        .join(dim_b, "sk_orbiting_body")
    )
    assert joined.count() == 3  # no orphan keys in either direction


def test_full_pipeline_two_days_idempotent(spark, tmp_path):
    """Two daily runs + a rerun: gold upserts stay key-unique and the
    latest observation wins for the duplicated asteroid."""
    root = str(tmp_path / "lake")
    run_pipeline(spark, root, DAY1, DOC_DAY1)
    tables = run_pipeline(spark, root, DAY2, DOC_DAY2)

    dim_asteroid = spark.read.parquet(tables["dim_asteroid"])
    assert dim_asteroid.count() == 3  # 3542519, 2099942, 54016476
    pk9 = dim_asteroid.where(F.col("id") == 3542519).collect()[0]
    assert pk9["absolute_magnitude_h"] == 21.90  # day-2 observation won

    # 3 day-1 approaches + 2 day-2 approaches, all distinct (asteroid, ts)
    fact = spark.read.parquet(tables["fact_asteroid_approach"])
    assert fact.count() == 5
    dim_dates = spark.read.parquet(tables["dim_approach_date"])
    assert dim_dates.count() == 5
    # year-boundary ISO week
    nye = dim_dates.where(F.col("approach_date_full") == "2025-Dec-31 23:59").collect()[0]
    assert nye["week_of_year"] == 1

    # rerun day 2: fully idempotent
    tables2 = run_pipeline(spark, root, DAY2, DOC_DAY2)
    assert spark.read.parquet(tables2["fact_asteroid_approach"]).count() == 5
    dim_asteroid2 = spark.read.parquet(tables2["dim_asteroid"])
    assert dim_asteroid2.count() == 3
    empty_name = dim_asteroid2.where(F.col("id") == 54016476).collect()[0]
    assert empty_name["name"] is None  # "" -> null survived the merge


# --- concurrent gold merges ------------------------------------------------------


DAYS = [(DAY1, DOC_DAY1), (DAY2, DOC_DAY2), (DAY2, DOC_DAY2)]  # day 2 twice: a rerun


def _silver_for(spark, root, day, doc):
    return build_silver(spark, ingest_document(root, day, doc), dates=[day])


def _serial_gold(spark, silver, lake_root, table_format):
    """Reference: the four gold tables built and merged one after another."""
    for name, (builder, keys) in GOLD_TABLES.items():
        path = f"{lake_root}/gold/{name}"
        df = builder(silver)
        if table_format == "versioned":
            table = VersionedTable(spark, path)
            if table.latest_version() is None:
                table.create(df, keys=keys)
            else:
                table.upsert(df)
        else:
            save_or_update_table(spark, df, path, keys)


def _read_gold(spark, path, table_format):
    if table_format == "versioned":
        return VersionedTable(spark, path).read()
    return spark.read.parquet(path)


@pytest.mark.parametrize("table_format", ["parquet", "versioned"])
def test_concurrent_gold_matches_serial_reference(spark, tmp_path, table_format):
    """The concurrent build_gold leaves the same gold, row for row, as a
    serial build after every day: day 1, day 2 and a rerun of day 2."""
    bronze, concurrent, serial = (str(tmp_path / d) for d in ("bronze", "concurrent", "serial"))
    for day, doc in DAYS:
        silver = _silver_for(spark, bronze, day, doc)
        paths = build_gold(spark, silver, concurrent, table_format=table_format)
        _serial_gold(spark, silver, serial, table_format)
        assert list(paths) == list(GOLD_TABLES)
        for name, path in paths.items():
            got = _read_gold(spark, path, table_format)
            want = _read_gold(spark, f"{serial}/gold/{name}", table_format)
            assert sorted(got.dtypes) == sorted(want.dtypes), name
            cols = sorted(got.columns)
            got_rows = Counter(tuple(r) for r in got.select(cols).collect())
            want_rows = Counter(tuple(r) for r in want.select(cols).collect())
            assert got_rows == want_rows, (day, name)


def test_gold_failure_reraised_after_other_tables_finish(spark, tmp_path, monkeypatch):
    """One table's merge fails inside its staged write.  build_gold waits
    for the other three, which commit, then re-raises the failure; the
    failed table keeps its previous content and no swap dir is left."""
    root = str(tmp_path / "lake")
    build_gold(spark, _silver_for(spark, root, DAY1, DOC_DAY1), root)
    before = spark.read.parquet(f"{root}/gold/dim_orbiting_body").count()

    real_merge = gold.save_or_update_table
    failed = threading.Event()
    finished = []

    def flaky_merge(spark_, df, path, keys):
        name = os.path.basename(path)
        if name == "dim_orbiting_body":
            try:
                boom = F.raise_error(F.lit("injected merge failure")).cast("string")
                real_merge(spark_, df.withColumn("boom", boom), path, keys)
            finally:
                failed.set()
        else:
            # the other tables finish only after the failure has happened
            assert failed.wait(timeout=120)
            real_merge(spark_, df, path, keys)
            finished.append(name)

    monkeypatch.setattr(gold, "save_or_update_table", flaky_merge)
    with pytest.raises(Exception, match="injected merge failure"):
        build_gold(spark, _silver_for(spark, root, DAY2, DOC_DAY2), root)

    assert sorted(finished) == ["dim_approach_date", "dim_asteroid", "fact_asteroid_approach"]
    leftovers = [d for d in os.listdir(f"{root}/gold") if "__staging_" in d or "__old_" in d]
    assert leftovers == []
    assert spark.read.parquet(f"{root}/gold/dim_orbiting_body").count() == before
    # the finished tables hold day 2 merged over day 1
    assert spark.read.parquet(f"{root}/gold/fact_asteroid_approach").count() == 5
    assert spark.read.parquet(f"{root}/gold/dim_asteroid").count() == 3


def test_daily_run_jobs_carry_callers_job_group(spark, tmp_path, monkeypatch):
    """A daily run over existing gold submits 16 Spark jobs, all under
    the caller's job group: the gold merges' worker threads inherit it,
    and the silver re-read runs no schema-inference job.  Each worker
    holds its own copy of the properties: a description one merge sets
    does not leak into the others."""
    root = str(tmp_path / "lake")
    run_pipeline(spark, root, DAY1, DOC_DAY1)
    sc = spark.sparkContext
    real_merge = gold.save_or_update_table
    seen = {}

    def labelled_merge(spark_, df, path, keys):
        name = os.path.basename(path)
        sc.setLocalProperty("spark.job.description", name)
        real_merge(spark_, df, path, keys)
        seen[name] = (sc.getLocalProperty("spark.jobGroup.id"),
                      sc.getLocalProperty("spark.job.description"))

    monkeypatch.setattr(gold, "save_or_update_table", labelled_merge)
    group = f"daily-run-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "one daily run")
    try:
        run_pipeline(spark, root, DAY2, DOC_DAY2)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 16
    assert seen == {name: (group, name) for name in GOLD_TABLES}
