"""Gold stage: star schema (3 dims + 1 fact) with content-derived SKs.

Schema parity with the reference gold builds (reference
``src/etl/silver_to_gold.py:51-148``): identical column names, types,
and sha2-256 surrogate keys, so gold outputs are byte-compatible on the
key columns.  Divergences (intentional, SURVEY.md §7):

* dims dedup on their business key (the reference's all-column
  ``dropDuplicates`` only works because its input is one day);
* upserts use the deterministic incoming-wins merge instead of
  arbitrary-survivor dropDuplicates;
* the four tables are merged concurrently (``build_gold``), since no
  table reads another.
"""

from __future__ import annotations

import functools
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from nasa_asteroid_data_lakehouse_spark.functions.dates import (
    NEOWS_TS_FORMAT,
    parse_neows_timestamp,
)
from nasa_asteroid_data_lakehouse_spark.functions.keys import surrogate_key
from nasa_asteroid_data_lakehouse_spark.operators.dedup import dedup_deterministic
from nasa_asteroid_data_lakehouse_spark.operators.merge import save_or_update_table

ASTEROID_DESCRIPTIVE = [
    "id",
    "neo_reference_id",
    "name",
    "absolute_magnitude_h",
    "is_hazardous",
    "is_sentry",
    "nasa_jpl_url",
    "link_self",
    "diam_min_feet",
    "diam_max_feet",
    "diam_min_km",
    "diam_max_km",
    "diam_min_m",
    "diam_max_m",
    "diam_min_mi",
    "diam_max_mi",
]


def build_dim_approach_date(silver: DataFrame) -> DataFrame:
    """Date dimension: calendar decomposition of the full approach ts."""
    base = (
        silver.select("approach_date_full")
        .na.drop()
        .distinct()
        .withColumn("parsed_ts", parse_neows_timestamp("approach_date_full", NEOWS_TS_FORMAT))
    )
    return base.select(
        "approach_date_full",
        "parsed_ts",
        F.to_date("parsed_ts").alias("approach_date"),
        F.year("parsed_ts").alias("year"),
        F.month("parsed_ts").alias("month"),
        F.dayofmonth("parsed_ts").alias("day"),
        F.hour("parsed_ts").alias("hour"),
        F.minute("parsed_ts").alias("minute"),
        F.weekofyear("parsed_ts").alias("week_of_year"),
        surrogate_key("approach_date_full").alias("sk_approach_date"),
    )


def build_dim_orbiting_body(silver: DataFrame) -> DataFrame:
    return (
        silver.select("orbiting_body")
        .na.drop()
        .distinct()
        .withColumn("sk_orbiting_body", surrogate_key("orbiting_body"))
    )


def build_dim_asteroid(silver: DataFrame) -> DataFrame:
    """Asteroid dimension: 16 descriptive columns, one row per id.

    Survivor = max approach_epoch (latest observation wins) — the
    deterministic refinement of the reference's arbitrary
    ``dropDuplicates(["id"])``.
    """
    deduped = dedup_deterministic(
        silver.select(*ASTEROID_DESCRIPTIVE, "approach_epoch"),
        ["id"],
        [F.desc_nulls_last("approach_epoch")],
    ).drop("approach_epoch")
    return deduped.withColumn("sk_asteroid", surrogate_key(F.col("id").cast("string")))


def build_fact(silver: DataFrame) -> DataFrame:
    """Fact grain: one row per (asteroid, approach ts). SKs recomputed
    from natural keys so fact and dims can be rebuilt independently."""
    return silver.select(
        surrogate_key(F.col("id").cast("string")).alias("sk_asteroid"),
        surrogate_key("approach_date_full").alias("sk_approach_date"),
        surrogate_key("orbiting_body").alias("sk_orbiting_body"),
        F.col("velocity_km_h").cast("double"),
        F.col("velocity_km_s").cast("double"),
        F.col("velocity_mi_h").cast("double"),
        F.col("miss_au").cast("double"),
        F.col("miss_km").cast("double"),
        F.col("miss_mi").cast("double"),
        F.col("miss_lunar").cast("double"),
        F.col("approach_epoch").cast("long"),
    )


GOLD_TABLES = {
    "dim_asteroid": (build_dim_asteroid, ["id"]),
    "dim_approach_date": (build_dim_approach_date, ["approach_date_full"]),
    "dim_orbiting_body": (build_dim_orbiting_body, ["orbiting_body"]),
    "fact_asteroid_approach": (build_fact, ["sk_asteroid", "sk_approach_date"]),
}


def _merge_gold_table(
    spark: SparkSession,
    silver: DataFrame,
    lake_root: str,
    table_format: str,
    name: str,
) -> str:
    """Build one gold table from ``silver`` and upsert it; returns its path."""
    builder, keys = GOLD_TABLES[name]
    path = f"{lake_root}/gold/{name}"
    df = builder(silver)
    if table_format == "versioned":
        from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable

        table = VersionedTable(spark, path)
        if table.latest_version() is None:
            table.create(df, keys=keys)
        else:
            table.upsert(df)
    else:
        save_or_update_table(spark, df, path, keys)
    return path


def _with_caller_properties(spark: SparkSession, fn):
    """``fn`` wrapped to run with a copy of the calling thread's Spark
    local properties (job group, description, scheduler pool).  Each
    call takes its own copy: ``inheritable_thread_target`` hands one
    copy to every run of a wrapper, so a property one merge set would
    show in its siblings' jobs.  With pinned-thread mode off it returns
    the session itself, and there is nothing to inherit."""
    wrap = inheritable_thread_target(spark)
    return wrap(fn) if callable(wrap) else fn


def build_gold(
    spark: SparkSession,
    silver: DataFrame,
    lake_root: str,
    table_format: str = "parquet",
) -> dict[str, str]:
    """Build + upsert all four gold tables concurrently; returns name -> path.

    No gold table reads another (the fact recomputes its SKs from
    natural keys), so the four merges are submitted at once from a
    thread pool with one worker per table.  Each merge spends much of
    its wall time outside Spark jobs (planning, the commit, the staged
    swap); running them together overlaps that fixed cost and lets the
    small jobs share the executor cores.  The thread target is wrapped
    with ``inheritable_thread_target``, so the workers' jobs carry the
    caller's job group and local properties.

    Returns only when every table has finished.  If any failed, the
    first failure in ``GOLD_TABLES`` order is re-raised; the tables that
    finished stay committed, and a failed parquet merge leaves no
    ``__staging_*`` / ``__old_*`` dir (the ``staged_swap`` contract).

    ``table_format="versioned"`` uses the manifest-based
    ``lake.VersionedTable`` instead of plain-parquet overwrite: snapshot
    isolation, time travel, and bucket-pruned upserts (only buckets
    containing incoming keys are rewritten).
    """
    merge_one = functools.partial(_merge_gold_table, spark, silver, lake_root, table_format)
    with ThreadPoolExecutor(max_workers=len(GOLD_TABLES)) as pool:
        futures = {
            name: pool.submit(_with_caller_properties(spark, merge_one), name)
            for name in GOLD_TABLES
        }
    for future in futures.values():
        error = future.exception()
        if error is not None:
            raise error
    return {name: future.result() for name, future in futures.items()}
