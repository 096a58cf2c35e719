"""Pipeline runner: bronze -> silver -> gold in one call.

Replaces the reference's Airflow DAG (reference
``airflow/dags/nasa_asteroid_dag.py:18-66``) — orchestration is
environment, not engine; the engine exposes the same linear dependency
as a plain function that any scheduler (or a notebook) can call.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from nasa_asteroid_data_lakehouse_spark.pipeline.bronze import ingest_document
from nasa_asteroid_data_lakehouse_spark.pipeline.gold import build_gold
from nasa_asteroid_data_lakehouse_spark.pipeline.silver import (
    build_silver,
    write_silver,
)


def run_pipeline(
    spark: SparkSession,
    lake_root: str,
    day: str,
    document: dict,
) -> dict[str, str]:
    """One daily run: land the raw document, flatten to silver, upsert
    gold. Returns table name -> path (silver + the four gold tables).

    Gold reads silver back from disk with ``silver_df``'s schema given
    explicitly, so the re-read runs no schema-inference job.  The
    partition column ``approach_date`` then reads as the string silver
    built it as, not as an inferred date; gold does not use it (its date
    dimension is built from ``approach_date_full``).  ``build_gold``
    merges the four gold tables concurrently."""
    bronze_file = ingest_document(lake_root, day, document)
    silver_df = build_silver(spark, bronze_file, dates=[day])
    silver_path = write_silver(silver_df, lake_root)
    # Re-read what was written: gold must see the persisted partition,
    # not the in-flight plan (avoids the reference's read-overwrite race).
    persisted = (
        spark.read.schema(silver_df.schema)
        .parquet(silver_path)
        .where(f"approach_date = '{day}'")
    )
    tables = build_gold(spark, persisted, lake_root)
    tables["silver"] = silver_path
    return tables
