"""The taxi project definition — the engine's ``dbt_project.yml`` analog.

Wires sources, seeds, the five reference models, and the reference's
test matrix into a PipelineRunner. ``run_taxi_pipeline`` ≈ ``dbt build``
(reference ``README.md:59-63``): seed → staging views → core tables →
tests, in DAG order (SURVEY §1.1 diagram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.seeds import TAXI_ZONE_LOOKUP_SCHEMA, load_seed_csv
from .core import dim_zones, dm_monthly_zone_revenue, dm_monthly_zone_statistics, fact_trips
from .dq import bind_relationship_tests, reference_test_suite
from .runner import Model, PipelineRunner
from .staging import stg_green_tripdata, stg_yellow_tripdata


def build_taxi_pipeline(
    spark: SparkSession,
    green_path: str,
    yellow_path: str,
    zone_csv_path: str,
    warehouse_dir: str,
    dev_limit: int | None = None,
    partition_fact_by_month: bool = False,
) -> PipelineRunner:
    """Assemble the reference DAG. ``dev_limit`` maps the reference's
    ``is_test_run`` var (stg_*.sql:44-49); ``partition_fact_by_month``
    is the 100 TB layout switch (adds a pickup_month partition column —
    month-partitioned fact ⇒ dynamic partition pruning downstream)."""
    runner = PipelineRunner(spark=spark, warehouse_dir=warehouse_dir)

    runner.add_source("green_tripdata", spark.read.parquet(green_path))
    runner.add_source("yellow_tripdata", spark.read.parquet(yellow_path))
    runner.add_source(
        "taxi_zone_lookup", load_seed_csv(spark, zone_csv_path, TAXI_ZONE_LOOKUP_SCHEMA)
    )

    runner.add_model(Model(
        "stg_green_tripdata", ("green_tripdata",),
        lambda g: stg_green_tripdata(g, dev_limit), "view",
    ))
    runner.add_model(Model(
        "stg_yellow_tripdata", ("yellow_tripdata",),
        lambda y: stg_yellow_tripdata(y, dev_limit), "view",
    ))
    runner.add_model(Model("dim_zones", ("taxi_zone_lookup",), dim_zones, "table"))

    if partition_fact_by_month:
        from pyspark.sql import functions as F

        def fact_with_month(g: DataFrame, y: DataFrame, z: DataFrame) -> DataFrame:
            return fact_trips(g, y, z).withColumn(
                "pickup_month", F.date_trunc("month", F.col("pickup_datetime")).cast("date")
            )

        runner.add_model(Model(
            "fact_trips", ("stg_green_tripdata", "stg_yellow_tripdata", "dim_zones"),
            fact_with_month, "table", partition_by=("pickup_month",),
        ))
    else:
        runner.add_model(Model(
            "fact_trips", ("stg_green_tripdata", "stg_yellow_tripdata", "dim_zones"),
            fact_trips, "table",
        ))

    runner.add_model(Model(
        "dm_monthly_zone_revenue", ("fact_trips",), dm_monthly_zone_revenue, "table",
    ))
    runner.add_model(Model(
        "dm_monthly_zone_statistics", ("fact_trips",), dm_monthly_zone_statistics, "table",
    ))
    return runner


def run_taxi_pipeline(runner: PipelineRunner, raise_on_error: bool = False):
    """``dbt build``: run models then the reference's test matrix.
    ``raise_on_error=False`` by default because the reference's own
    fixtures DO contain referential violations (severity semantics are
    exercised in tests/test_taxi_pipeline.py)."""
    tests = bind_relationship_tests(
        reference_test_suite(), runner.sources["taxi_zone_lookup"]
    )
    return runner.build(tests, raise_on_error=raise_on_error)
