"""Staging models — cast-on-read normalization of raw trip data.

Reference analogs: ``models/staging/stg_green_tripdata.sql:1-49`` and
``stg_yellow_tripdata.sql:1-51`` — views that (1) drop null-vendorid
rows, (2) dedup on (vendorid, pickup_datetime), (3) cast every column to
a canonical 22-column schema shared by both services so the fact union
lines up, (4) synthesize a surrogate ``tripid`` and a payment-type
decode.

Spark-first choices (documented deviations, same contract):

- **Dedup** (reference ``stg_green_tripdata.sql:5-9,41``): the
  reference's own construct, ``row_number() OVER (PARTITION BY
  vendorid, pickup_datetime)`` + ``rn = 1`` — an arbitrary-survivor
  dedup (the window orders by a constant, as the reference has no
  ORDER BY). Spark plans it as a partial ``WindowGroupLimit`` that
  keeps one row per key within each input partition before the
  exchange and a final one after it, so only per-partition survivors
  shuffle. ``dropDuplicates`` would keep the same contract but
  compiles to a SortAggregate on both sides of the exchange:
  ``first()`` over the string ``store_and_fwd_flag`` has no fixed-width
  buffer, which rules out the hash aggregate.
- **Views**: staging stays lazy (temp view), matching dbt's ``view``
  materialization (``dbt_project.yml:38-39``) — Catalyst inlines the
  view into downstream plans, so filter/column pruning from fact_trips
  reaches the raw parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.macros import payment_type_description, surrogate_key, ts_key

MONEY = "decimal(18,3)"  # DuckDB NUMERIC default ≈ reference's `numeric` casts

# Canonical staging schema (order matters: the fact union is positional
# in the reference, fact_trips.sql:15-19; we additionally assert names).
STAGING_COLUMNS: tuple[str, ...] = (
    "tripid",
    "vendorid",
    "ratecodeid",
    "pickup_locationid",
    "dropoff_locationid",
    "pickup_datetime",
    "dropoff_datetime",
    "store_and_fwd_flag",
    "passenger_count",
    "trip_distance",
    "trip_type",
    "fare_amount",
    "extra",
    "mta_tax",
    "tip_amount",
    "tolls_amount",
    "ehail_fee",
    "improvement_surcharge",
    "total_amount",
    "payment_type",
    "payment_type_description",
    "congestion_surcharge",
)


def _stage(
    raw: DataFrame,
    pickup_col: str,
    dropoff_col: str,
    trip_type_expr,
    ehail_fee_expr,
    dev_limit: int | None = None,
) -> DataFrame:
    """Shared staging plan for both services.

    Mirrors reference ``stg_green_tripdata.sql:10-39`` /
    ``stg_yellow_tripdata.sql:10-40``; per-service differences are the
    timestamp column names and the synthesized trip_type / ehail_fee
    (``stg_yellow_tripdata.sql:26-27,35``).
    """
    first_per_key = Window.partitionBy("vendorid", pickup_col).orderBy(F.lit(1))
    deduped = (
        raw.filter(F.col("vendorid").isNotNull())  # stg_*.sql:8
        .withColumn("__rn", F.row_number().over(first_per_key))  # stg_*.sql:5-9
        .filter(F.col("__rn") == 1)  # stg_*.sql:41 (see module doc)
    )
    out = deduped.select(
        # identifiers (stg_green_tripdata.sql:11-16)
        # Key inputs are the CANONICAL types (int vendorid, normalized
        # timestamp string), not the raw ones — raw vendorid may arrive
        # as float64 (NaN-able parquet) and would stringify as '1.0'.
        surrogate_key(F.col("vendorid").cast("int"), ts_key(F.col(pickup_col))).alias("tripid"),
        F.col("vendorid").cast("int").alias("vendorid"),
        F.col("ratecodeid").cast("int").alias("ratecodeid"),
        F.col("pulocationid").cast("int").alias("pickup_locationid"),
        F.col("dolocationid").cast("int").alias("dropoff_locationid"),
        # timestamps (stg_green_tripdata.sql:19-20)
        F.col(pickup_col).cast("timestamp").alias("pickup_datetime"),
        F.col(dropoff_col).cast("timestamp").alias("dropoff_datetime"),
        # trip info (stg_green_tripdata.sql:23-26)
        F.col("store_and_fwd_flag").cast("string").alias("store_and_fwd_flag"),
        F.col("passenger_count").cast("int").alias("passenger_count"),
        F.col("trip_distance").cast(MONEY).alias("trip_distance"),
        trip_type_expr.cast("int").alias("trip_type"),
        # payment info (stg_green_tripdata.sql:29-39)
        F.col("fare_amount").cast(MONEY).alias("fare_amount"),
        F.col("extra").cast(MONEY).alias("extra"),
        F.col("mta_tax").cast(MONEY).alias("mta_tax"),
        F.col("tip_amount").cast(MONEY).alias("tip_amount"),
        F.col("tolls_amount").cast(MONEY).alias("tolls_amount"),
        ehail_fee_expr.cast(MONEY).alias("ehail_fee"),
        F.col("improvement_surcharge").cast(MONEY).alias("improvement_surcharge"),
        F.col("total_amount").cast(MONEY).alias("total_amount"),
        F.col("payment_type").cast("int").alias("payment_type"),
        payment_type_description(F.col("payment_type")).alias("payment_type_description"),
        F.col("congestion_surcharge").cast(MONEY).alias("congestion_surcharge"),
    )
    # Dev scaffold: reference gates `limit 100` behind var('is_test_run')
    # (stg_green_tripdata.sql:44-49).
    if dev_limit is not None:
        out = out.limit(dev_limit)
    return out


def stg_green_tripdata(raw_green: DataFrame, dev_limit: int | None = None) -> DataFrame:
    """Reference ``models/staging/stg_green_tripdata.sql``."""
    return _stage(
        raw_green,
        pickup_col="lpep_pickup_datetime",
        dropoff_col="lpep_dropoff_datetime",
        trip_type_expr=F.col("trip_type"),
        ehail_fee_expr=F.col("ehail_fee"),
        dev_limit=dev_limit,
    )


def stg_yellow_tripdata(raw_yellow: DataFrame, dev_limit: int | None = None) -> DataFrame:
    """Reference ``models/staging/stg_yellow_tripdata.sql`` — yellow has
    no trip_type/ehail_fee columns; synthesized (sql:26-27,35)."""
    return _stage(
        raw_yellow,
        pickup_col="tpep_pickup_datetime",
        dropoff_col="tpep_dropoff_datetime",
        trip_type_expr=F.lit(1),
        ehail_fee_expr=F.lit(0),
        dev_limit=dev_limit,
    )
