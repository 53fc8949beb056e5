"""End-to-end reference-parity test: run the Spark taxi DAG and compare
its marts against the reference's SQL (re-expressed for DuckDB) over the
SAME raw fixtures. This is the strongest parity evidence we can produce
without the reference's private dataset: identical inputs, the
reference's own model SQL as oracle, exact value equality."""

from __future__ import annotations

import duckdb
import pytest

from taxi_rides_ny_duckdb_spark.plans.project import build_taxi_pipeline, run_taxi_pipeline
from tests.oracle import compare
from taxi_rides_ny_duckdb_spark.fixtures import write_taxi_fixtures

# The reference pipeline, faithfully rendered as DuckDB SQL:
# staging (stg_green_tripdata.sql / stg_yellow_tripdata.sql), dim_zones.sql,
# fact_trips.sql, dm_monthly_zone_revenue.sql — with the cross-engine
# normalizations our engine pins (SURVEY §1.4: strftime'd md5 key;
# deterministic decimal-routed averages).
_STAGING_SQL = """
CREATE VIEW stg_{color}_tripdata AS
WITH src AS (
  SELECT *, row_number() OVER (PARTITION BY vendorid, {p}_pickup_datetime) AS rn
  FROM {color}_tripdata WHERE vendorid IS NOT NULL
)
SELECT
  md5(coalesce(CAST(CAST(vendorid AS INTEGER) AS VARCHAR), '_dbt_utils_surrogate_key_null_')
      || '-' ||
      coalesce(strftime({p}_pickup_datetime, '%Y-%m-%d %H:%M:%S'), '_dbt_utils_surrogate_key_null_')
  ) AS tripid,
  CAST(vendorid AS INTEGER) AS vendorid,
  CAST(ratecodeid AS INTEGER) AS ratecodeid,
  CAST(pulocationid AS INTEGER) AS pickup_locationid,
  CAST(dolocationid AS INTEGER) AS dropoff_locationid,
  CAST({p}_pickup_datetime AS TIMESTAMP) AS pickup_datetime,
  CAST({p}_dropoff_datetime AS TIMESTAMP) AS dropoff_datetime,
  CAST(store_and_fwd_flag AS VARCHAR) AS store_and_fwd_flag,
  CAST(passenger_count AS INTEGER) AS passenger_count,
  CAST(trip_distance AS DECIMAL(18,3)) AS trip_distance,
  {trip_type} AS trip_type,
  CAST(fare_amount AS DECIMAL(18,3)) AS fare_amount,
  CAST(extra AS DECIMAL(18,3)) AS extra,
  CAST(mta_tax AS DECIMAL(18,3)) AS mta_tax,
  CAST(tip_amount AS DECIMAL(18,3)) AS tip_amount,
  CAST(tolls_amount AS DECIMAL(18,3)) AS tolls_amount,
  {ehail_fee} AS ehail_fee,
  CAST(improvement_surcharge AS DECIMAL(18,3)) AS improvement_surcharge,
  CAST(total_amount AS DECIMAL(18,3)) AS total_amount,
  CAST(payment_type AS INTEGER) AS payment_type,
  CASE WHEN CAST(payment_type AS INTEGER) = 1 THEN 'Credit card'
       WHEN CAST(payment_type AS INTEGER) = 2 THEN 'Cash'
       WHEN CAST(payment_type AS INTEGER) = 3 THEN 'No charge'
       WHEN CAST(payment_type AS INTEGER) = 4 THEN 'Dispute'
       WHEN CAST(payment_type AS INTEGER) = 5 THEN 'Unknown'
       WHEN CAST(payment_type AS INTEGER) = 6 THEN 'Voided trip'
  END AS payment_type_description,
  CAST(congestion_surcharge AS DECIMAL(18,3)) AS congestion_surcharge
FROM src WHERE rn = 1
"""

_CORE_SQL = """
CREATE VIEW dim_zones AS
SELECT locationid, borough, zone, replace(service_zone, 'Boro', 'Green') AS service_zone
FROM taxi_zone_lookup;

CREATE VIEW fact_trips AS
WITH trips_unioned AS (
  SELECT *, 'Green' AS service_type FROM stg_green_tripdata
  UNION ALL
  SELECT *, 'Yellow' AS service_type FROM stg_yellow_tripdata
),
dim_zones_known AS (SELECT * FROM dim_zones WHERE borough != 'Unknown')
SELECT
  t.tripid, t.vendorid, t.service_type, t.ratecodeid,
  t.pickup_locationid, pu.borough AS pickup_borough, pu.zone AS pickup_zone,
  t.dropoff_locationid, do_.borough AS dropoff_borough, do_.zone AS dropoff_zone,
  t.pickup_datetime, t.dropoff_datetime, t.store_and_fwd_flag, t.passenger_count,
  t.trip_distance, t.trip_type, t.fare_amount, t.extra, t.mta_tax, t.tip_amount,
  t.tolls_amount, t.ehail_fee, t.improvement_surcharge, t.total_amount,
  t.payment_type, t.payment_type_description, t.congestion_surcharge
FROM trips_unioned t
JOIN dim_zones_known pu ON t.pickup_locationid = pu.locationid
JOIN dim_zones_known do_ ON t.dropoff_locationid = do_.locationid;

CREATE VIEW dm_monthly_zone_revenue AS
SELECT
  pickup_zone AS revenue_zone,
  CAST(date_trunc('month', pickup_datetime) AS TIMESTAMP) AS revenue_month,
  service_type,
  SUM(fare_amount) AS revenue_monthly_fare,
  SUM(extra) AS revenue_monthly_extra,
  SUM(mta_tax) AS revenue_monthly_mta_tax,
  SUM(tip_amount) AS revenue_monthly_tip_amount,
  SUM(tolls_amount) AS revenue_monthly_tolls_amount,
  SUM(ehail_fee) AS revenue_monthly_ehail_fee,
  SUM(improvement_surcharge) AS revenue_monthly_improvement_surcharge,
  SUM(total_amount) AS revenue_monthly_total_amount,
  SUM(congestion_surcharge) AS revenue_monthly_congestion_surcharge,
  COUNT(tripid) AS total_monthly_trips,
  CAST(SUM(CAST(passenger_count AS DECIMAL(18,0))) AS DOUBLE) / COUNT(passenger_count)
    AS avg_monthly_passenger_count,
  CAST(SUM(trip_distance) AS DOUBLE) / COUNT(trip_distance)
    AS avg_monthly_trip_distance
FROM fact_trips
GROUP BY 1, 2, 3
"""


@pytest.fixture(scope="module")
def taxi(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("taxi")
    paths = write_taxi_fixtures(str(root / "raw"))
    runner = build_taxi_pipeline(
        spark,
        green_path=paths["green_tripdata"],
        yellow_path=paths["yellow_tripdata"],
        zone_csv_path=paths["taxi_zone_lookup"],
        warehouse_dir=str(root / "warehouse"),
    )
    built, results = run_taxi_pipeline(runner)
    return {"paths": paths, "runner": runner, "built": built, "results": results}


@pytest.fixture(scope="module")
def taxi_oracle(taxi):
    con = duckdb.connect()
    p = taxi["paths"]
    con.execute(
        f"CREATE VIEW green_tripdata AS SELECT * FROM read_parquet('{p['green_tripdata']}')"
    )
    con.execute(
        f"CREATE VIEW yellow_tripdata AS SELECT * FROM read_parquet('{p['yellow_tripdata']}')"
    )
    con.execute(
        "CREATE VIEW taxi_zone_lookup AS SELECT "
        "CAST(locationid AS INTEGER) locationid, borough, zone, service_zone "
        f"FROM read_csv('{p['taxi_zone_lookup']}', header=true)"
    )
    con.execute(_STAGING_SQL.format(
        color="green", p="lpep",
        trip_type="CAST(trip_type AS INTEGER)",
        ehail_fee="CAST(ehail_fee AS DECIMAL(18,3))",
    ))
    con.execute(_STAGING_SQL.format(
        color="yellow", p="tpep",
        trip_type="CAST(1 AS INTEGER)",
        ehail_fee="CAST(0 AS DECIMAL(18,3))",
    ))
    for stmt in _CORE_SQL.split(";"):
        if stmt.strip():
            con.execute(stmt)
    yield con
    con.close()


def test_staging_schema(taxi):
    from taxi_rides_ny_duckdb_spark.plans.staging import STAGING_COLUMNS

    for name in ("stg_green_tripdata", "stg_yellow_tripdata"):
        assert tuple(taxi["built"][name].columns) == STAGING_COLUMNS


def test_staging_matches_reference_sql(taxi, taxi_oracle):
    # Compare a deterministic projection (full rows incl. md5 tripid).
    # Fixture duplicates are full-row dups, so survivor choice can't
    # change values (tests/taxi_fixtures.py docstring).
    for name in ("stg_green_tripdata", "stg_yellow_tripdata"):
        compare(taxi["built"][name], taxi_oracle, f"SELECT * FROM {name}")


def test_dim_zones_matches_reference_sql(taxi, taxi_oracle):
    compare(taxi["built"]["dim_zones"], taxi_oracle, "SELECT * FROM dim_zones")


def test_fact_trips_matches_reference_sql(taxi, taxi_oracle):
    compare(taxi["built"]["fact_trips"], taxi_oracle, "SELECT * FROM fact_trips")


def test_revenue_mart_matches_reference_sql(taxi, taxi_oracle):
    compare(
        taxi["built"]["dm_monthly_zone_revenue"],
        taxi_oracle,
        "SELECT * FROM dm_monthly_zone_revenue",
    )


def test_unknown_zones_dropped(taxi):
    fact = taxi["built"]["fact_trips"]
    assert fact.filter("pickup_borough = 'Unknown' OR dropoff_borough = 'Unknown'").count() == 0
    # locationids 266-270 exist in raw but not in the seed → dropped
    assert fact.filter("pickup_locationid > 265").count() == 0


def _dq_oracle_counts(con) -> dict[str, int]:
    """The DuckDB side of every reference dq test, over the reference
    staging/core SQL above: the queries perfbench checks the taxi
    build's counts against (``perfbench/workloads.py``
    ``_expected_taxi``)."""
    queries = {
        "not_null__dm_monthly_zone_revenue__revenue_monthly_total_amount": (
            "SELECT count(*) FROM dm_monthly_zone_revenue "
            "WHERE revenue_monthly_total_amount IS NULL"),
    }
    for stg in ("stg_green_tripdata", "stg_yellow_tripdata"):
        queries[f"unique__{stg}__tripid"] = (
            f"SELECT count(*) FROM (SELECT tripid FROM {stg} GROUP BY 1 HAVING count(*) > 1)")
        queries[f"not_null__{stg}__tripid"] = f"SELECT count(*) FROM {stg} WHERE tripid IS NULL"
        queries[f"accepted_values__{stg}__payment_type"] = (
            f"SELECT count(*) FROM {stg} WHERE payment_type NOT IN (1, 2, 3, 4, 5, 6)")
        for key in ("pickup_locationid", "dropoff_locationid"):
            queries[f"relationships__{stg}__{key}"] = (
                f"SELECT count(*) FROM {stg} WHERE {key} IS NOT NULL AND {key} NOT IN "
                "(SELECT CAST(locationid AS INTEGER) FROM taxi_zone_lookup)")
    return {name: con.sql(q).fetchone()[0] for name, q in queries.items()}


def _reference_tests(runner, model=None):
    from taxi_rides_ny_duckdb_spark.plans.dq import bind_relationship_tests, reference_test_suite

    tests = bind_relationship_tests(reference_test_suite(), runner.sources["taxi_zone_lookup"])
    return [t for t in tests if model is None or t.model == model]


def test_dq_results(taxi, taxi_oracle):
    """Every reference test's count equals its DuckDB oracle count; the
    fixtures carry out-of-seed locationids and payment types 0/7, so
    the relationships and accepted_values counts are nonzero."""
    got = {r.test.name: r.violations for r in taxi["results"]}
    assert got == _dq_oracle_counts(taxi_oracle)
    assert all(type(n) is int for n in got.values())
    assert got["relationships__stg_green_tripdata__dropoff_locationid"] > 0
    assert got["accepted_values__stg_green_tripdata__payment_type"] > 0


def test_dq_empty_model_counts_zero(taxi):
    """An empty staging model reports 0 for every test, as an int —
    never the NULL an empty SUM returns."""
    from taxi_rides_ny_duckdb_spark.plans.dq import run_tests
    from taxi_rides_ny_duckdb_spark.plans.staging import stg_green_tripdata

    runner = taxi["runner"]
    empty = stg_green_tripdata(runner.sources["green_tripdata"].limit(0))
    results = run_tests({"stg_green_tripdata": empty},
                        _reference_tests(runner, "stg_green_tripdata"))
    assert len(results) == 5
    assert [r.violations for r in results] == [0] * 5
    assert all(type(r.violations) is int for r in results)


def test_dq_unique_counts_repeated_nulls_once(spark):
    """Repeated NULL keys form one group with more than one row: one
    ``unique`` violation, as dbt's GROUP BY ... HAVING count(*) > 1."""
    from taxi_rides_ny_duckdb_spark.plans.dq import DQTest, run_tests

    df = spark.createDataFrame([(None,), (None,), ("a",), ("b",)], "tripid string")
    tests = [DQTest("u", "m", "unique", "tripid", "warn"),
             DQTest("nn", "m", "not_null", "tripid", "warn")]
    assert [r.violations for r in run_tests({"m": df}, tests)] == [1, 2]


def test_dq_rejects_unusable_tests(spark):
    """An unknown kind, an unbound relationships test, and unique tests
    on two columns of one model (one evaluation groups by one key) fail
    fast with a ValueError."""
    from taxi_rides_ny_duckdb_spark.plans.dq import DQTest, run_tests

    df = spark.createDataFrame([("a", "b")], "x string, y string")
    with pytest.raises(ValueError, match="unknown kind"):
        DQTest("t", "m", "unique_key", "x")
    with pytest.raises(ValueError, match="no parent"):
        run_tests({"m": df}, [DQTest("r", "m", "relationships", "x", parent_key="k")])
    with pytest.raises(ValueError, match="several columns"):
        run_tests({"m": df}, [DQTest("u1", "m", "unique", "x"), DQTest("u2", "m", "unique", "y")])


@pytest.mark.parametrize("partitions", [1, 4])
def test_dq_one_snapshot_per_model(spark, taxi, partitions):
    """Two raw rows share (vendorid, pickup) with conflicting payloads:
    A has payment_type 1 and pickup zone 999 (not in the seed), B has
    payment_type 99 and pickup zone 1. Staging keeps one of them, so in
    one snapshot exactly one of accepted_values and
    relationships(pickup) flags a row; evaluating the tests separately
    could see A in one and B in the other (0) or the reverse (2)."""
    from pyspark.sql import functions as F

    from taxi_rides_ny_duckdb_spark.plans.dq import run_tests
    from taxi_rides_ny_duckdb_spark.plans.staging import stg_green_tripdata

    runner = taxi["runner"]
    raw = runner.sources["green_tripdata"]
    base = raw.filter(F.col("vendorid").isNotNull()).limit(1)

    def variant(payment_type, pulocationid):
        return (base.withColumn("payment_type", F.lit(payment_type).cast(raw.schema["payment_type"].dataType))
                .withColumn("pulocationid", F.lit(pulocationid).cast(raw.schema["pulocationid"].dataType)))

    rows = variant(1, 999).unionByName(variant(99, 1)).collect()
    # With 4 slices the two rows land in different input partitions.
    pair = spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), raw.schema)
    assert pair.rdd.getNumPartitions() == partitions
    tests = _reference_tests(runner, "stg_green_tripdata")
    got = {r.test.name: r.violations
           for r in run_tests({"stg_green_tripdata": stg_green_tripdata(pair)}, tests)}
    assert (got["accepted_values__stg_green_tripdata__payment_type"]
            + got["relationships__stg_green_tripdata__pickup_locationid"]) == 1
    assert got["unique__stg_green_tripdata__tripid"] == 0


def test_dq_error_severity_raises(taxi, caplog):
    """``raise_on_error``: the DQError names exactly the failing
    error-severity tests; failing warn tests only log."""
    import logging
    import re

    from taxi_rides_ny_duckdb_spark.plans.dq import DQError

    runner = taxi["runner"]
    with caplog.at_level(logging.WARNING, logger="taxi_rides_ny_duckdb_spark.plans.dq"):
        with pytest.raises(DQError) as err:
            runner.test(_reference_tests(runner), raise_on_error=True)
    assert re.findall(r"dq test (\S+) on", str(err.value)) == [
        "relationships__stg_green_tripdata__dropoff_locationid"
    ]
    logged = {m.split()[2] for m in caplog.messages}
    assert logged == {
        "accepted_values__stg_green_tripdata__payment_type",
        "relationships__stg_green_tripdata__pickup_locationid",
        "accepted_values__stg_yellow_tripdata__payment_type",
        "relationships__stg_yellow_tripdata__pickup_locationid",
        "relationships__stg_yellow_tripdata__dropoff_locationid",
    }


def test_dq_scans_each_staging_source_once_per_model(taxi):
    """The reference suite is one action that reads each raw trip file
    once, for its staging model: a model's five tests share one
    evaluation. The physical plan comes from the SQL status store; its
    formatted description lists the final plan's tree first, then the
    initial plan, then one details block per node (with the scanned
    location)."""
    import re

    runner = taxi["runner"]
    store = runner.spark._jsparkSession.sharedState().statusStore()

    def recent():  # the store keeps a bounded window of executions
        n = int(store.executionsCount())
        it = store.executionsList(max(0, n - 20), 20).iterator()
        out = []
        while it.hasNext():
            e = it.next()
            out.append((int(e.executionId()), e.physicalPlanDescription()))
        return out

    seen = max((i for i, _ in recent()), default=-1)
    runner.test(_reference_tests(runner), raise_on_error=False)
    descs = [d for i, d in recent() if i > seen]
    assert len(descs) == 1
    tree = descs[0].partition("== Initial Plan ==")[0]
    location = dict(re.findall(
        r"^\((\d+)\) Scan parquet\s*\n(?:.*\n)*?Location: \S+ \[([^\]]+)\]", descs[0], re.M))
    scanned = [location[i] for i in re.findall(r"Scan parquet\s+\((\d+)\)", tree)]
    for raw in ("green_tripdata.parquet", "yellow_tripdata.parquet"):
        assert sum(path.endswith(raw) for path in scanned) == 1, (raw, scanned)


def test_month_partitioned_fact_prunes(spark, tmp_path_factory):
    """The 100 TB layout switch (SURVEY §4 conclusion): fact_trips
    partitioned by pickup_month must (a) static-prune — a month filter
    reaches the scan as a PartitionFilter, so only that month's files
    are read — and (b) dynamic-prune — joining a selectively-filtered
    dim on the partition column inserts a dynamicpruning subquery, so
    at scale the zone joins only touch surviving months."""
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("taxi_part")
    paths = write_taxi_fixtures(str(root / "raw"))
    runner = build_taxi_pipeline(
        spark,
        green_path=paths["green_tripdata"],
        yellow_path=paths["yellow_tripdata"],
        zone_csv_path=paths["taxi_zone_lookup"],
        warehouse_dir=str(root / "warehouse"),
        partition_fact_by_month=True,
    )
    built = runner.run()
    fact = built["fact_trips"]
    n_months = fact.select("pickup_month").distinct().count()
    assert n_months > 12  # fixtures span 2019-2020

    # (a) static pruning: the month predicate must land in the scan's
    # PartitionFilters (not a post-scan Filter over all partitions).
    one = fact.filter(F.col("pickup_month") == F.to_date(F.lit("2019-03-01")))
    plan = one._jdf.queryExecution().executedPlan().toString()
    head, _, tail = plan.partition("PartitionFilters: [")
    assert tail, plan
    assert "pickup_month" in tail.split("]")[0], plan

    # (b) dynamic pruning: months dim (a separate parquet relation)
    # filtered on a non-partition attribute, joined on pickup_month.
    months = fact.select("pickup_month").distinct().withColumn(
        "q", F.quarter("pickup_month")
    )
    dim_path = str(root / "months_dim")
    months.write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("q") == 1)
    joined = fact.join(F.broadcast(dim), "pickup_month")
    jplan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in jplan.lower(), jplan
    # and the pruned join still computes the right rows
    expected = fact.filter(F.quarter("pickup_month") == 1).count()
    assert joined.count() == expected


def test_store_failures_writes_violating_rows(taxi):
    """dbt --store-failures analog: each failing test's violating ROWS
    land under warehouse/dq_failures/{test.name} and the stored count
    equals the reported count."""
    import os

    from taxi_rides_ny_duckdb_spark.plans.dq import (
        bind_relationship_tests,
        reference_test_suite,
    )

    runner = taxi["runner"]
    tests = bind_relationship_tests(
        reference_test_suite(), runner.sources["taxi_zone_lookup"]
    )
    results = runner.test(tests, raise_on_error=False, store_failures=True)
    spark = runner.spark
    assert results and all(r.failures_path for r in results)
    for r in results:
        assert os.path.isdir(r.failures_path), r.failures_path
        stored = spark.read.parquet(r.failures_path)
        assert stored.count() == r.violations, r.test.name
    # the relationships audits carry the actual out-of-seed rows
    rel = next(r for r in results if r.test.name.startswith("relationships__"))
    assert rel.violations > 0


def test_manifest_export(taxi):
    """dbt manifest.json analog: the compiled DAG as JSON-serializable
    data — node deps/materializations match the project wiring and
    built nodes carry their resolved output schema."""
    import json

    m = taxi["runner"].manifest()
    json.dumps(m)  # must be serializable
    nodes = m["nodes"]
    assert nodes["fact_trips"]["depends_on"] == [
        "stg_green_tripdata", "stg_yellow_tripdata", "dim_zones"
    ]
    assert nodes["stg_green_tripdata"]["materialization"] == "view"
    assert nodes["fact_trips"]["materialization"] == "table"
    assert all(n["built"] for n in nodes.values())
    fact_cols = [c["name"] for c in nodes["fact_trips"]["schema"]]
    assert "pickup_borough" in fact_cols and "tripid" in fact_cols
    assert {"from": "fact_trips", "to": "dm_monthly_zone_revenue"} in m["edges"]
    assert set(m["sources"]) == {"green_tripdata", "yellow_tripdata", "taxi_zone_lookup"}


def test_graph_selection(spark, tmp_path):
    """dbt -s selector semantics: '+fact_trips' builds ancestors +
    target but NOT the downstream mart; 'dim_zones+' builds target +
    descendants; selecting a mid-graph node without its upstream fails
    with the unresolved-ref error (dbt's relation-not-found)."""
    paths = write_taxi_fixtures(str(tmp_path / "raw"))

    def fresh():
        return build_taxi_pipeline(
            spark,
            green_path=paths["green_tripdata"],
            yellow_path=paths["yellow_tripdata"],
            zone_csv_path=paths["taxi_zone_lookup"],
            warehouse_dir=str(tmp_path / "wh"),
        )

    r = fresh()
    built = r.run(select="+fact_trips")
    assert "fact_trips" in built and "dim_zones" in built
    assert "stg_green_tripdata" in built
    assert "dm_monthly_zone_revenue" not in built

    # descendants re-run: upstream already built in this runner, so
    # 'dim_zones+' rebuilds the dimension and everything below it
    built2 = r.run(select="dim_zones+")
    assert {"dim_zones", "fact_trips", "dm_monthly_zone_revenue"} <= set(built2)

    # mid-graph node on a FRESH runner: upstream never materialized →
    # unresolved ref, like dbt's relation-not-found on an empty warehouse
    r3 = fresh()
    with pytest.raises(KeyError):
        r3.run(select="dm_monthly_zone_revenue")
