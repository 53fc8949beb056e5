"""The two workloads. Each runs one closed-loop client with one
operation in flight: every operation once cold, then a fixed number of
warm rounds that ``--seconds`` sets and the box's speed does not.
Outputs are checked after the timed window, against expected values
derived from the DuckDB oracles."""

from __future__ import annotations

import json
import os
import random

from check import arrow_digest, digest, duckdb_digest, spark_digest

HERE = os.path.dirname(os.path.abspath(__file__))

# Fixed query panels. Order inside a pass is shuffled by the seed; the
# set is fixed so that run totals compare across seeds.
#
# contract_sf0.1 covers each layer the fixed per-query floor is made of:
# SQL/TPC-H shapes, build-time collected literals
# (ext_nb_train), Arrow/Python-worker operators, a fused k-means path,
# and streaming micro-batches (memoize=False, so every run re-drives
# the stream).
CONTRACT_PANEL = (
    "a1_pricing_summary",
    "q3_shipping_priority",
    "s5_sql_entrypoint",
    "ext_dedup_exact",
    "ext_nb_train",
    "ext_embedding_near_dup",
    "ext_semdedup",
    "ext_streaming_dedup",
)
TAXI_TRIPS_PER_SERVICE = 50_000
TAXI_PROFILE_COLS = ["trip_distance", "fare_amount", "tip_amount", "total_amount",
                     "passenger_count"]
GRAINS = ("month", "quarter", "year")
# Nominal seconds of one warm round on a 4-core box. ``--seconds`` buys
# ``seconds / ROUND_S`` warm rounds (at least MIN_ROUNDS): a count set by
# the arguments alone, so that every run takes the same samples however
# fast the box is. The cold pass comes on top.
ROUND_S = {"contract_sf0.1": 7.5, "taxi_dbt_build": 15.0}
MIN_ROUNDS = 1


def warm_rounds(workload: str, seconds: float) -> int:
    return max(MIN_ROUNDS, round(seconds / ROUND_S[workload]))


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def oracle_digests(sf_dir: str, names: tuple[str, ...]) -> dict:
    """Row count + digest of each query's DuckDB oracle over ``sf_dir``
    (``contract.load_all()`` must have run)."""
    import duckdb

    from data import TABLES
    from taxi_rides_ny_duckdb_spark import contract

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return {name: duckdb_digest(con, contract.ORACLES[name]) for name in names}


def _passes(n: int, one_pass, canary) -> list[tuple[float, float]]:
    """Run ``one_pass(i)`` for i in 0..n-1. The canary runs before the
    first pass and after every pass."""
    canaries = [canary()]
    for i in range(n):
        one_pass(i)
        canaries.append(canary())
    return canaries


def contract_sf01(ctx):
    """Contract queries, visited once in a seeded order, each inside its
    own ``cache_scope()``: run 1 (cold) is the query's first call in the
    process and builds its plan; then ``ctx.rounds`` warm runs reuse the
    memoized plan and the scope's caches. The last warm run's frame is
    then collected and digested, outside every operation's timing, and
    the digests are compared with the oracle's after the window."""
    from taxi_rides_ny_duckdb_spark import contract
    from taxi_rides_ny_duckdb_spark.cache import cache_scope

    spark, rec, sf_dir, expected = ctx.spark, ctx.rec, ctx.data["contract"], ctx.expected
    order = list(CONTRACT_PANEL)
    random.Random(ctx.seed).shuffle(order)
    digests: dict = {}

    def one_pass(_: int) -> None:
        for name in order:
            fn = contract.QUERIES[name]
            with cache_scope():
                for kind in ["cold"] + ["warm"] * ctx.rounds:
                    df, _ = rec.op(name, kind, lambda: fn(spark, sf_dir), lambda df: df.count(),
                                   check=lambda df, n: n == expected[name]["rows"])
                # Untimed, while the scope's caches are still alive.
                if df is not None:
                    digests[name] = spark_digest(df)

    canaries = _passes(1, one_pass, ctx.canary)
    ctx.end_window()
    for name in CONTRACT_PANEL:
        got = digests.get(name)
        if got != expected[name]:
            ctx.wrong(name, f"digest {got} != expected {expected[name]}")
    return canaries


def _taxi_oracles(trips_dir: str, fixture_dir: str):
    """DuckDB connection with the reference models as views over the
    seed's trip files, rendered from the contract_taxi oracle SQL."""
    import duckdb

    from taxi_rides_ny_duckdb_spark import contract

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for view, q in (("stg_green_tripdata", "taxi_stg_green_tripdata"),
                    ("stg_yellow_tripdata", "taxi_stg_yellow_tripdata"),
                    ("dim_zones", "taxi_dim_zones"),
                    ("fact_trips", "taxi_fact_trips"),
                    ("dm_monthly_zone_revenue", "taxi_dm_monthly_zone_revenue"),
                    ("dm_monthly_zone_statistics", "taxi_dm_monthly_zone_statistics")):
        con.execute(f"CREATE VIEW {view} AS " + contract.ORACLES[q].replace(fixture_dir, trips_dir))
    lookup = os.path.join(trips_dir, "taxi_zone_lookup.csv")
    con.execute(f"CREATE VIEW taxi_zone_lookup AS SELECT * FROM read_csv('{lookup}', header=true)")
    return con


def _expected_taxi(con) -> dict:
    exp = {
        "fact_rows": con.sql("SELECT count(*) FROM fact_trips").fetchone()[0],
        "tables": {t: duckdb_digest(con, f"SELECT * FROM {t}")
                   for t in ("dim_zones", "dm_monthly_zone_revenue", "dm_monthly_zone_statistics")},
        "metrics": {
            g: duckdb_digest(con, f"""
                SELECT CAST(date_trunc('{g}', pickup_datetime) AS TIMESTAMP) AS period_{g},
                       CAST(SUM(CAST(trip_distance AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(trip_distance) AS average_distance
                FROM fact_trips GROUP BY 1""")
            for g in GRAINS
        },
        "profile": duckdb_digest(con, " UNION ALL ".join(f"""
            SELECT '{c}' AS column_name, count(*) AS n_rows, count(*) - count(v) AS n_null,
                   count(DISTINCT v) AS n_distinct, min(v) AS min_value, max(v) AS max_value,
                   CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(v) AS mean_value
            FROM (SELECT CAST({c} AS DOUBLE) AS v FROM fact_trips)""" for c in TAXI_PROFILE_COLS)),
    }
    dq = {}
    for stg in ("stg_green_tripdata", "stg_yellow_tripdata"):
        dq[f"unique__{stg}__tripid"] = (
            f"SELECT count(*) FROM (SELECT tripid FROM {stg} GROUP BY 1 HAVING count(*) > 1)")
        dq[f"not_null__{stg}__tripid"] = f"SELECT count(*) FROM {stg} WHERE tripid IS NULL"
        dq[f"accepted_values__{stg}__payment_type"] = (
            f"SELECT count(*) FROM {stg} WHERE payment_type NOT IN (1, 2, 3, 4, 5, 6)")
        for key in ("pickup_locationid", "dropoff_locationid"):
            dq[f"relationships__{stg}__{key}"] = (
                f"SELECT count(*) FROM {stg} WHERE {key} IS NOT NULL AND {key} NOT IN "
                "(SELECT CAST(locationid AS INTEGER) FROM taxi_zone_lookup)")
    dq["not_null__dm_monthly_zone_revenue__revenue_monthly_total_amount"] = (
        "SELECT count(*) FROM dm_monthly_zone_revenue WHERE revenue_monthly_total_amount IS NULL")
    exp["dq"] = {k: con.sql(q).fetchone()[0] for k, q in dq.items()}
    return exp


def _dir_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(base, f))
    return n, size


def taxi_dbt_build(ctx):
    """The reference ``dbt build`` + metrics + PipeRider profile, into a
    fresh warehouse per pass: build_taxi_pipeline, every model through
    ``PipelineRunner.run(select=...)`` in DAG order, the reference test
    matrix through ``.test``, ``compile_all_grains`` for the
    average_distance metric, and ``profile_numeric`` of fact_trips."""
    import pyarrow.parquet as pq

    from taxi_rides_ny_duckdb_spark.plans.dq import bind_relationship_tests, reference_test_suite
    from taxi_rides_ny_duckdb_spark.plans.metrics import Metric, compile_all_grains
    from taxi_rides_ny_duckdb_spark.plans.profile import profile_numeric
    from taxi_rides_ny_duckdb_spark.plans.project import build_taxi_pipeline

    spark, rec = ctx.spark, ctx.rec
    trips = ctx.data["taxi"]
    paths = [os.path.join(trips, f) for f in
             ("green_tripdata.parquet", "yellow_tripdata.parquet", "taxi_zone_lookup.csv")]
    input_bytes = sum(os.path.getsize(p) for p in paths)
    metric = Metric(name="average_distance", calculation_method="average",
                    expression="trip_distance", timestamp="pickup_datetime", time_grains=GRAINS)
    expected = _expected_taxi(_taxi_oracles(trips, ctx.fixture_dir))
    checks: list = []  # (kind, what, value) verified after the window
    wh_root = os.path.join(ctx.cache, "taxi_warehouse")

    def one_pass(i: int) -> None:
        kind = "cold" if i == 0 else "warm"
        wh = os.path.join(wh_root, f"pass{i}")
        runner, _ = rec.op("build_taxi_pipeline", kind,
                           lambda: build_taxi_pipeline(spark, *paths, warehouse_dir=wh),
                           lambda r: None)
        if runner is None:
            return
        for name, model in runner.models.items():
            table = model.materialization == "table"
            rec.op(f"run:{name}", kind, lambda: None,
                   lambda _, n=name: runner.run(select=n),
                   layer="runner.table_s" if table else "runner.view_s")
            if table:
                checks.append(("table", f"run:{name}", os.path.join(wh, name)))
        tests = bind_relationship_tests(reference_test_suite(), runner.sources["taxi_zone_lookup"])
        _, results = rec.op("dq_tests", kind, lambda: None,
                            lambda _: runner.test(tests, raise_on_error=False), layer="dq.test_s")
        if results is not None:
            rec.add(kind, "dq.violations", sum(r.violations for r in results))
            checks.append(("dq", "dq_tests", {r.test.name: r.violations for r in results}))
        fact = runner.built.get("fact_trips")
        if fact is None:
            return
        _, got = rec.op("metrics", kind, lambda: compile_all_grains(fact, metric),
                        lambda dfs: {g: (df.columns, df.collect()) for g, df in dfs.items()},
                        layer="metrics.s")
        if got is not None:
            checks.append(("metrics", "metrics", {g: digest(*v) for g, v in got.items()}))
        _, prof = rec.op("profile", kind, lambda: profile_numeric(fact, TAXI_PROFILE_COLS),
                         lambda df: (df.columns, df.collect()), layer="profile.s")
        if prof is not None:
            checks.append(("profile", "profile", digest(*prof)))
        n_files, n_bytes = _dir_stats(wh)
        rec.add(kind, "runner.files_written", n_files)
        rec.add(kind, "runner.bytes_written", n_bytes)
        rec.layers[kind]["runner.write_amp"] = n_bytes / input_bytes

    canaries = _passes(1 + ctx.rounds, one_pass, ctx.canary)
    ctx.end_window()
    for what, name, value in checks:
        if what == "table":
            table = pq.ParquetDataset(value).read()
            if name == "run:fact_trips":
                got, want = table.num_rows, expected["fact_rows"]
            else:
                got, want = arrow_digest(table), expected["tables"][name[4:]]
        elif what == "dq":
            got, want = value, expected["dq"]
        else:
            got, want = value, expected[what]
        if got != want:
            ctx.wrong(name, f"{got} != expected {want}")
    return canaries
