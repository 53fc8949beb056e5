"""Session-scoped cache registry (taxi_rides_ny_duckdb_spark/cache.py,
r10): operators register intra-query persists into the innermost open
scope; pipeline drivers (bench.py per query, plans/runner.py per node)
close the scope and exactly those frames unpersist — retiring the old
"callers clearCache between queries" convention."""

from __future__ import annotations

from pyspark.sql import functions as F


def _storage_count(spark) -> int:
    """Number of RDDs currently occupying block-manager storage.

    localCheckpoint RDDs also live here, so tests built on this must
    use operators that persist WITHOUT checkpointing."""
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_scoped_persist_registers_and_scope_exit_unpersists(spark):
    from taxi_rides_ny_duckdb_spark.cache import cache_scope, scoped_persist

    spark.catalog.clearCache()
    base = _storage_count(spark)
    df = spark.range(0, 1000)
    with cache_scope() as frames:
        p = scoped_persist(df.select((F.col("id") * 2).alias("x")))
        p.count()
        assert len(frames) == 1
        assert _storage_count(spark) == base + 1
    assert _storage_count(spark) == base


def test_outside_scope_behaves_like_plain_persist(spark):
    from taxi_rides_ny_duckdb_spark.cache import scoped_persist

    spark.catalog.clearCache()
    base = _storage_count(spark)
    p = scoped_persist(spark.range(0, 10).select(F.col("id").alias("y")))
    p.count()
    assert _storage_count(spark) == base + 1  # persists...
    p.unpersist()
    assert _storage_count(spark) == base  # ...and caller manages lifetime


def test_scopes_nest_innermost_wins(spark):
    from taxi_rides_ny_duckdb_spark.cache import cache_scope, scoped_persist

    spark.catalog.clearCache()
    base = _storage_count(spark)
    with cache_scope() as outer:
        a = scoped_persist(spark.range(0, 50).select((F.col("id") + 1).alias("a")))
        a.count()
        with cache_scope() as inner:
            b = scoped_persist(
                spark.range(0, 50).select((F.col("id") + 2).alias("b"))
            )
            b.count()
            assert len(inner) == 1 and len(outer) == 1
            assert _storage_count(spark) == base + 2
        # inner scope closed: only its frame dropped
        assert _storage_count(spark) == base + 1
    assert _storage_count(spark) == base


def test_two_operator_pipeline_leaves_no_orphan_cache_entries(spark):
    """The VERDICT r9 task-4 acceptance: run two real operators that
    persist intermediates (winnowing passage matcher, token-budget
    selector — neither localCheckpoints) inside one scope; after the
    scope closes the block manager holds nothing new."""
    from taxi_rides_ny_duckdb_spark.cache import cache_scope
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        winnow_passage_matches,
    )
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        token_budget_select,
    )

    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(f"w{(i + j) % 9}" for j in range(12)),
                10 + i % 5,
                (i % 10) / 10.0,
            )
            for i in range(60)
        ],
        "doc_id long, text string, n_tokens int, score double",
    )
    spark.catalog.clearCache()
    base = _storage_count(spark)
    with cache_scope():
        n_pairs = winnow_passage_matches(docs, "text", "doc_id").count()
        n_sel = token_budget_select(
            docs, "doc_id", "score", "n_tokens", budget=100
        ).count()
        assert n_pairs >= 0 and n_sel > 0
        assert _storage_count(spark) > base, "operators should have persisted"
    assert _storage_count(spark) == base, "scope exit must drop all registrations"


def test_session_memos_ignore_recycled_id_keys(spark, sf_dir, monkeypatch):
    """The process-level plan and scan memos key on ``session_key``
    (applicationId, startTime), never on the GC-recyclable
    ``id(spark)``: a sentinel planted under the old id-based key — what
    a stopped session whose id the live one inherited would leave
    behind — must never be handed out."""
    from taxi_rides_ny_duckdb_spark import contract
    from taxi_rides_ny_duckdb_spark.sources import registry

    sentinel = spark.range(1)
    path = registry.table_path(sf_dir, "region")
    monkeypatch.setitem(registry._SCANS, (id(spark), path), sentinel)
    scan = registry.load(spark, sf_dir, "region")
    assert scan is not sentinel and "r_regionkey" in scan.columns

    contract.load_all()
    name = next(n for n in contract.QUERIES
                if contract.QUERIES[n] is not contract.BUILDERS[n])
    monkeypatch.setitem(contract._PLANS, (name, id(spark), sf_dir), sentinel)
    assert contract.QUERIES[name](spark, sf_dir) is not sentinel
