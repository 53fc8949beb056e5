"""Every contract query with an oracle must match DuckDB exactly at
sf0.01 — the local replica of the driver's correctness gate."""

from __future__ import annotations

import pytest

from taxi_rides_ny_duckdb_spark import contract
from tests.oracle import compare, duckdb_connection

contract.load_all()

_WITH_ORACLE = sorted(contract.ORACLES)
_ROWS_ONLY = sorted(set(contract.QUERIES) - set(contract.ORACLES))


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_parity(name, spark, sf_dir, con):
    df = contract.QUERIES[name](spark, sf_dir)
    compare(df, con, contract.ORACLES[name])


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_pandas_hash_parity(name, spark, sf_dir, con):
    """Driver-faithful check: BOTH sides through pandas, stringified.

    Catches representation divergences the collect()-based compare
    normalizes away (Spark DECIMAL vs DuckDB float64, int vs HUGEINT→
    float64) — the exact classes that hash-failed p2_typed_projection
    and prof_documents_text on the real driver in rounds 1-2."""
    from tests.pandas_hash import compare_pandas_hash

    df = contract.QUERIES[name](spark, sf_dir)
    compare_pandas_hash(df, con, contract.ORACLES[name], name)


@pytest.mark.parametrize(
    "name",
    [
        "ext_kmeans_train",
        "ext_semdedup",
        "ext_semdedup_auto",
        "ext_semdedup_hier",
        "ext_semdedup_hier3",
        "ext_hard_negative_topk",
        "ext_hard_negative_topk_ann",
        "ext_lr_train",
        "ext_lr_score",
        "ext_bpe_learn_merges",
        "ext_dedup_cluster_components",
        "ext_passage_clusters",
    ],
)
def test_oracle_parity_above_fused_gate(name, spark, sf_dir, con, monkeypatch):
    """The distributed paths that run above the ``_FUSED_*`` gates,
    checked against the same DuckDB oracles: with the gates at 0
    every trainer in these queries takes the Arrow Lloyd loop (flat,
    first_k init, and the multilevel coarse pass), SemDeDup collapses
    per cluster, hard-negative mining runs its pair self-join +
    connected_components fallback, connected_components runs
    large-star/small-star (full emit with ``nodes`` and
    ``emit="mapping"``), the LR descent runs one mapInPandas pass per
    iteration and BPE one pass per round. Built through ``BUILDERS``,
    with the session's near-dup cluster index dropped for the test, so
    no memoized below-gate plan or index can answer instead."""
    from taxi_rides_ny_duckdb_spark import session
    from taxi_rides_ny_duckdb_spark.operators import classify as C
    from taxi_rides_ny_duckdb_spark.operators import dedup as D
    from taxi_rides_ny_duckdb_spark.operators import similarity as S
    from taxi_rides_ny_duckdb_spark.operators import tokenizer as T

    monkeypatch.setattr(S, "_FUSED_LLOYD_MAX_ROWS", 0)
    monkeypatch.setattr(C, "_FUSED_LR_MAX_ROWS", 0)
    monkeypatch.setattr(T, "_FUSED_BPE_MAX_VOCAB", 0)
    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)
    # setitem records the memoized index (or its absence) so teardown
    # restores it; the del makes the builders rebuild it above the gate
    memos, key = session._session_state(spark)[1], ("near_dup_index", sf_dir)
    monkeypatch.setitem(memos, key, None)
    del memos[key]
    compare(contract.BUILDERS[name](spark, sf_dir), con, contract.ORACLES[name])


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    df = contract.QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema) > 0
