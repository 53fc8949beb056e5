"""Scoped cache registry (taxi_rides_ny_duckdb_spark/cache.py, r10):
operators register intra-query persists into the innermost open scope;
pipeline drivers (bench.py per query, plans/runner.py per node) close
the scope and exactly those frames unpersist — retiring the old
"callers clearCache between queries" convention. Also the session-state
store (session.memo / scratch_dir): what lives for a whole session."""

from __future__ import annotations

import os

import pytest
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
    """The session-state store keys sessions on their ``sessionUUID``,
    never on the GC-recyclable ``id(spark)``: sentinels
    planted under an id-keyed session entry — what a stopped session
    whose id the live one inherited would leave behind — must never be
    handed out as a scan or a plan."""
    from taxi_rides_ny_duckdb_spark import contract, session
    from taxi_rides_ny_duckdb_spark.sources import registry

    contract.load_all()
    name = next(n for n in contract.QUERIES
                if contract.QUERIES[n] is not contract.BUILDERS[n])
    sentinel = spark.range(1)
    path = registry.table_path(sf_dir, "region")
    planted = {("scan", path): sentinel, ("plan", name, sf_dir): sentinel}
    monkeypatch.setitem(session._STORE, (id(spark),),
                        (spark.sparkContext, planted, []))
    scan = registry.load(spark, sf_dir, "region")
    assert scan is not sentinel and "r_regionkey" in scan.columns
    assert contract.QUERIES[name](spark, sf_dir) is not sentinel


def test_store_sweeps_only_when_a_new_session_appears(spark, tmp_path, monkeypatch):
    """A lookup hit, a miss and a scratch dir in a known session never
    run the eviction sweep; the first lookup from a NEW session drops
    every stopped session's entries and removes its directories, and
    leaves live sessions alone."""
    from types import SimpleNamespace

    from taxi_rides_ny_duckdb_spark import session

    monkeypatch.setattr(session, "_STORE", {})
    builds = []
    assert session.memo(spark, ("probe",), lambda: builds.append(1) or "v") == "v"
    dead_dir = tmp_path / "dead"
    dead_dir.mkdir()
    dead = (SimpleNamespace(_jsc=None), {("probe",): "stale"}, [str(dead_dir)])
    session._STORE["dead-session"] = dead

    assert session.memo(spark, ("probe",), lambda: builds.append(1) or "w") == "v"
    assert session.memo(spark, ("other",), lambda: "x") == "x"
    live_dir = session.scratch_dir(spark, "live_", str(tmp_path))
    assert builds == [1]
    assert session._STORE["dead-session"] is dead and dead_dir.is_dir()

    new_sc = SimpleNamespace(_jsc=object())
    new = SimpleNamespace(
        sparkContext=new_sc,
        _jsparkSession=SimpleNamespace(sessionUUID=lambda: "new-session"),
    )
    assert session.memo(new, ("probe",), lambda: "n") == "n"
    assert [sc for sc, _, _ in session._STORE.values()] == [spark.sparkContext, new_sc]
    assert not dead_dir.exists() and os.path.isdir(live_dir)


_RESTART_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from taxi_rides_ny_duckdb_spark import contract, session
from taxi_rides_ny_duckdb_spark.contract_extensions import _events_stream_dir
from taxi_rides_ny_duckdb_spark.operators.scale import sink_scratch_dir

sf = sys.argv[2]
contract.load_all()

def run():
    spark = session.get_spark(app_name="restart", master="local[2]",
                              shuffle_partitions=2)
    df = contract.QUERIES["a1_pricing_summary"](spark, sf)
    assert df.count() > 0
    return spark, df, _events_stream_dir(spark, sf)

a, df_a, dir_a = run()
a.stop()
b, df_b, dir_b = run()
assert contract.QUERIES["ext_partitioned_sink_prune"](b, sf).count() > 0
sink_root = os.path.dirname(sink_scratch_dir(sf, "orders_by_year"))
out = {
    "frame_is_new": df_b is not df_a,
    "frame_on_b": df_b.sparkSession is b and b.sparkContext._jsc is not None,
    "a_dir_gone": not os.path.exists(dir_a),
    "b_dir_live": os.path.isdir(dir_b),
    "keys_only_b": [sc for sc, _, _ in session._STORE.values()] == [b.sparkContext],
    "sink_live": os.path.isdir(sink_root),
    "dirs": [dir_a, dir_b],
    "sink_root": sink_root,
}
b.stop()
print("RESULT " + json.dumps(out))
"""


def test_store_survives_session_stop_and_restart(tmp_path):
    """A real stop + restart in one process: the second session gets
    fresh frames bound to itself, the stopped session's stream drop is
    removed the moment the new session first touches the store, only
    the new session's key remains, and the atexit hook removes the live
    session's directory and the process's sink root when the
    interpreter exits."""
    import json
    import subprocess
    import sys

    from conftest import REPO_DIR, SF_SMOKE

    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, REPO_DIR, SF_SMOKE],
        capture_output=True, text=True, timeout=180, env=env,
    )
    line = next((ln for ln in r.stdout.splitlines() if ln.startswith("RESULT ")), None)
    assert line is not None, r.stderr[-3000:]
    out = json.loads(line[len("RESULT "):])
    dirs = out.pop("dirs")
    sink_root = out.pop("sink_root")
    assert out == dict.fromkeys(out, True), out
    assert all(os.path.dirname(d) == str(tmp_path) for d in dirs)
    assert not any(os.path.exists(d) for d in [*dirs, sink_root])


def test_register_all_per_spark_session_and_path(spark, sf_dir):
    """Temp views and memoized frames belong to a SparkSession, not to
    its context: a ``newSession()`` on the same context gets its own
    registration and its own contract frames. Switching sf_dir
    A → B → A re-registers the view each time."""
    from urllib.parse import urlparse

    from conftest import SF_SMOKE

    from taxi_rides_ny_duckdb_spark import contract
    from taxi_rides_ny_duckdb_spark.sources.registry import register_all, table_path

    def registered(s):
        return [urlparse(f).path for f in s.table("nation").inputFiles()]

    register_all(spark, sf_dir, ("nation",))
    s2 = spark.newSession()
    register_all(s2, sf_dir, ("nation",))
    assert s2.sql("select count(*) from nation").first()[0] == 25
    contract.load_all()
    assert contract.QUERIES["a1_pricing_summary"](s2, sf_dir).sparkSession is s2

    for d in (SF_SMOKE, sf_dir):
        register_all(spark, d, ("nation",))
        assert registered(spark) == [table_path(d, "nation")]


@pytest.mark.parametrize(
    "name",
    [
        "ext_semdedup",
        "ext_contrastive_pairs",
        "ext_dedup_cluster_components",
        "ext_dedup_cluster_keep_best",
        "ext_leakage_safe_split",
        "ext_purged_kfold",
        "ext_corpus_shuffle",
        "j7_bucketed_layout",
    ],
)
def test_memoized_builder_rebuild_launches_no_job(spark, sf_dir, name):
    """These builders are memoized: each runs its eager work once per
    session or process (``ext_semdedup``'s ``_FUSED_LLOYD_*`` gate
    count, the shared near-dup index, the bucketed layout) or none at
    all, so a second build hands back the same frame and schedules no
    job (value parity stays in test_contract_parity)."""
    from taxi_rides_ny_duckdb_spark import contract

    contract.load_all()
    build = contract.QUERIES[name]
    first = build(spark, sf_dir)
    tracker = spark.sparkContext.statusTracker()
    # the status store is fed asynchronously: drain the listener bus so
    # the first build's jobs are recorded before each read
    drain = spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    before = tracker.getJobIdsForGroup()
    assert build(spark, sf_dir) is first
    drain()
    assert tracker.getJobIdsForGroup() == before
