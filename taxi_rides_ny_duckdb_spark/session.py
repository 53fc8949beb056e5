"""SparkSession factory.

The reference runs embedded DuckDB in-process (reference
``profiles.yml:5-7``); our equivalent of "engine configuration" is a
SparkSession pinned for deterministic cross-engine comparison and for
scale:

- AQE on (runtime partition coalescing + skew-join splitting) — the
  Spark analog of DuckDB's morsel-driven adaptive parallelism.
- ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are UTC-naive;
  without this, timestamp values diverge between engines.
- Arrow enabled — vectorized Python interop for Pandas UDFs.
- Shuffle partitions sized to the local core count; at cluster scale
  this is overridden per-job (AQE coalesces the rest).

The session-state store (``memo``, ``scratch_dir``) keeps what dbt's
view and table materializations keep (reference
``dbt_project.yml:40-41``) for the life of a Spark session: built plans
and scans, the written ``fact_trips``, streaming drops and indexes.
``cache.cache_scope`` instead frees frames after one unit of work.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def default_parallelism() -> int:
    """Core count the driver asked us to use (local mode)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "taxi_rides_ny_duckdb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Safe to call repeatedly — Spark returns the active session. When the
    driver supplies its own session (``__spark_entry__.entry``), we use
    theirs and only rely on per-query configs set here being defaults.
    """
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions if shuffle_partitions is not None else cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def session_key(spark: SparkSession) -> str:
    """The store's key for a session: its ``sessionUUID``. Per
    SparkSession, not per context: a frame and a temp view belong to
    the session that built them, so ``spark.newSession()`` gets its own
    entries. ``id(spark)`` can be GC-recycled, so a NEW session could
    alias a stopped one's key and hand out frames bound to a dead
    context (ADVICE r10)."""
    return spark._jsparkSession.sessionUUID()


# session_key → (SparkContext, {memo key: value}, [owned directories]).
_STORE: dict[str, tuple] = {}
# Directories this process owns whatever its sessions (the sink roots of
# ``operators/scale.sink_scratch_dir``), removed at interpreter exit.
_PROCESS_DIRS: set[str] = set()


def _session_state(spark: SparkSession) -> tuple:
    key = session_key(spark)
    state = _STORE.get(key)
    if state is None:
        # Only a NEW session retires stopped ones (their frames are bound
        # to a dead context), so a lookup hit never sweeps.
        for old in [k for k, (sc, _, _) in _STORE.items() if sc._jsc is None]:
            _remove_dirs(_STORE.pop(old)[2])
        state = _STORE[key] = (spark.sparkContext, {}, [])
    return state


@atexit.register
def _remove_live_dirs() -> None:
    for _, _, dirs in _STORE.values():
        _remove_dirs(dirs)
    _remove_dirs(sorted(_PROCESS_DIRS))


def _remove_dirs(dirs: list[str]) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def memo(spark: SparkSession, key: tuple, build):
    """The value stored under ``key`` for this session, calling
    ``build()`` on the first lookup only. Keys are tuples whose first
    element names the kind of state (``("plan", name, sf_dir)``)."""
    values = _session_state(spark)[1]
    if key not in values:
        values[key] = build()
    return values[key]


def scratch_dir(spark: SparkSession, prefix: str, parent: str | None = None) -> str:
    """A new empty directory owned by this session, removed with the
    session's entries or at interpreter exit. ``parent`` defaults to
    ``tempfile``'s directory, read at call time."""
    if parent is not None:
        os.makedirs(parent, exist_ok=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=parent)
    _session_state(spark)[2].append(path)
    return path


def remove_at_exit(path: str) -> str:
    """Register ``path`` for removal when the interpreter exits, for a
    directory the process owns rather than one session; returns it."""
    _PROCESS_DIRS.add(path)
    return path


def ensure_min_partitions(
    df, n: int | None = None, eager: bool = False, strict: bool = False
):
    """Repartition a DataFrame up to the session's parallelism if it
    has fewer partitions.

    ``strict=True`` fires on ANY deficit, not just a ≥2× one — for
    compute-bound stages (e.g. exact-decimal aggregation) where even a
    modest width gain beats the shuffle, and where parquet byte-range
    splitting can report partitions that carry no row groups (27
    "partitions" of a 6-row-group file have effective width 6 — the
    repartition restores true width).

    Small-file inputs (one parquet file ⇒ one partition) serialize
    CPU-heavy operators (shingling, hashing, vector math) onto a single
    core. A round-robin repartition costs one shuffle of the (small)
    input and buys full-width execution. At 100 TB inputs already have
    thousands of partitions, so this is a no-op — the guard makes the
    operator safe at both extremes.

    ``eager=True`` additionally ``localCheckpoint``s the repartitioned
    input (only in the below-target case, i.e. only when it is small).
    Measured: interpreted-mode expression trees (higher-order lambdas
    don't codegen) evaluated directly over a live shuffle read ran ~3×
    slower wall than the identical stage over materialized blocks —
    regardless of AQE, partitioning scheme, or sortBeforeRepartition.
    Eager staging decouples the stages and restores full-width compute;
    at scale the branch never triggers, so nothing big is ever
    checkpointed."""
    if df.isStreaming:
        # A streaming frame has no static partition count to inspect,
        # and its micro-batch width comes from the SOURCE (e.g.
        # maxFilesPerTrigger=1 ⇒ 1-2 partitions) — which serializes
        # compute-heavy stages exactly like the small-file batch case
        # (measured: the minhash pass over a 2-file micro-batch ran
        # ~13× slower than the same batch plan). Repartition
        # unconditionally: micro-batches are bounded by definition, so
        # the extra shuffle is one bounded batch's bytes.
        return df.repartition(n or df.sparkSession.sparkContext.defaultParallelism)
    target = n or df.sparkSession.sparkContext.defaultParallelism
    # Default: fire only when repartitioning at least DOUBLES the
    # width — a full shuffle to go from 27 to 32 partitions costs far
    # more than the 15 % extra parallelism buys (measured 1.48 s vs
    # 0.32 s on a 3-column corr panel at sf1 — r7); the pathological
    # case the guard exists for is 1-2 scan partitions, where doubling
    # always holds.
    cur = df.rdd.getNumPartitions()
    if cur * 2 <= target or (strict and cur < target):
        df = df.repartition(target)
        return df.localCheckpoint() if eager else df
    return df


def barrier_filter(df, cond):
    """``df.filter(cond)`` that is guaranteed to evaluate ABOVE the
    DataFrame's current projection.

    Catalyst pushes filters through deterministic projections by
    substituting aliases into the condition — correct, but when the
    projection stages an expensive higher-order-function expression
    (HOFs are exempt from subexpression elimination), the substitution
    re-evaluates it per textual mention (measured 4-15× per row on the
    text pipeline). The barrier: a nondeterministic column that the
    condition references via an always-true predicate
    (``monotonically_increasing_id() >= 0``). Pushdown requires every
    projected field to be deterministic, and pruning can't drop a
    referenced column, so the filter stays put. Costs one long per row
    in one stage; changes no results.

    Streaming frames barrier on ``rand(0) >= -1`` instead:
    monotonically_increasing_id is one of the few expressions the
    streaming checker bans outright, but seeded rand is equally
    NONDETERMINISTIC to Catalyst (partition-stateful) and
    streaming-legal. A plain filter here is NOT an option — it was
    tried, and the re-inlined signature expressions made the streaming
    minhash pass ~16× slower than the identical batch plan (23 s vs
    1.4 s on a 50 k-doc micro-batch)."""
    b = "__pushdown_barrier"
    if df.isStreaming:
        return (
            df.withColumn(b, F.rand(0))
            .filter(cond & (F.col(b) >= -1))
            .drop(b)
        )
    return (
        df.withColumn(b, F.monotonically_increasing_id())
        .filter(cond & (F.col(b) >= 0))
        .drop(b)
    )


def tune_for_comparison(spark: SparkSession) -> SparkSession:
    """Pin runtime confs needed for DuckDB-oracle value parity on a
    session we did not create (the driver's). Idempotent."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # non-runtime conf on some builds; defaults are fine
    return spark
