"""Shuffle-discipline toolkit for 100 TB operation (EXTENSION).

The reference delegates physical strategy to embedded DuckDB on one
node; at cluster scale the dominant cost is the shuffle, and these are
the three standard levers Spark gives a pipeline to avoid or survive it:

- **Bucketed tables** (``write_bucketed`` / ``read_bucketed``): persist
  a table hash-partitioned AND sorted by its join key. Two tables
  bucketed on the same key with the same bucket count join with ZERO
  exchange — the sort-merge join reads co-located buckets directly.
  This is how a 100 TB fact repeatedly joined on ``orderkey`` avoids
  re-shuffling per query: pay the shuffle once at write time.
- **Salted joins** (``salted_join``): when one join key carries a
  disproportionate share of rows (zone 132 in taxi data, a viral doc id
  in web data), hash partitioning sends the whole key to one reducer.
  Salting splits the hot key across ``n_salts`` partitions by widening
  the key on the big side with a deterministic salt and replicating the
  small side across all salts. AQE's skew-join split handles *moderate*
  skew automatically (session.py turns it on); salting is the explicit
  lever for extreme single-key skew or non-AQE paths.
- **Partitioned layout** (``plans/runner.py`` ``partition_by`` +
  ``plans/core.partition_fact_by_month``): directory-partition facts by
  a coarse time key so time-ranged queries prune whole partitions at
  file-listing time (dynamic partition pruning covers the join case).
- **Z-order layout** (``zorder_key`` / ``zorder_write``): when queries
  filter on MORE THAN ONE column, a single-column sort wastes the
  row-group min/max stats on every other column; the Morton-interleaved
  sort tiles the multi-dimensional keyspace so each file's stats bound
  a tile and any clustered dimension prunes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int,
    sort_cols: tuple[str, ...] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ bucket-sorted) table.

    Bucket count is a contract between tables that intend to join: pick
    it once per key domain (e.g. 4096 for a 100 TB fact — ~25 GB of
    pre-shuffle input per bucket) and reuse it on every table sharing
    the key. ``sort_cols`` orders rows within each bucket file; Spark
    still inserts a within-partition Sort on read (no shuffle) — the
    Exchange elimination is the contract.

    ``path`` makes the table EXTERNAL at that location, clearing any
    stale files first — the robust form when the catalog is
    session-scoped but file layouts outlive sessions (exactly the
    local-mode situation, and the common external-warehouse one: a
    leftover managed-table directory from a dead session otherwise
    fails the write with LOCATION_ALREADY_EXISTS)."""
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    if path is not None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as hive-partitioned parquet under ``path``. A filter
    on a partition column then prunes whole directories at planning
    time (``PartitionFilters`` in the scan) — reading one day, not the
    lake. Per-partition refresh is the runner's ``incremental``
    materialization (``plans/runner.py``, dynamic partition overwrite);
    this is the full-refresh form."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def sink_scratch_dir(sf_dir: str, name: str) -> str:
    """Per-SF, per-PROCESS scratch location for sink round-trips: keyed
    by the dataset directory basename so sf0.01 driver runs and sf0.1
    bench runs never collide, AND by pid so two concurrent sessions on
    the same SF (e.g. bench and the correctness driver) never race on
    DROP TABLE + rmtree vs read (ADVICE r6). Reruns in one process
    rmtree before rewriting; the per-process root is removed when the
    interpreter exits (``session.remove_at_exit``)."""
    import os

    from ..session import remove_at_exit

    base = os.path.basename(sf_dir.rstrip("/")) or "default"
    root = os.path.join("/tmp", "spark_graft_sinks", f"{base}_pid{os.getpid()}")
    return os.path.join(remove_at_exit(root), name)


def source_fingerprint(sf_dir: str, table: str) -> str:
    """Short content fingerprint (mtime + size, hex-hashed) of a source
    parquet — key process-local derived layouts by it so a REGENERATED
    dataset at the same path (the scale-data regen workflow) or two
    dataset dirs sharing a basename rebuild the layout instead of
    silently reusing a stale one; the stale-reuse failure surfaced as
    an oracle row mismatch, not a rebuild (ADVICE r9). Directory
    sources fold every member file in name order."""
    import hashlib
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    else:
        st = os.stat(path)
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def ensure_layout(sf_dir: str, name: str, build) -> str:
    """Build-once per (dataset, process) on-disk layout cache: calls
    ``build(path)`` the first time a process asks for ``name`` over
    ``sf_dir``, then returns the same path for free on every later
    call (a ``_LAYOUT_OK`` marker gates rebuilds). This is the ingest
    side of the scale story made explicit: at 100 TB the partitioned /
    sorted / manifested layout is written ONCE at ingest and every
    query reads the pruned form — the contract fixtures replay exactly
    that amortization (first call pays the rewrite, every rerun and
    every sibling query reads pruned). pid-keyed like
    ``sink_scratch_dir`` so concurrent driver/bench sessions never
    race on overwrite-vs-read."""
    import os

    path = sink_scratch_dir(sf_dir, f"layout_{name}")
    marker = os.path.join(path, "_LAYOUT_OK")
    if not os.path.exists(marker):
        build(path)
        with open(marker, "w") as fh:
            fh.write("ok")
    return path


def partitioned_id_layout(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    id_col: str,
    bucket_size: int = 1024,
) -> str:
    """Hive-partition ``table`` by ``floor(id/bucket_size)`` (column
    ``__bkt``) under a process-local layout dir — the cure for
    fixed-id-subset workloads whose scan otherwise grows with the
    corpus: a filter on ``__bkt`` prunes whole directories at
    planning time, so reading ids [0, 100) touches one bucket no
    matter how many billions of rows the table grows. Built once per
    process via ``ensure_layout``."""
    from ..sources.registry import load

    def build(path: str) -> None:
        df = load(spark, sf_dir, table)
        df.withColumn(
            "__bkt", F.floor(F.col(id_col) / F.lit(bucket_size)).cast("long")
        ).write.mode("overwrite").partitionBy("__bkt").parquet(path)

    return ensure_layout(sf_dir, f"{table}_by_{id_col}_{bucket_size}", build)


def pruned_id_range_read(
    spark: SparkSession,
    path: str,
    id_col: str,
    lo: int,
    hi: int,
    bucket_size: int = 1024,
) -> DataFrame:
    """Range read through a ``partitioned_id_layout``: the ``__bkt``
    predicate prunes directories at planning time (PartitionFilters in
    the scan), the row-level ``id`` predicate re-filters inside the
    surviving buckets — pruning is an optimization, never a
    correctness dependency. [lo, hi) semantics."""
    df = spark.read.parquet(path)
    return (
        df.filter(
            (F.col("__bkt") >= lo // bucket_size)
            & (F.col("__bkt") <= (hi - 1) // bucket_size)
            & (F.col(id_col) >= F.lit(lo))
            & (F.col(id_col) < F.lit(hi))
        )
        .drop("__bkt")
    )


def sorted_topk_layout(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    df_build,
    sort_col: str,
    tie_col: str,
    n_files: int = 16,
) -> tuple[str, str]:
    """Materialized-sort-column layout for fixed top-k workloads:
    write ``df_build()`` range-partitioned on (sort_col, tie_col) —
    non-overlapping per-file ranges, sorted within — plus a tiny
    per-file min/max/count MANIFEST (``file_stats_index``). A top-k
    query then reads the manifest (n_files rows), takes the minimal
    file PREFIX covering k rows, and scans only that — the scan stops
    growing with the corpus, which a computed-on-read sort key can
    never do. Returns (data_path, manifest_path)."""

    def build(path: str) -> None:
        df = df_build()
        (
            df.repartitionByRange(n_files, F.col(sort_col), F.col(tie_col))
            .sortWithinPartitions(sort_col, tie_col)
            .write.mode("overwrite")
            .parquet(path)
        )
        idx = file_stats_index(spark.read.parquet(path), [sort_col])
        idx.coalesce(1).write.mode("overwrite").parquet(path + "__manifest")

    data = ensure_layout(sf_dir, f"topk_{name}", build)
    return data, data + "__manifest"


def topk_prefix_scan(
    spark: SparkSession,
    data_path: str,
    manifest_path: str,
    sort_col: str,
    k: int,
) -> DataFrame:
    """Plan a global top-k THROUGH a ``sorted_topk_layout`` manifest:
    sort the manifest rows by ``{sort_col}_min``, verify the file
    ranges are non-overlapping (equal sort keys land in one range
    partition, so a sound layout always passes; an unsound one falls
    back to scanning everything — pruning is never a correctness
    dependency), and read the minimal prefix whose cumulative row
    count reaches k. The driver handles n_files rows — the same
    bounded class as broadcast thresholds. The caller still applies
    its own orderBy/limit on the returned frame."""
    rows = sorted(
        spark.read.parquet(manifest_path).collect(),
        key=lambda r: (r[f"{sort_col}_min"], r["file"]),
    )
    sound = all(
        rows[i][f"{sort_col}_max"] <= rows[i + 1][f"{sort_col}_min"]
        for i in range(len(rows) - 1)
    )
    if not sound:
        return spark.read.parquet(data_path)
    keep, covered = [], 0
    for r in rows:
        keep.append(r["file"])
        covered += r["n_rows"]
        if covered >= k:
            break
    if not keep:
        return spark.read.parquet(data_path)
    return spark.read.parquet(*keep)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table with its bucket metadata intact (only the
    catalog path preserves bucketing — ``spark.read.parquet`` on the
    files would forget it)."""
    return spark.table(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
    salt_source: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: ``left`` (big, possibly skewed) gets a
    deterministic salt in [0, n_salts); ``right`` (smaller) is
    replicated once per salt value; the join runs on (key, salt) so a
    hot key spreads over ``n_salts`` reducers.

    Result equality: (key, salt) partitions a plain equi-join's row
    pairs — every matched pair appears under exactly one salt — so the
    output multiset is identical to ``left.join(right, key)``.

    ``salt_source``: column whose hash drives the salt. Default uses all
    of ``left``'s columns — deterministic per row content (reruns and
    retries produce the same salt, unlike ``F.rand()``), and spreads
    duplicate keys as long as payloads differ. Pass a unique id column
    when full-row hashing is needlessly wide."""
    salt_col = (
        F.pmod(F.hash(F.col(salt_source)), F.lit(n_salts))
        if salt_source
        else F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    )
    l = left.withColumn("__salt", salt_col)
    r = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = l.join(r, [key, "__salt"], how)
    return out.drop("__salt")


def write_sorted_runs(
    df: DataFrame,
    pos_col: str,
    n_runs: int,
    path: str,
    total_rows: int | None = None,
) -> None:
    """Export ``df`` as ``n_runs`` globally-ordered sorted runs: run
    ``r`` holds positions ``[r·total/n_runs, (r+1)·total/n_runs)`` of
    ``pos_col`` and its files are internally sorted — the layout a
    training data loader wants (open run r, read sequentially; global
    order = runs in index order), produced WITHOUT a global sort.

    ``run = floor(pos · n_runs / total)`` is an explicit, deterministic
    range partitioning: Spark's ``repartitionByRange`` SAMPLES its
    boundaries (not engine-replayable, runs uneven under skew), while
    an exact rank column — e.g. ``sampling.corpus_shuffle`` output —
    makes perfectly even cuts a pure projection. Exact integer
    division; no doubles.

    Plan: one hash shuffle on the run id (each run lands on one task),
    a WITHIN-partition sort (no global ordering exchange), hive
    ``partitionBy(run)`` layout so a loader reading run ``r`` prunes
    every other directory at file-listing time. Pass ``total_rows``
    when the caller already knows it (corpus_shuffle computed it);
    otherwise one count pass."""
    if n_runs <= 0:
        raise ValueError("n_runs must be positive")
    total = df.count() if total_rows is None else total_rows
    if total == 0:
        out = df.withColumn("run", F.lit(0))
    else:
        prod = F.col(pos_col).cast("long") * n_runs
        out = df.withColumn(
            "run", ((prod - prod % total) / total).cast("int")
        )
    (
        out.repartition(max(n_runs, 1), "run")
        .sortWithinPartitions("run", pos_col)
        .write.mode("overwrite")
        .partitionBy("run")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout — multi-dimensional row-group pruning
# ---------------------------------------------------------------------------


def zorder_key(cols: list, bits: int = 16):
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column, dimension-major (bit i of dim d lands at position
    i·ndims + d). Inputs must already be non-negative ints below
    2**bits — use ``rank_bucket`` (or an explicit ``& mask``) first;
    values at or above 2**bits would silently collide, so callers own
    the normalization.

    Why this matters at 100 TB: sorting a table by (x, y) clusters x
    perfectly and y not at all — a y-selective predicate reads every
    row group. Sorting by the INTERLEAVED key clusters both dimensions
    ~equally, so parquet min/max stats prune row groups for predicates
    on x, on y, or on both (the Delta/Iceberg OPTIMIZE ZORDER lever,
    built here from pure column arithmetic). The key is a plain
    integer expression — whole-stage-codegen'd, no UDF, identical
    arithmetic available to any engine (``zorder_key_sql``).
    """
    n = len(cols)
    terms = []
    for d, c in enumerate(cols):
        # long up front: shiftleft on an IntegerType wraps at bit 31
        # (3 dims × 16 bits reaches bit 47).
        c = c.cast("long")
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1)), i * n + d
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out.cast("long")


def zorder_key_sql(cols: list[str], bits: int = 16) -> str:
    """The identical Morton arithmetic as ANSI SQL (DuckDB-runnable) —
    the oracle twin of ``zorder_key``."""
    n = len(cols)
    # The per-term BIGINT cast matters: an INTEGER-typed bit shifted
    # left ≥31 overflows int32 in engines that keep 32-bit arithmetic
    # (DuckDB raises; Spark's shiftleft already widens via the long
    # literal path).
    terms = [
        f"((CAST(({c} >> {i}) AS BIGINT) & 1) << {i * n + d})"
        for d, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def rank_bucket(c, lo: float, hi: float, bits: int = 16):
    """Scale a value with known [lo, hi] bounds onto the integer grid
    [0, 2**bits): clamp, then fixed-point scale. Pure IEEE-double
    multiply + floor — deterministic and engine-portable. Bounds come
    from table stats (one cheap agg, or catalog min/max at scale)."""
    clamped = F.least(F.greatest(c.cast("double"), F.lit(float(lo))), F.lit(float(hi)))
    span = float(hi) - float(lo)
    return F.floor(
        (clamped - F.lit(float(lo))) * F.lit(((1 << bits) - 1) / span)
    ).cast("long")


def zorder_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Rewrite ``df`` Z-ordered on ``cols``: per-column min/max (one
    bounded agg), rank-scale, Morton key, range-repartition into
    ``n_files`` ascending key ranges, sort within each, write parquet.
    Range partitioning (not hash) is what makes file-level min/max
    stats tight — each file owns a contiguous Z-range, i.e. a tile of
    the (x, y, ...) space, so single-dimension predicates skip most
    files. The shuffle is the one rewrite cost, paid once at layout
    time — exactly the partitioned-sink trade."""
    bounds = df.agg(
        *[F.min(c).alias(f"{c}__lo") for c in cols],
        *[F.max(c).alias(f"{c}__hi") for c in cols],
    ).collect()[0]
    key = zorder_key(
        [
            rank_bucket(
                F.col(c), bounds[f"{c}__lo"], bounds[f"{c}__hi"], bits
            )
            for c in cols
        ],
        bits,
    )
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Small-file compaction (OPTIMIZE) + file-stats data-skipping index
# ---------------------------------------------------------------------------


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    rows_per_file: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Rewrite a fragmented parquet directory into right-sized files —
    the OPTIMIZE/rewrite_data_files lever every lakehouse ships.
    Streaming ingest and over-parallel writes leave thousands of tiny
    files per partition; each costs a task, a footer parse and an open
    round trip, so scan throughput collapses long before the bytes
    matter (the inverse failure mode of ``session.ensure_min_partitions``'s
    too-FEW-splits trap). Compaction is one read → repartition(n) →
    write; the shuffle is the rewrite price, paid once, amortized over
    every subsequent scan — the partitioned-sink trade again.

    Sizing: with ``rows_per_file`` the file count is
    ceil(rows / rows_per_file) — exact, deterministic,
    engine-replayable (the oracled contract path). Default is
    bytes-based: ceil(source bytes / target_file_bytes), reading sizes
    from the source listing (at warehouse scale these come from the
    table manifest, not a filesystem walk; same arithmetic).
    Round-robin repartition (no column) because compaction must not
    disturb whatever distribution the data already has — layout
    changes are ``zorder_write``/``write_sorted_runs``' job.

    Returns ``{"n_files_before", "n_files_after", "n_rows"}``."""
    import math
    import os

    df = spark.read.parquet(src_path)
    before = df.inputFiles()
    n_rows = df.count()
    if rows_per_file is not None:
        if rows_per_file <= 0:
            raise ValueError("rows_per_file must be positive")
        n = max(1, math.ceil(n_rows / rows_per_file))
    else:
        total = 0
        for f in before:
            local = f.removeprefix("file:")
            if os.path.exists(local):
                total += os.path.getsize(local)
        n = max(1, math.ceil(total / target_file_bytes))
    df.repartition(n).write.mode("overwrite").parquet(dst_path)
    after = spark.read.parquet(dst_path).inputFiles()
    return {
        "n_files_before": len(before),
        "n_files_after": len(after),
        "n_rows": n_rows,
    }


def file_stats_index(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-file min/max/count manifest — the Delta data-skipping /
    Iceberg manifest-stats analog as a plain table: one row per
    physical file with ``n_rows`` and ``<col>_min`` / ``<col>_max``
    for each indexed column. Built in ONE scan by grouping on
    ``input_file_name()`` (map-side combined to one partial row per
    file per task — the same cheapest-stat shape as the shard
    summaries); in production this is the appendable artifact written
    at ingest, and query planning reads #files rows instead of
    footers. Complements ``zorder_write``: clustering makes per-file
    ranges TIGHT, this index makes them ADDRESSABLE without opening
    files."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.groupBy(
        F.input_file_name().alias("file")
    ).agg(*aggs)


def pruned_file_scan(
    spark: SparkSession,
    index: DataFrame,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, int, int]:
    """Plan a range scan THROUGH the stats index: keep only files whose
    [min, max] envelope intersects [lo, hi], read exactly those. The
    collect is index-sized (#files rows — the same driver-bounded
    class as broadcast thresholds); the returned frame still carries
    the row-level filter, so stats-envelope false positives are
    re-filtered by the engine (pruning is an optimization, never a
    correctness dependency). Returns (frame, n_files_total,
    n_files_kept)."""
    rows = index.select(
        "file", F.col(f"{col}_min").alias("lo"), F.col(f"{col}_max").alias("hi")
    ).collect()
    keep = [r["file"] for r in rows if not (r["hi"] < lo or r["lo"] > hi)]
    n_total, n_keep = len(rows), len(keep)
    if not keep:
        base = spark.read.parquet(*[r["file"] for r in rows]).limit(0)
        return base.where(F.col(col).between(lo, hi)), n_total, 0
    return (
        spark.read.parquet(*keep).where(F.col(col).between(lo, hi)),
        n_total,
        n_keep,
    )
