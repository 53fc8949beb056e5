"""Mergeable distinct-count sketches (EXTENSION — no reference analog).

The incremental-rollup pattern every 100 TB warehouse converges on:
materialize ONE small HLL sketch row per shard (ingest partition, day,
source file batch — whatever the append unit is), then answer any
"distinct X over this subset of shards" question by UNIONING the
relevant sketches — the raw fact table is never rescanned. A new shard
appends one sketch row; historical shards are immutable. This is what
makes daily "distinct users this quarter" queries O(#shards) instead
of O(corpus) — the difference between a dashboard refresh and a fact
scan at scale.

Spark-first: the sketches are the engine's own Apache DataSketches HLL
aggregates (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate`` — JVM-side, mergeable, whole-stage-codegen
around them), not a reimplementation. Merge is associative and
insertion is commutative, so the shard decomposition is semantically
free; lgConfigK is pinned so every shard's sketch is union-compatible.

Like the profiler's sketch pass (``plans/profile.profile_approx``),
the raw register arrays are engine-specific, so the ORACLED query is
the *guarded* form: exact distinct counts value-matched against
DuckDB plus a deterministic boolean asserting the union-of-shards
estimate sits within its published error bound (lgConfigK=12 ⇒ RSE
≈ 1.04/√4096 ≈ 1.6 %; the default bound of 10 % is >6σ). A sketch
that ever left its guarantee flips the boolean and fails the driver's
value hash. The pure-sketch path (``sketch_rollup_estimate``) is the
production scan.

Scale shape:
- ``shard_distinct_sketches``: ONE groupBy(shard) shuffle over the
  fact table — the same shuffle any per-shard stat pays — emitting
  one ~2 KB sketch row per shard. In production this frame is a
  materialized, appendable table.
- ``sketch_rollup_estimate``: groupBy(rollup_key) over SKETCH ROWS
  (#shards of them, not #rows) — negligible at any scale.
- ``sketch_rollup_guarded`` adds the exact side for certification:
  the engine's two-phase ``count_distinct`` (partial distinct per
  partition, never raw rows over the wire) joined to the estimates on
  the rollup key (two tiny aggregates; AQE broadcasts).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parity import PARITY_DP

DEFAULT_LGK = 12


def shard_distinct_sketches(
    df: DataFrame,
    shard: Column,
    value_col: str,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """One row per shard: ``(shard, hll_sketch, n_rows)``.

    ``hll_sketch`` is a mergeable DataSketches HLL register array
    (binary); ``n_rows`` is the exact non-null row count, carried so
    rollups can report volume alongside distincts without another
    pass. NULLs are ignored by ``hll_sketch_agg`` (matching
    ``COUNT(DISTINCT ...)`` semantics), so ``n_rows`` counts non-null
    too — the two columns describe the same population."""
    return df.groupBy(shard.alias("shard")).agg(
        F.hll_sketch_agg(value_col, lgk).alias("hll_sketch"),
        F.count(value_col).alias("n_rows"),
    )


def sketch_rollup_estimate(
    sketches: DataFrame,
    rollup_fn: Callable[[Column], Column],
) -> DataFrame:
    """Union shard sketches per rollup key — the production path.

    Input is the (tiny) sketch frame; output is one row per rollup
    key: ``(rollup_key, n_shards, n_rows, approx_distinct)``. No scan
    of the fact table anywhere in this plan — that is the point.
    ``rollup_fn`` maps the shard column to its rollup key (e.g.
    month → year)."""
    return sketches.groupBy(rollup_fn(F.col("shard")).alias("rollup_key")).agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n_rows").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg("hll_sketch")).alias(
            "approx_distinct"
        ),
    )


def sketch_rollup_guarded(
    df: DataFrame,
    shard: Column,
    rollup_fn: Callable[[Column], Column],
    value_col: str,
    lgk: int = DEFAULT_LGK,
    rel_bound: float = 0.10,
) -> DataFrame:
    """The certification query: union-of-shards estimate vs exact.

    ``rollup_fn`` maps a shard value to its rollup key (e.g. shard =
    ship month, rollup = year of that month), and is applied to the
    SHARD column on both sides — so the shard decomposition nests
    inside the rollup grain BY CONSTRUCTION; a value appearing in two
    shards of one key is de-duplicated by the HLL union exactly as
    the exact side's DISTINCT de-duplicates it.

    Output per rollup key (all engine-stable):
    ``(rollup_key, n_shards, exact_distinct, within_bound)`` where
    ``within_bound ⇔ |estimate − exact| ≤ rel_bound·exact``. The
    estimate itself is deliberately NOT an output column — DuckDB
    cannot replay a DataSketches register array; the boolean (oracle:
    literal TRUE) is the evidence, exactly the
    ``prof_lineitem_approx_guarded`` pattern.

    Plan notes, measured at the sf1 checkpoint: the sketch pass's
    map-side combine is what makes it cheap — each input partition
    emits ONE ~2 KB register array per shard, so the exchange carries
    kilobytes however big the fact table is. A rejected variant
    pre-distinct'ed (shard, value) pairs to share one scan between
    both sides (sound by HLL idempotence — duplicates never move a
    register): it was ~25 % SLOWER, because the pair-distinct
    exchange shuffles megabytes where the sketch exchange shuffles
    kilobytes — partial aggregation beats deduplication here. The
    exact side uses the engine's own two-phase count_distinct
    (partial distinct per partition, exact final) for the same
    map-side-bounded reason."""
    est = sketch_rollup_estimate(
        shard_distinct_sketches(df, shard, value_col, lgk), rollup_fn
    )
    # count_distinct ignores NULLs — same population as the sketch.
    exact = df.groupBy(rollup_fn(shard).alias("rollup_key")).agg(
        F.count_distinct(F.col(value_col)).alias("exact_distinct")
    )
    return (
        est.join(exact, "rollup_key")
        .select(
            "rollup_key",
            "n_shards",
            "exact_distinct",
            (
                F.abs(
                    F.col("approx_distinct").cast("double")
                    - F.col("exact_distinct")
                )
                <= F.lit(rel_bound) * F.col("exact_distinct")
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histograms → quantile rollup
# ---------------------------------------------------------------------------
#
# The quantile twin of the HLL rollup above, with one better property:
# a fixed-bin histogram is EXACTLY mergeable (bin counts sum linearly)
# and its quantile interpolation is plain arithmetic — so unlike the
# HLL register array, the whole path replays in any engine and the
# contract query is fully value-oracled, not guard-oracled. Per shard
# the artifact is ≤ n_bins rows of (shard, bin, count); any
# "p95 over this subset of shards" question is a SUM + running-total +
# linear interpolation over merged bins — no fact rescan. Accuracy is
# bin-width-bounded (edges come from domain knowledge or a one-time
# quantile probe), which is the classic monitoring-grade trade.


def shard_histograms(
    df: DataFrame,
    shard: Column,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 32,
) -> DataFrame:
    """One row per (shard, bin): the mergeable long-form histogram.

    Bin i covers [lo + i·w, lo + (i+1)·w) with w = (hi−lo)/n_bins;
    values outside [lo, hi] clamp into the edge bins (count is never
    lost — the monitoring convention). NULLs are dropped (no bin).
    ONE groupBy(shard, bin) shuffle over the fact table, map-side
    combined to ≤ n_bins rows per shard per partition."""
    w = (float(hi) - float(lo)) / n_bins
    bin_ = F.least(
        F.greatest(
            F.floor((F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(w)),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(shard.alias("shard"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile_rollup(
    hists: DataFrame,
    rollup_fn: Callable[[Column], Column],
    quantiles: list[float],
    lo: float,
    hi: float,
    n_bins: int = 32,
) -> DataFrame:
    """Merge shard histograms per rollup key and estimate quantiles.

    Merge = groupBy(rollup_key, bin) SUM (exact, order-free); estimate
    = running-total + linear interpolation inside the target bin
    (``lo_edge + (target − cum_below)/bin_n · w``, target = q·n with
    the n-th-smallest convention ``ceil(q·n)``). Every step is integer
    counts + one double expression, rounded at ``PARITY_DP`` — exactly
    replayable as ANSI SQL, which is what makes this rollup fully
    value-oracled. Output: one row per rollup key with ``n_values``
    and one ``p{q}_r`` column per quantile. Cost is |keys·bins| rows —
    nothing here touches the fact table."""
    from pyspark.sql.window import Window

    w = (float(hi) - float(lo)) / n_bins
    merged = hists.groupBy(
        rollup_fn(F.col("shard")).alias("rollup_key"), "bin"
    ).agg(F.sum("n").alias("bin_n"))
    key_w = Window.partitionBy("rollup_key")
    order_w = key_w.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = merged.select(
        "rollup_key",
        "bin",
        "bin_n",
        F.sum("bin_n").over(key_w).alias("n_values"),
        F.coalesce(F.sum("bin_n").over(order_w), F.lit(0)).alias("cum_below"),
    )
    aggs = [F.max("n_values").alias("n_values")]
    for q in quantiles:
        target = F.ceil(F.lit(q) * F.col("n_values"))
        est = (
            F.lit(float(lo))
            + F.col("bin").cast("double") * F.lit(w)
            + ((target - F.col("cum_below")) / F.col("bin_n")) * F.lit(w)
        )
        hit = (target > F.col("cum_below")) & (
            target <= F.col("cum_below") + F.col("bin_n")
        )
        name = f"p{int(round(q * 100)):02d}_r"
        aggs.append(
            F.round(F.max(F.when(hit, est)), PARITY_DP).alias(name)
        )
    return cum.groupBy("rollup_key").agg(*aggs)


# ---------------------------------------------------------------------------
# Mergeable per-shard top-K summaries → heavy-hitter rollup
# ---------------------------------------------------------------------------
#
# The frequent-items member of the trilogy (HLL distinct above,
# histogram quantiles below it, heavy hitters here): per shard keep the
# exact top-K keys by count plus ONE residual bound — the count of the
# first key that was dropped. Merging shards is then pure integer
# arithmetic with a provable sandwich: for any key,
#   est_lo = Σ kept counts            ≤ true count
#   est_hi = est_lo + Σ residual_bound over shards where the key was
#            NOT kept                 ≥ true count
# (in a shard that dropped the key, its count is ≤ that shard's
# residual bound by construction of the top-K cut). This is the
# SpaceSaving/Misra–Gries guarantee rebuilt on deterministic shards —
# and because every step is exact counts + deterministic tie-breaks,
# the WHOLE path replays as ANSI SQL: unlike the HLL register array the
# contract query is fully value-oracled, bounds included.
#
# Scale shape: one groupBy(shard, key) shuffle over the fact table
# (map-side combined), a window over the per-shard COUNT rows (≤ key
# cardinality per shard, never raw rows), and the artifact is ≤ K+0
# rows per shard — appendable, immutable, O(#shards·K) to answer any
# "top talkers over this subset of shards" question with no fact
# rescan.


def shard_topk_summaries(
    df: DataFrame,
    shard: Column,
    key_col: str,
    k: int = 10,
    two_level: bool = True,
) -> DataFrame:
    """One row per (shard, kept key): the mergeable top-K summary.

    Output ``(shard, key, n, residual_bound)`` — ``n`` is the exact
    count of ``key`` in ``shard``; ``residual_bound`` (repeated on the
    shard's kept rows — ≤ K of them, the artifact stays tiny) is the
    count of the (K+1)-th key, i.e. an upper bound on EVERY dropped
    key's count in that shard; 0 when nothing was dropped. NULL keys
    are excluded (no heavy-hitter semantics for NULL). Ties at the cut
    break deterministically by (n DESC, key ASC) — part of the
    contract so the oracle replays the same kept set.

    The per-shard cut routes through the SAME two-level engine as
    ``cap_per_group``/``weighted_sample_per_group``
    (``sampling._keyed_top_per_group``, order key = −n, tie = key ASC,
    cap = K+1): after the count aggregate, a per-partition Arrow
    partial top-(K+1) prunes BEFORE the exchange, so a shard with a
    billion distinct keys (one hot ingest day) arrives at its window
    task already cut to (K+1)·P rows instead of serializing its whole
    key space through one reducer — identical output by the
    partition-winner containment argument, property-tested equal to
    the single-window form. ``two_level=False`` skips that pre-cut, so
    the (n DESC, key ASC) window below makes the one K+1 cut (the
    streaming job's micro-batches are already ingest-sized)."""
    from .sampling import _keyed_top_per_group

    counts = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(shard.alias("shard"), F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = (
        _keyed_top_per_group(counts, (-F.col("n")).cast("long"), "key", "shard", k + 1)
        if two_level
        else counts
    )
    from pyspark.sql.window import Window

    # ≤ K+1 rows per shard from here on — the window is artifact-sized.
    w = Window.partitionBy("shard").orderBy(F.desc("n"), F.asc("key"))
    ranked = top.select("shard", "key", "n", F.row_number().over(w).alias("__rn"))
    residual = ranked.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("__rn") == k + 1, F.col("n"))), F.lit(0).cast("long")
        ).alias("residual_bound")
    )
    return (
        ranked.where(F.col("__rn") <= k)
        .join(residual, "shard")
        .select("shard", "key", "n", "residual_bound")
    )


def topk_rollup(
    summaries: DataFrame,
    rollup_fn: Callable[[Column], Column],
    n_top: int = 5,
) -> DataFrame:
    """Merge shard top-K summaries per rollup key — the production
    path; nothing here touches the fact table.

    Per (rollup key, key): ``est_lo`` sums the counts from shards that
    kept the key; ``est_hi`` adds the residual bounds of the rollup's
    OTHER shards (where the key may hide below the cut). Candidates
    rank by (est_lo DESC, key ASC) and the top ``n_top`` survive.
    Output ``(rollup_key, rank, key, est_lo, est_hi)`` with the
    guarantee est_lo ≤ true count ≤ est_hi. Cost is O(#shards·K) rows
    end to end — two tiny aggregates and one tiny join; AQE broadcasts
    the per-rollup residual totals."""
    from pyspark.sql.window import Window

    per_shard = summaries.select("shard", "residual_bound").distinct()
    totals = per_shard.groupBy(
        rollup_fn(F.col("shard")).alias("rollup_key")
    ).agg(F.sum("residual_bound").alias("total_residual"))
    per_key = summaries.groupBy(
        rollup_fn(F.col("shard")).alias("rollup_key"), "key"
    ).agg(
        F.sum("n").alias("est_lo"),
        F.sum("residual_bound").alias("present_residual"),
    )
    est = per_key.join(totals, "rollup_key").select(
        "rollup_key",
        "key",
        "est_lo",
        (
            F.col("est_lo") + F.col("total_residual") - F.col("present_residual")
        ).alias("est_hi"),
    )
    w = Window.partitionBy("rollup_key").orderBy(F.desc("est_lo"), F.asc("key"))
    return (
        est.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= n_top)
        .select("rollup_key", "rank", "key", "est_lo", "est_hi")
    )


def topk_rollup_certified(
    df: DataFrame,
    shard: Column,
    rollup_fn: Callable[[Column], Column],
    key_col: str,
    k: int = 10,
    n_top: int = 5,
) -> DataFrame:
    """The certification query: merged top-N with the exact count
    joined in and the sandwich asserted per row.

    Adds ``exact_n`` (one groupBy over the fact — what production
    explicitly avoids; it's here to certify the summaries) and
    ``bound_ok ⇔ est_lo ≤ exact_n ≤ est_hi``. Because every step is
    deterministic integer arithmetic, the oracle value-matches ALL
    columns — bounds, exact, and the boolean — not just a guard."""
    top = topk_rollup(shard_topk_summaries(df, shard, key_col, k), rollup_fn, n_top)
    exact = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(
            rollup_fn(shard).alias("rollup_key"), F.col(key_col).alias("key")
        )
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return top.join(exact, ["rollup_key", "key"]).select(
        "rollup_key",
        "rank",
        "key",
        "est_lo",
        "est_hi",
        "exact_n",
        (
            (F.col("est_lo") <= F.col("exact_n"))
            & (F.col("exact_n") <= F.col("est_hi"))
        ).alias("bound_ok"),
    )


def topk_rollup_sql(
    table: str,
    shard_sql: str,
    rollup_sql: str,
    key_sql: str,
    k: int = 10,
    n_top: int = 5,
) -> str:
    """The identical shard-summary + merge arithmetic as ANSI SQL
    (DuckDB-runnable) — the oracle twin of ``shard_topk_summaries`` →
    ``topk_rollup_certified``. Deliberately builds the per-shard
    top-K artifact first and merges it (same deterministic tie-breaks),
    so the oracle replays the DECOMPOSED path, not a shortcut over raw
    rows."""
    return f"""
    WITH counts AS (
      SELECT {shard_sql} AS shard, {key_sql} AS key, COUNT(*) AS n
      FROM {table}
      WHERE {key_sql} IS NOT NULL
      GROUP BY 1, 2
    ), ranked AS (
      SELECT shard, key, n,
             ROW_NUMBER() OVER (PARTITION BY shard ORDER BY n DESC, key ASC) AS rn
      FROM counts
    ), residual AS (
      SELECT shard,
             COALESCE(MAX(CASE WHEN rn = {k + 1} THEN n END), 0) AS residual_bound
      FROM ranked GROUP BY shard
    ), kept AS (
      SELECT r.shard, r.key, r.n, s.residual_bound
      FROM ranked r JOIN residual s ON r.shard = s.shard
      WHERE r.rn <= {k}
    ), totals AS (
      SELECT {rollup_sql} AS rollup_key,
             CAST(SUM(residual_bound) AS BIGINT) AS total_residual
      FROM (SELECT DISTINCT shard, residual_bound FROM kept) ps
      GROUP BY 1
    ), per_key AS (
      SELECT {rollup_sql} AS rollup_key, key,
             CAST(SUM(n) AS BIGINT) AS est_lo,
             CAST(SUM(residual_bound) AS BIGINT) AS present_residual
      FROM kept GROUP BY 1, 2
    ), est AS (
      SELECT p.rollup_key, p.key, p.est_lo,
             p.est_lo + t.total_residual - p.present_residual AS est_hi,
             ROW_NUMBER() OVER (PARTITION BY p.rollup_key
                                ORDER BY p.est_lo DESC, p.key ASC) AS rank
      FROM per_key p JOIN totals t ON p.rollup_key = t.rollup_key
    ), exact AS (
      SELECT {rollup_sql} AS rollup_key, key, COUNT(*) AS exact_n
      FROM (SELECT {shard_sql} AS shard, {key_sql} AS key FROM {table}
            WHERE {key_sql} IS NOT NULL) x
      GROUP BY 1, 2
    )
    SELECT e.rollup_key, CAST(e.rank AS INT) AS rank, e.key, e.est_lo, e.est_hi,
           x.exact_n,
           e.est_lo <= x.exact_n AND x.exact_n <= e.est_hi AS bound_ok
    FROM est e JOIN exact x ON e.rollup_key = x.rollup_key AND e.key = x.key
    WHERE e.rank <= {n_top}
    """


def histogram_quantile_sql(
    table: str,
    shard_sql: str,
    rollup_sql: str,
    value_sql: str,
    quantiles: list[float],
    lo: float,
    hi: float,
    n_bins: int = 32,
) -> str:
    """The identical merge + interpolation as ANSI SQL (DuckDB-runnable)
    — the oracle twin of ``shard_histograms`` → ``histogram_quantile_rollup``.
    Deliberately builds the per-shard histogram first and merges it,
    so the oracle replays the DECOMPOSED path, not a shortcut over raw
    rows."""
    w = (float(hi) - float(lo)) / n_bins
    qcols = ",\n           ".join(
        f"round(MAX(CASE WHEN CAST(ceil({q} * n_values) AS DOUBLE) > cum_below "
        f"AND CAST(ceil({q} * n_values) AS DOUBLE) <= cum_below + bin_n "
        f"THEN {lo} + CAST(bin AS DOUBLE) * {w} "
        f"+ ((CAST(ceil({q} * n_values) AS DOUBLE) - cum_below) / bin_n) * {w} "
        f"END), {PARITY_DP}) AS p{int(round(q * 100)):02d}_r"
        for q in quantiles
    )
    return f"""
    WITH shard_hist AS (
      SELECT {shard_sql} AS shard,
             CAST(least(greatest(floor((CAST({value_sql} AS DOUBLE) - {lo}) / {w}), 0), {n_bins - 1}) AS INT) AS bin,
             COUNT(*) AS n
      FROM {table}
      WHERE {value_sql} IS NOT NULL
      GROUP BY 1, 2
    ), merged AS (
      SELECT {rollup_sql} AS rollup_key, bin, SUM(n) AS bin_n
      FROM shard_hist GROUP BY 1, 2
    ), cum AS (
      SELECT rollup_key, bin, CAST(bin_n AS DOUBLE) AS bin_n,
             CAST(SUM(bin_n) OVER (PARTITION BY rollup_key) AS BIGINT) AS n_values,
             CAST(COALESCE(SUM(bin_n) OVER (PARTITION BY rollup_key ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS cum_below
      FROM merged
    )
    SELECT rollup_key, MAX(n_values) AS n_values,
           {qcols}
    FROM cum GROUP BY rollup_key
    """


def _cms_buckets(token: Column, depth: int, width: int) -> Column:
    """array<int> of the token's ``depth`` counter buckets — row r's
    bucket is the oracle-portable 60-bit md5 hash of 'cms{r}:{token}'
    mod width (the seeded-draw convention; non-negative, so % and pmod
    agree across engines)."""
    from .dedup import portable_hash60

    return F.array(
        *[
            F.pmod(
                portable_hash60(F.concat(F.lit(f"cms{r}:"), token)),
                F.lit(width),
            ).cast("int")
            for r in range(depth)
        ]
    )


def cms_build(
    tokens: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 64,
    count_col: str | None = None,
) -> DataFrame:
    """Count-min sketch of a token stream (Cormode & Muthukrishnan
    2005): a depth×width grid of counters; every token increments one
    counter per row (bucket = seeded hash mod width). The mergeable
    approximate-FREQUENCY sibling of the HLL distinct sketch above:
    two shards' grids merge by cell-wise +, so per-shard sketches
    answer "how often does token X appear in this subset of shards"
    without rescanning text — and the grid is depth·width cells
    REGARDLESS of vocabulary size, where an exact count table grows
    with the vocabulary.

    One posexplode (×depth) and ONE groupBy(row, bucket) with map-side
    combine: the shuffle carries ≤depth·width cells per task, not the
    token stream. Returns (row_id, bucket, cnt).

    ``count_col`` (r13 optimization round, guide §2.3/§4): build the
    SAME grid from a pre-aggregated (token, count) frame — each cell
    sums the counts of the tokens hashing into it, which equals the
    per-occurrence increment count exactly (integer sums). A caller
    that already holds per-token counts (``cms_certified``'s exact
    branch) then pays depth md5s per DISTINCT token instead of per
    occurrence — the hashing was the grid build's entire CPU cost."""
    cnt = F.lit(1) if count_col is None else F.col(count_col)
    cells = tokens.select(
        F.posexplode(_cms_buckets(F.col(token_col), depth, width)).alias(
            "row_id", "bucket"
        ),
        cnt.alias("__c"),
    )
    return cells.groupBy("row_id", "bucket").agg(
        F.sum("__c").cast("bigint").alias("cnt")
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-frequency estimates: est(token) = min over rows of the
    token's counter — ≥ the true count ALWAYS (counters only ever
    over-count via collisions; the deterministic half of the CMS
    guarantee, asserted by ``cms_certified``). The sketch is
    depth·width rows — broadcast by construction; per-query work is
    depth lookups."""
    q = queries.select(
        token_col,
        F.posexplode(_cms_buckets(F.col(token_col), depth, width)).alias(
            "row_id", "bucket"
        ),
    )
    return (
        q.join(F.broadcast(sketch), ["row_id", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("est_n"))
    )


def cms_certified(
    tokens: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 64,
    top_n: int = 30,
) -> DataFrame:
    """Exact-vs-sketch certification over the ``top_n`` most frequent
    tokens (the heavy hitters, where collisions bite hardest): exact
    counts from one groupBy, estimates from the grid, the
    deterministic over-count invariant est ≥ exact as a boolean the
    driver's value hash fails on if the sketch ever under-counts.
    Output: (token, exact_n, est_n, over_n, est_ge_exact)."""
    from pyspark.sql.window import Window

    from ..cache import scoped_persist

    # the VOCABULARY-sized exact-count frame feeds BOTH the top-n
    # window and the grid build (r13 optimization round: the grid sums
    # per-token counts instead of re-hashing every occurrence —
    # identical integer cells, depth md5s per distinct token instead
    # of per token instance, and the persisted frame shrinks from the
    # token stream to the vocabulary)
    exact = scoped_persist(
        tokens.groupBy(token_col).agg(F.count(F.lit(1)).alias("exact_n"))
    )
    w = Window.orderBy(F.col("exact_n").desc(), F.col(token_col).asc())
    top = (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .select(token_col, "exact_n")
    )
    sketch = cms_build(exact, token_col, depth, width, count_col="exact_n")
    est = cms_estimate(sketch, top.select(token_col), token_col, depth, width)
    return top.join(est, token_col).select(
        token_col,
        "exact_n",
        "est_n",
        (F.col("est_n") - F.col("exact_n")).alias("over_n"),
        (F.col("est_n") >= F.col("exact_n")).alias("est_ge_exact"),
    )
