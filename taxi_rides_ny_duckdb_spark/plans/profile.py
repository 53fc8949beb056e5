"""Table profiler — the engine's PipeRider analog (SURVEY §3.3, §5.2).

The reference workflow profiles every model table per run and diffs
profiles across runs (reference ``README.md:77-152``). Here:

- ``profile_numeric``: exact per-column stats in ONE pass — unpivot
  (``stack``) then a single groupBy, so profiling C columns costs one
  shuffle of (column, value) pairs instead of C table scans. Means are
  decimal-routed (order-independent, oracle-matchable).
- ``profile_approx``: the 100 TB variant — approx_count_distinct +
  approx percentiles in a single aggregate over the raw table, no
  unpivot blow-up, sketch-based memory. Raw sketch outputs are
  engine-specific, so it is oracled INDIRECTLY: it runs verbatim as
  the sketch pass inside ``profile_approx_guarded``, whose guard
  booleans (checked value-for-value against DuckDB) certify every
  sketch against its published error bound.
- ``compare_profiles``: the regression diff (PipeRider
  ``compare-reports`` analog): joins two profiles and emits per-stat
  deltas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parity import PARITY_DP


def profile_numeric(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact stats per numeric column: n, n_null, n_distinct, min, max,
    mean. Output grain: one row per column."""
    pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
    unpiv = df.selectExpr(f"stack({len(cols)}, {pairs}) as (column_name, value)")
    return unpiv.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_null"),
        F.count_distinct(F.col("value")).alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        # try_divide: an all-NULL column has count 0 — NULL mean in
        # both ANSI modes instead of an ANSI DIVIDE_BY_ZERO (r7 sweep)
        F.try_divide(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double"),
            F.count("value"),
        ).alias("mean_value"),
    )


def profile_approx(df: DataFrame, cols: list[str]) -> DataFrame:
    """Sketch-based profile for very wide/huge tables: one aggregate
    row, no unpivot. approx_count_distinct (HLL++) and approx median
    (KLL-ish percentile_approx) keep memory O(sketch) per column."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}__n"),
            F.approx_count_distinct(c).alias(f"{c}__approx_distinct"),
            F.percentile_approx(c, 0.5).alias(f"{c}__approx_median"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
        ]
    return df.agg(*aggs)


def profile_approx_guarded(
    df: DataFrame,
    cols: list[str],
    distinct_rel_bound: float = 0.15,
    median_band: tuple[float, float] = (0.4, 0.6),
) -> DataFrame:
    """``profile_approx`` with its sketches VERIFIED: per column, the
    exact sub-stats (n, min, max) plus two deterministic guard
    booleans — approx_count_distinct within ``distinct_rel_bound`` of
    the exact distinct count (HLL++ default rsd is 0.05; 3σ = 0.15),
    and the approx median inside the exact [p40, p60] band (rank
    error ≤ n/accuracy = n/10000, far inside the band).

    This makes the sketch path oracle-checkable by an engine that
    cannot reproduce the sketch: the oracle computes the exact stats
    and declares the guards literal TRUE — if Spark's sketch ever
    left its guarantee the boolean would flip and the value-hash
    would mismatch. This is the VERIFICATION query; the pure-sketch
    scan (``profile_approx``) remains the 100 TB production path.

    Both guard references are INDEPENDENT of the sketches they check
    (ADVICE r5): the distinct bound compares against a two-phase
    exact groupBy count, and the median band is the EXACT [p40, p60]
    computed by distributed selection
    (``profile_percentiles_selection`` — bounded driver state, no
    per-partition value map), injected as literals. An earlier
    version derived the band from two more percentile_approx
    sketches, which made the median guard tautological (same
    algorithm, same data ⇒ lo ≤ am ≤ hi by sketch monotonicity even
    if the sketch broke its published guarantee).

    Plan shape (re-derived at the sf1 checkpoint, BASELINE.md): the
    original single ``agg`` mixed DISTINCT aggregates with heavy
    sketch buffers, so Catalyst planned an Expand — every row
    tripled THROUGH the percentile/HLL buffers — and the exact
    ``F.percentile`` built a per-partition value→count map that is
    near-cardinality-sized on a continuous column (a memory bomb at
    any real scale). 4-7× slower at sf1 than this form:

    - exact [p40, p60] per column via distributed selection (runs
      eagerly at build; O(buckets) driver state at any scale);
    - ONE Expand-free sketch pass (count/min/max/HLL/approx median —
      no exact sort or value map);
    - per-column exact distinct as two-phase groupBy over NON-NULL
      values (shuffles only distinct VALUES, never rows — NULL
      filtered to match approx_count_distinct's NULL semantics);
    - the 1-row results cross-joined (broadcast, free).

    Output grain: one row per column."""
    band_rows = profile_percentiles_selection(
        df, cols, probs=median_band
    ).collect()
    p_lo = f"p{int(round(median_band[0] * 100)):02d}"
    p_hi = f"p{int(round(median_band[1] * 100)):02d}"
    exact_band = {r["column_name"]: (r[p_lo], r[p_hi]) for r in band_rows}
    # The sketch pass IS ``profile_approx`` — the production 100 TB scan
    # runs verbatim inside this oracled query, so the sketch path itself
    # (not a re-implementation of it) is what the guards certify.
    agg = profile_approx(df, cols)
    for c in cols:
        # NULL is filtered BEFORE the groupBy so the exact count matches
        # the NULL semantics of approx_count_distinct (which ignores
        # NULLs) — otherwise a nullable low-cardinality column would
        # count NULL as one extra distinct value and could flip the
        # guard spuriously.
        exact_distinct = (
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("__v"))
            .agg(F.lit(1).alias("__one"))
            .agg(F.count(F.lit(1)).alias(f"{c}__ed"))
        )
        agg = agg.join(exact_distinct)
    rows = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__min").cast("double").alias("min_v"),
            F.col(f"{c}__max").cast("double").alias("max_v"),
            (
                F.abs(F.col(f"{c}__approx_distinct") - F.col(f"{c}__ed"))
                <= F.lit(distinct_rel_bound) * F.col(f"{c}__ed")
            ).alias("distinct_in_bound"),
            (
                F.col(f"{c}__approx_median").isNull()
                if exact_band[c][0] is None
                else (
                    (
                        F.col(f"{c}__approx_median").cast("double")
                        >= F.lit(float(exact_band[c][0]))
                    )
                    & (
                        F.col(f"{c}__approx_median").cast("double")
                        <= F.lit(float(exact_band[c][1]))
                    )
                )
            ).alias("median_in_bound"),
        )
        for c in cols
    ]
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def profile_percentiles_selection(
    df: DataFrame,
    cols: list[str],
    probs: tuple[float, ...] = (0.05, 0.25, 0.5, 0.75, 0.95),
    n_buckets: int = 2048,
    max_bucket_rows: int = 1_000_000,
    _max_levels: int = 64,
) -> DataFrame:
    """Exact per-column percentiles (PipeRider's p5/p25/p50/p75/p95
    row), one row per column, via distributed selection.

    Spark's exact ``percentile`` aggregate buffers a value→count map
    per column and sorts it at one reducer: fine for low-cardinality
    columns, quadratic pain for a near-unique measure (583k distinct
    values ⇒ ~2 s at sf0.1, unrunnable at 100 TB where the map would
    hold billions of entries). Selection instead runs fully-parallel
    scans with O(buckets) driver state:

      1. one agg: non-null count + min/max per column;
      2. bucket-histogram: unpivot to (column, value), then per
         (segment, equi-width bucket) count + min + max — ≤ C·B tiny
         rows collected;
      3. locate, per target rank floor(p·(n-1)) and its +1 neighbor,
         the bucket owning it (cumulative counts, driver-side). Then
         per owning bucket: (a) ``min == max`` ⇒ the rank's value IS
         that value — a heavy-hitter bucket of any size resolves with
         zero further I/O; (b) ≤ ``max_bucket_rows`` rows ⇒ queue for
         the exact-value collect; (c) otherwise RECURSE — the bucket's
         [min, max] becomes a segment re-split into ``n_buckets`` at
         the next level (one extra scan per level, range shrinks ×B
         per level, so levels are ~log_B(range/ulp) worst-case and 1
         in practice). This bounds the driver payload: nothing bigger
         than C·B histogram rows or ``max_bucket_rows`` distinct
         values per bucket ever reaches the driver — the 100 TB
         heavy-hitter hazard (one value dominating a bucket) hits
         branch (a), not an unbounded collect;
      4. one re-scan filtered to ONLY the queued buckets' [min, max]
         ranges, groupBy exact value;
      5. interpolate ``(1-f)·lo + f·hi`` on the driver — DuckDB
         ``quantile_cont``'s exact rounding (bit-exact parity verified
         in the contract oracle at sf0.01 and sf0.1)."""
    dcols = {c: F.col(c).cast("double") for c in cols}
    aggs = []
    for c in cols:
        aggs += [
            F.count(dcols[c]).alias(f"{c}__n"),
            F.min(dcols[c]).alias(f"{c}__lo"),
            F.max(dcols[c]).alias(f"{c}__hi"),
        ]
    stats = df.agg(*aggs).collect()[0].asDict()

    pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
    stacked = df.selectExpr(
        f"stack({len(cols)}, {pairs}) as (column_name, v)"
    ).filter(F.col("v").isNotNull())

    # Target order statistics (0-based) per column.
    ranks: dict[str, list[tuple[float, int, int, float]]] = {}
    for c in cols:
        n = stats[f"{c}__n"]
        rk = []
        for p in probs:
            pos = p * (n - 1)
            lo_i = int(pos)
            hi_i = min(lo_i + 1, n - 1)
            rk.append((p, lo_i, hi_i, pos - lo_i))
        ranks[c] = rk

    # pending: (col, global_rank k, rank offset within segment, seg lo,
    # seg hi) — segment [lo, hi] is a closed value range known to hold
    # the rank. Level 0 segments are the full column ranges.
    pending: list[tuple[str, int, int, float, float]] = []
    for c in cols:
        if stats[f"{c}__n"] == 0:
            continue
        for k in sorted({i for _, lo_i, hi_i, _ in ranks[c] for i in (lo_i, hi_i)}):
            pending.append((c, k, k, stats[f"{c}__lo"], stats[f"{c}__hi"]))

    resolved: dict[tuple[str, int], float] = {}
    to_collect: list[tuple[str, int, int, float, float]] = []

    level = 0
    while pending:
        level += 1
        force = level >= _max_levels  # pathological-range backstop
        segments = sorted({(c, lo, hi) for c, _, _, lo, hi in pending})
        seg_ids = {s: i for i, s in enumerate(segments)}

        seg_expr = F.lit(-1)
        bucket_e = F.lit(0)
        for (c, lo, hi), i in seg_ids.items():
            in_seg = (
                (F.col("column_name") == c)
                & (F.col("v") >= F.lit(lo))
                & (F.col("v") <= F.lit(hi))
            )
            width = (hi - lo) or 1.0
            b = F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col("v") - F.lit(lo)) / F.lit(width) * n_buckets),
            ).cast("int")
            seg_expr = F.when(in_seg, F.lit(i)).otherwise(seg_expr)
            bucket_e = F.when(in_seg, b).otherwise(bucket_e)

        hist = (
            stacked.filter(seg_expr >= 0)
            .groupBy(seg_expr.alias("seg"), bucket_e.alias("b"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("v").alias("bmin"),
                F.max("v").alias("bmax"),
            )
            .collect()
        )
        by_seg: dict[int, list] = {}
        for r in hist:
            by_seg.setdefault(r["seg"], []).append(
                (r["b"], r["cnt"], r["bmin"], r["bmax"])
            )

        nxt: list[tuple[str, int, int, float, float]] = []
        for c, k, k_off, lo, hi in pending:
            cum = 0
            for _, cnt, bmin, bmax in sorted(by_seg.get(seg_ids[(c, lo, hi)], [])):
                if k_off < cum + cnt:
                    if bmin == bmax:
                        resolved[(c, k)] = bmin  # heavy hitter / singleton
                    elif cnt <= max_bucket_rows or force:
                        to_collect.append((c, k, k_off - cum, bmin, bmax))
                    else:
                        nxt.append((c, k, k_off - cum, bmin, bmax))
                    break
                cum += cnt
            else:
                raise AssertionError(f"rank {k} not located for {c}")
        pending = nxt

    if to_collect:
        cond = None
        for c, lo, hi in sorted({(c, lo, hi) for c, _, _, lo, hi in to_collect}):
            e = (
                (F.col("column_name") == c)
                & (F.col("v") >= F.lit(lo))
                & (F.col("v") <= F.lit(hi))
            )
            cond = e if cond is None else (cond | e)
        vals = stacked.filter(cond).groupBy("column_name", "v").count().collect()
        vc: dict[str, list] = {}
        for r in vals:
            vc.setdefault(r["column_name"], []).append((r["v"], r["count"]))
        for c, k, k_off, lo, hi in to_collect:
            cum = 0
            for v, cnt in sorted(x for x in vc.get(c, []) if lo <= x[0] <= hi):
                if k_off < cum + cnt:
                    resolved[(c, k)] = v
                    break
                cum += cnt
            else:
                raise AssertionError(f"rank {k} not located for {c} in collect")

    out_rows = []
    for c in cols:
        row = {"column_name": c}
        if stats[f"{c}__n"] == 0:
            for p in probs:
                row[f"p{int(round(p * 100)):02d}"] = None
            out_rows.append(row)
            continue
        for p, lo_i, hi_i, frac in ranks[c]:
            lo_v, hi_v = resolved[(c, lo_i)], resolved[(c, hi_i)]
            # DuckDB quantile_cont rounds as (1-f)*lo + f*hi, which can
            # differ from lo + f*(hi-lo) by 1 ulp — match it exactly
            row[f"p{int(round(p * 100)):02d}"] = (
                (1.0 - frac) * lo_v + frac * hi_v
            )
        out_rows.append(row)

    spark = df.sparkSession
    fields = ", ".join(
        ["column_name string"]
        + [f"p{int(round(p * 100)):02d} double" for p in probs]
    )
    return spark.createDataFrame(out_rows, schema=fields)


def profile_histogram(
    df: DataFrame, col: str, n_bins: int, lo: float, hi: float
) -> DataFrame:
    """Equi-width histogram of a numeric column (PipeRider's per-column
    distribution chart): ``n_bins`` buckets over [lo, hi); values
    outside clamp to the edge buckets, NULLs dropped. One groupBy of
    (bin) — a single narrow shuffle regardless of table width.

    Output: (bin_idx, bin_lo, bin_hi, n) — one row per non-empty bin."""
    # constant column (lo == hi): everything lands in bin 0 instead of
    # a per-row division by a zero width (ANSI raise — r7 sweep)
    width = (hi - lo) / n_bins or 1.0
    v = F.col(col).cast("double")
    bin_idx = F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")),
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(bin_idx.alias("bin_idx"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin_idx",
            (F.lit(lo) + F.col("bin_idx") * F.lit(width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin_idx") + 1) * F.lit(width)).alias("bin_hi"),
            "n",
        )
    )


def profile_topk(df: DataFrame, col: str, k: int) -> DataFrame:
    """PipeRider's per-column frequent-values stat: the ``k`` most
    common values with counts; ties broken by value for a deterministic,
    oracle-matchable ranking. Plan: one count aggregate (map-side
    combined), then ORDER BY + LIMIT — which Catalyst plans as
    TakeOrderedAndProject (per-partition top-k, driver merge), so a
    high-cardinality column never pays a global sort — then a trivial
    window over the k survivors to emit ranks.

    Output: (value, n, rank) — NULLs excluded (profiled separately as
    n_null)."""
    from pyspark.sql.window import Window

    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("value").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("value").asc())
    return top.withColumn("rank", F.row_number().over(w))


def profile_text(df: DataFrame, cols: list[str]) -> DataFrame:
    """String-column profile (PipeRider's varchar stats): n, nulls,
    distinct, length min/max/mean, blank count. Same single-pass
    unpivot+groupBy shape as ``profile_numeric`` — C columns cost one
    shuffle of (column, value) pairs, and only lengths aggregate, so
    wide text never sits in an agg buffer."""
    pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in cols)
    unpiv = df.selectExpr(f"stack({len(cols)}, {pairs}) as (column_name, value)")
    ln = F.length("value")
    return unpiv.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_null"),
        F.count_distinct(F.col("value")).alias("n_distinct"),
        F.min(ln).alias("min_len"),
        F.max(ln).alias("max_len"),
        F.try_divide(F.sum(ln), F.count("value")).cast("double").alias("mean_len"),
        F.sum(F.when(F.trim("value") == "", 1).otherwise(0)).alias("n_blank"),
    )


def compare_profiles(base: DataFrame, other: DataFrame) -> DataFrame:
    """Diff two ``profile_numeric`` outputs (PipeRider compare-reports
    analog): per column, deltas of every stat."""
    b = base.alias("b")
    o = other.alias("o")
    stats = ["n_rows", "n_null", "n_distinct", "min_value", "max_value", "mean_value"]
    return b.join(o, "column_name", "full_outer").select(
        "column_name",
        *[
            (F.col(f"o.{s}") - F.col(f"b.{s}")).alias(f"delta_{s}")
            for s in stats
        ],
    )


def profile_drift_psi(
    base: DataFrame,
    other: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the distributional-drift member of the compare family:
    ``compare_profiles`` diffs summary stats, ``snapshot_diff`` answers
    the row question, and this answers "did the SHAPE move?" — the
    standard ML-monitoring gate (rule of thumb: <0.1 stable, 0.1–0.25
    drifting, >0.25 shifted) run between corpus builds before a
    retrain.

    Binning is the fixed-[lo, hi) clamp scheme of
    ``operators/sketch.shard_histograms`` (out-of-range values land in
    the edge bins, NULLs drop); every bin 0..n_bins-1 appears via a
    generated spine so empty bins contribute through their smoothed
    probability rather than vanishing. Probabilities are Laplace-
    smoothed — p = (n + s) / (N + s·n_bins) with s=0.5 — so
    PSI stays finite when a bin empties on one side (the exact case
    drift detection exists to catch). psi_contrib =
    (p_other − p_base)·ln(p_other / p_base); psi_total repeats the
    bin-sum on every row. All arithmetic is counts + one double
    expression per bin, rounded at ``PARITY_DP`` — fully
    oracle-replayable, same class as the histogram quantile rollup.

    Scale shape: ONE groupBy(bin) aggregate per side (map-side
    combined to ≤ n_bins rows per partition — the cheapest possible
    full-scan stat), then spine-sized joins. At 100 TB the two scans
    ARE the cost; everything after is n_bins rows. Output: one row per
    bin ``(bin, n_base, n_other, p_base_r, p_other_r, psi_contrib_r,
    psi_total_r)``."""
    from pyspark.sql.window import Window

    w = (float(hi) - float(lo)) / n_bins

    def bins(df: DataFrame, out: str) -> DataFrame:
        b = F.least(
            F.greatest(
                F.floor(
                    (F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(w)
                ),
                F.lit(0),
            ),
            F.lit(n_bins - 1),
        ).cast("int")
        return (
            df.where(F.col(value_col).isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    spine = (
        base.sparkSession.range(n_bins)
        .select(F.col("id").cast("int").alias("bin"))
    )
    joined = (
        spine.join(bins(base, "n_base"), "bin", "left")
        .join(bins(other, "n_other"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_other", F.lit(0)).alias("n_other"),
        )
    )
    tot = Window.partitionBy()
    s = float(smoothing)
    p_base = (F.col("n_base") + F.lit(s)) / (
        F.sum("n_base").over(tot) + F.lit(s * n_bins)
    )
    p_other = (F.col("n_other") + F.lit(s)) / (
        F.sum("n_other").over(tot) + F.lit(s * n_bins)
    )
    contrib = (p_other - p_base) * F.log(p_other / p_base)
    return joined.select(
        "bin",
        "n_base",
        "n_other",
        F.round(p_base, PARITY_DP).alias("p_base_r"),
        F.round(p_other, PARITY_DP).alias("p_other_r"),
        F.round(contrib, PARITY_DP).alias("psi_contrib_r"),
        F.round(F.sum(contrib).over(tot), PARITY_DP).alias("psi_total_r"),
    )


def drift_psi_grouped(
    counts: DataFrame,
    ref_counts: DataFrame,
    n_bins: int,
    group_col: str = "window_start",
    smoothing: float = 0.5,
) -> DataFrame:
    """Score MANY pre-binned histograms against one reference — the
    monitoring loop of ``profile_drift_psi``: ``counts`` is long-form
    ``(group, bin, n)`` (e.g. the per-window histograms a stream emits
    via ``streaming/jobs.windowed_value_histogram``), ``ref_counts``
    is ``(bin, n_ref)``; output is one PSI panel per group with the
    identical smoothing/contribution arithmetic. Every group's spine
    carries all ``n_bins`` bins (distinct-groups × generated bins), so
    per-group AND reference totals both fall out of one
    ``partitionBy(group)`` window — the reference rows repeat per
    group, summing to the global reference total. Cost is
    |groups·bins| rows end to end; the fact scans happened upstream
    when the histograms were built. Output: (group, bin, n_ref, n,
    p_ref_r, p_r, psi_contrib_r, psi_total_r)."""
    from pyspark.sql.window import Window

    spark = counts.sparkSession
    bins = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    groups = counts.select(F.col(group_col).alias("__grp")).distinct()
    spine = groups.crossJoin(bins)
    j = (
        spine.join(
            counts.select(
                F.col(group_col).alias("__grp"), "bin", F.col("n")
            ),
            ["__grp", "bin"],
            "left",
        )
        .join(ref_counts.select("bin", "n_ref"), "bin", "left")
        .select(
            "__grp",
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    wg = Window.partitionBy("__grp")
    s = float(smoothing)
    p_ref = (F.col("n_ref") + F.lit(s)) / (
        F.sum("n_ref").over(wg) + F.lit(s * n_bins)
    )
    p_g = (F.col("n") + F.lit(s)) / (F.sum("n").over(wg) + F.lit(s * n_bins))
    contrib = (p_g - p_ref) * F.log(p_g / p_ref)
    return j.select(
        F.col("__grp").alias(group_col),
        "bin",
        "n_ref",
        "n",
        F.round(p_ref, PARITY_DP).alias("p_ref_r"),
        F.round(p_g, PARITY_DP).alias("p_r"),
        F.round(contrib, PARITY_DP).alias("psi_contrib_r"),
        F.round(F.sum(contrib).over(wg), PARITY_DP).alias("psi_total_r"),
    )


def drift_psi_sql(
    base_rel: str,
    other_rel: str,
    value_sql: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    smoothing: float = 0.5,
) -> str:
    """The identical spine/bin/smooth/contribute arithmetic as ANSI SQL
    (DuckDB-runnable) — the oracle twin of ``profile_drift_psi``.
    ``base_rel`` / ``other_rel`` are FROM-able relations (table name or
    parenthesized subquery)."""
    w = (float(hi) - float(lo)) / n_bins
    s = float(smoothing)
    bin_expr = (
        f"CAST(least(greatest(floor((CAST({value_sql} AS DOUBLE) - {float(lo)}) "
        f"/ {w}), 0), {n_bins - 1}) AS INT)"
    )
    return f"""
    WITH spine AS (
      SELECT unnest(generate_series(0, {n_bins - 1})) AS bin
    ), b AS (
      SELECT {bin_expr} AS bin, COUNT(*) AS n_base
      FROM {base_rel} WHERE {value_sql} IS NOT NULL GROUP BY 1
    ), o AS (
      SELECT {bin_expr} AS bin, COUNT(*) AS n_other
      FROM {other_rel} WHERE {value_sql} IS NOT NULL GROUP BY 1
    ), j AS (
      SELECT s.bin,
             COALESCE(b.n_base, 0) AS n_base,
             COALESCE(o.n_other, 0) AS n_other
      FROM spine s LEFT JOIN b USING (bin) LEFT JOIN o USING (bin)
    ), p AS (
      SELECT bin, n_base, n_other,
             (n_base + {s}) / (SUM(n_base) OVER () + {s * n_bins}) AS pb,
             (n_other + {s}) / (SUM(n_other) OVER () + {s * n_bins}) AS po
      FROM j
    )
    SELECT bin, n_base, n_other,
           round(pb, {PARITY_DP}) AS p_base_r,
           round(po, {PARITY_DP}) AS p_other_r,
           round((po - pb) * ln(po / pb), {PARITY_DP}) AS psi_contrib_r,
           round(SUM((po - pb) * ln(po / pb)) OVER (), {PARITY_DP}) AS psi_total_r
    FROM p
    """


def profile_drift_psi_categorical(
    base: DataFrame,
    other: DataFrame,
    col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Categorical twin of ``profile_drift_psi``: the bin spine is the
    union of categories OBSERVED on either side (data-defined k, the
    categorical convention — a category present in only one snapshot
    is exactly the drift signal, kept finite by the same Laplace
    smoothing). NULL categories drop (profile them via null-rate
    stats). Same one-aggregate-per-side scale shape; output one row
    per category with the identical column contract (``category``
    in place of ``bin``)."""
    from pyspark.sql.window import Window

    def freqs(df: DataFrame, out: str) -> DataFrame:
        return (
            df.where(F.col(col).isNotNull())
            .groupBy(F.col(col).alias("category"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    b, o = freqs(base, "n_base"), freqs(other, "n_other")
    joined = b.join(o, "category", "full_outer").select(
        "category",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_other", F.lit(0)).alias("n_other"),
    )
    tot = Window.partitionBy()
    s = float(smoothing)
    k = F.count(F.lit(1)).over(tot)
    p_base = (F.col("n_base") + F.lit(s)) / (
        F.sum("n_base").over(tot) + F.lit(s) * k
    )
    p_other = (F.col("n_other") + F.lit(s)) / (
        F.sum("n_other").over(tot) + F.lit(s) * k
    )
    contrib = (p_other - p_base) * F.log(p_other / p_base)
    return joined.select(
        "category",
        "n_base",
        "n_other",
        F.round(p_base, PARITY_DP).alias("p_base_r"),
        F.round(p_other, PARITY_DP).alias("p_other_r"),
        F.round(contrib, PARITY_DP).alias("psi_contrib_r"),
        F.round(F.sum(contrib).over(tot), PARITY_DP).alias("psi_total_r"),
    )


def profile_correlation(
    df: DataFrame, pairs: list[tuple[str, str]]
) -> DataFrame:
    """Pairwise Pearson correlation between numeric columns — the
    multi-column dependency panel of a data profiler (is discount
    coupled to quantity? is a metric redundant with another?).

    Every moment (Σx, Σy, Σxy, Σx², Σy²) is an exact DECIMAL sum and
    the textbook formula
    r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²)) is evaluated
    once on those exact sums — identical IEEE ops on both engines, so
    the result is BIT-reproducible at any parallelism (the same
    property functions/parity.py gives money sums; built-in ``corr()``
    drifts in the last ulp with partition order). Inputs are quantized
    at 8dp, so decimal(38,8) holds Σ(x·y) for price-scale columns well
    past 10⁹ rows. One aggregate-row pass with map-side partials.
    NULL handling matches ``corr()``: a pair contributes only when both
    sides are non-null (each operand is nulled when its partner is
    null). A zero-variance side gives NULL.

    Output grain: one row per pair (col_x, col_y, corr_r rounded 9dp).
    """
    from ..session import ensure_min_partitions

    needed = sorted({c for p in pairs for c in p})
    # Small-file guard (same trap as tfidf): a ~50 MB parquet file scans
    # as ONE partition, serializing all the decimal-sum work onto one
    # core — decimal aggregation is ~10× a double sum per row, so the
    # exactness tax MUST run wide (strict: parquet byte-range splits
    # can report width the row groups don't deliver, and this stage is
    # compute-bound enough that any deficit is worth the shuffle).
    # Project to the needed columns first so the staging shuffle is
    # narrow. No-op at real scale.
    df = ensure_min_partitions(df.select(*needed), strict=True)
    aggs = []
    for x, y in pairs:
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        xv = F.when(both, F.col(x).cast("double"))
        yv = F.when(both, F.col(y).cast("double"))
        tag = f"{x}__{y}"
        # Quantize each input ONCE at 8dp, then square/multiply the
        # DECIMALS — (18,8)×(18,8) → (37,16), exact in both engines.
        # Quantizing x and x·x independently (the pre-r8 form, products
        # truncated at 8dp) made the moments mutually INCONSISTENT:
        # n·Σx² − (Σx)² is a catastrophic cancellation, so independent
        # 5e-9 truncations amplified and a 2-point frame came back at
        # corr = −1.000018 (hypothesis-found). Consistent moments are a
        # true correlation of the quantized points — |r| ≤ 1 by
        # construction. For ≤2dp decimal data (the documented price-
        # scale domain, incl. the contract's lineitem panel) the 8dp
        # quantization is lossless, so values are unchanged.
        xd = xv.cast("decimal(18,8)")
        yd = yv.cast("decimal(18,8)")
        aggs += [
            F.count(xv).alias(f"{tag}__n"),
            F.sum(xd).alias(f"{tag}__sx"),
            F.sum(yd).alias(f"{tag}__sy"),
            F.sum(xd * yd).alias(f"{tag}__sxy"),
            F.sum(xd * xd).alias(f"{tag}__sxx"),
            F.sum(yd * yd).alias(f"{tag}__syy"),
        ]
    one = df.agg(*aggs)
    rows = []
    for x, y in pairs:
        tag = f"{x}__{y}"
        n = F.col(f"{tag}__n").cast("double")
        sx = F.col(f"{tag}__sx").cast("double")
        sy = F.col(f"{tag}__sy").cast("double")
        sxy = F.col(f"{tag}__sxy").cast("double")
        sxx = F.col(f"{tag}__sxx").cast("double")
        syy = F.col(f"{tag}__syy").cast("double")
        # Guarded division: zero variance (constant column) → NULL,
        # ANSI-safe
        # (under spark.sql.ansi.enabled a bare x/0 raises instead of
        # returning NULL; property-tested on degenerate frames).
        # Per-factor positivity, not product positivity: the decimal
        # moments are rounded at 8dp, so a zero-variance column can
        # come back as a TINY NEGATIVE (e.g. x=1.28125: x² needs 10dp;
        # sxx-sx²/n ≈ -2.5e-9); two such negatives make the PRODUCT
        # positive and the old `denom > 0` guard let a spurious ±1
        # through (hypothesis-found). Each variance must itself be
        # positive for a defined correlation.
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when((vx > 0) & (vy > 0), (n * sxy - sx * sy) / F.sqrt(vx * vy))
        rows.append(
            F.struct(
                F.lit(x).alias("col_x"),
                F.lit(y).alias("col_y"),
                F.round(r, PARITY_DP).alias("corr_r"),
            )
        )
    return one.select(
        F.explode(F.array(*rows)).alias("p")
    ).select("p.col_x", "p.col_y", "p.corr_r")


def profile_key_skew(
    df: DataFrame, key_cols: list[str], top_k: int = 10
) -> DataFrame:
    """Join/group-key skew panel: per key column, the ``top_k`` heavy
    hitters with their counts, global share, and the column's distinct
    count — the diagnostic that DRIVES the physical-strategy levers in
    ``operators/scale`` (a key with share ≫ 1/n_partitions is the one
    to salt; AQE's skew split handles the moderate middle). Profiling
    this BEFORE a 100 TB join is how zone-132-style hot keys are found
    at plan time instead of at 3 a.m.

    Output grain: (column_name, rank, key_value, n, n_distinct,
    share_r) — key_value stringified (mixed-type columns share one
    schema), NULL keys labeled '<NULL>' so both engines order them
    identically, share rounded 9dp.

    Scale shape, per column: one aggregation-bounded groupBy(key)
    (map-side combined — the shuffle carries distinct keys, not rows),
    a TakeOrderedAndProject top-K (per-partition heaps — never a
    global sort of the key space), a 1-row stats aggregate broadcast
    back, and a rank window over exactly K rows. Columns then union —
    independent branches, no cross-column shuffle."""
    from functools import reduce

    from pyspark.sql.window import Window

    outs = []
    for c in key_cols:
        counts = df.groupBy(
            F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")).alias("key_value")
        ).agg(F.count(F.lit(1)).alias("n"))
        stats = counts.agg(
            F.count(F.lit(1)).alias("__nd"),
            F.sum("n").alias("__tot"),
        )
        top = counts.orderBy(F.desc("n"), F.asc("key_value")).limit(top_k)
        w = Window.orderBy(F.desc("n"), F.asc("key_value"))  # K rows only
        outs.append(
            top.withColumn("rank", F.row_number().over(w))
            .crossJoin(F.broadcast(stats))
            .select(
                F.lit(c).alias("column_name"),
                F.col("rank").cast("long").alias("rank"),
                "key_value",
                "n",
                F.col("__nd").cast("long").alias("n_distinct"),
                F.round(F.col("n") / F.col("__tot"), PARITY_DP).alias("share_r"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def corpus_datacard(
    df: DataFrame,
    source_col: str,
    lang_col: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-source corpus datasheet — the "datasheets for datasets"
    summary a training-data pipeline publishes per ingest source:
    volume (docs, tokens), language makeup (distinct count, dominant
    language and its share), mean heuristic quality, and the
    within-source exact-duplication count. One row per source; the
    roll-up that decides mixture weights (operators/sampling.
    mixture_sample) and per-source caps (cap_per_group) before any
    training run.

    Plan shape at 100 TB: one map-side projection computes tokens /
    quality / content-hash per document (tokenize staged ONCE — the
    HOF-staging law), then three aggregation-bounded groupBys whose
    shuffle keys are (source), (source, lang), (source, md5) — the
    first two are source-cardinality; the hash agg carries one row per
    distinct content, count-only. The final assembly joins
    source-cardinality frames (broadcast-size by construction).

    Output: (source, n_docs, total_tokens, avg_quality_r, n_langs,
    top_lang, top_lang_share_r, exact_dup_docs); top_lang ties break
    lexicographically; avg quality routed through exact decimal
    (functions/parity.davg) and 9dp-rounded for engine parity.
    """
    from pyspark.sql.window import Window

    from ..functions.parity import davg
    from ..functions.text import quality_score, token_count, tokenize

    staged = df.select(
        F.col(source_col),
        F.col(lang_col),
        F.col(id_col),
        F.col(text_col),
        tokenize(F.col(text_col)).alias("__toks"),
    )
    base = staged.select(
        F.col(source_col),
        F.col(lang_col),
        token_count(F.col(text_col)).alias("__t"),
        quality_score(F.col(text_col), tokens=F.col("__toks")).alias("__q"),
        F.md5(F.col(text_col)).alias("__h"),
    )
    core = base.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").cast("long").alias("total_tokens"),
        F.round(davg(F.col("__q"), 18, 9), PARITY_DP).alias("avg_quality_r"),
        F.count_distinct(F.col(lang_col)).cast("long").alias("n_langs"),
    )
    lc = base.groupBy(source_col, lang_col).agg(F.count(F.lit(1)).alias("__c"))
    w = Window.partitionBy(source_col).orderBy(
        F.col("__c").desc(), F.col(lang_col).asc()
    )
    top = (
        lc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(source_col),
            F.col(lang_col).alias("top_lang"),
            F.col("__c").alias("__top_c"),
        )
    )
    dup = (
        base.groupBy(source_col, "__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .groupBy(source_col)
        .agg(F.sum("__c").cast("long").alias("exact_dup_docs"))
    )
    return (
        core.join(top, source_col)
        .join(dup, source_col, "left")
        .select(
            F.col(source_col),
            "n_docs",
            "total_tokens",
            "avg_quality_r",
            "n_langs",
            "top_lang",
            F.round(F.col("__top_c") / F.col("n_docs"), PARITY_DP).alias(
                "top_lang_share_r"
            ),
            F.coalesce(F.col("exact_dup_docs"), F.lit(0).cast("long")).alias(
                "exact_dup_docs"
            ),
        )
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Chi-square test of independence between two categorical
    columns, with the full contingency panel: one row per observed
    (a, b) cell — ``(a, b, observed, expected_r, contrib_r)`` — plus
    the test summary repeated on every row (``chi2_r``, ``dof``,
    ``cramers_v_r``) so the panel is a single self-contained frame.
    The QA question it answers: is the corpus's language mix
    independent of its source (a skewed crawl), is a label independent
    of its shard (a bad partitioner)?

    Determinism: observed counts and marginals are exact integer
    window sums over the cell frame; ``expected`` is a fixed-order
    double expression of those integers; cell contributions are
    rounded to 12dp and summed as exact DECIMAL (order-independent),
    with the summary derived from that sum — identical bits in both
    engines at any parallelism.

    Plan at scale: ONE corpus-sized groupBy(a, b) that collapses to
    |A|·|B| cells; marginals and totals are window sums ON the cell
    frame (cell-sized, not corpus-sized); the summary is a 1-row
    aggregate broadcast back. No second corpus pass, no join against
    anything data-sized. Cramér's V uses the chi2/(N·min(kA-1, kB-1))
    normalization; dof = (kA-1)(kB-1); both NULL when either column is
    constant (0 dof — independence is undefined, not "perfect")."""
    from pyspark.sql.window import Window

    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).alias("observed"))
    wa = Window.partitionBy("a")
    wb = Window.partitionBy("b")
    wall = Window.partitionBy()
    with_marg = cells.select(
        "a",
        "b",
        "observed",
        F.sum("observed").over(wa).alias("__row_tot"),
        F.sum("observed").over(wb).alias("__col_tot"),
        F.sum("observed").over(wall).alias("__n"),
    )
    expected = (
        F.col("__row_tot").cast("double")
        * F.col("__col_tot").cast("double")
        / F.col("__n").cast("double")
    )
    diff = F.col("observed").cast("double") - expected
    contrib = (diff * diff) / expected
    paneled = with_marg.select(
        "a",
        "b",
        "observed",
        F.round(expected, PARITY_DP).alias("expected_r"),
        F.round(contrib, PARITY_DP).alias("contrib_r"),
        F.round(contrib, 12).cast("decimal(38,12)").alias("__c12"),
        "__n",
    )
    summary = paneled.agg(
        F.count_distinct("a").alias("__ka"),
        F.count_distinct("b").alias("__kb"),
        F.sum("__c12").cast("double").alias("__chi2"),
        F.max("__n").alias("__nn"),
    )
    dof = (F.col("__ka") - 1) * (F.col("__kb") - 1)
    v = F.sqrt(
        F.col("__chi2")
        / (
            F.col("__nn").cast("double")
            * F.least(F.col("__ka") - 1, F.col("__kb") - 1).cast("double")
        )
    )
    return paneled.crossJoin(F.broadcast(summary)).select(
        "a",
        "b",
        "observed",
        "expected_r",
        "contrib_r",
        F.when(dof > 0, F.round(F.col("__chi2"), PARITY_DP)).alias("chi2_r"),
        F.when(dof > 0, dof).cast("long").alias("dof"),
        F.when(dof > 0, F.round(v, PARITY_DP)).alias("cramers_v_r"),
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    alpha_coeff: float = 1.358,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test between two groups of
    a numeric column → one row: ``(n_a, n_b, d_stat_r, d_crit_r,
    reject)`` — the distribution-equality check beside PSI (which
    needs binning) and chi-square (categorical only): "is the quality
    distribution of shard A the same as shard B", with the classic
    α=0.05 critical value ``c·sqrt((n_a+n_b)/(n_a·n_b))``.

    D is computed on the pooled EMPIRICAL CDFs evaluated at every
    distinct observed value — the exact statistic, not a binned
    approximation. NULL values are excluded (they have no order
    position); if either group is empty the row is all-NULL except
    the counts.

    Determinism: counts and cumulative counts are integer window sums
    under a total value order; the CDF difference is one double
    expression; max() of identical doubles is order-independent.

    Plan at scale: rows collapse to (value, count_a, count_b) — ONE
    corpus-sized aggregation — before any ordering; the cumsum window
    then runs over DISTINCT VALUES only. Its single-reducer total
    order is exact-by-construction (the quantile_binning precedent);
    for columns whose distinct-value set itself exceeds a reducer,
    the scale path is the two-level prefix-sum used by
    ``operators/scale.sorted_run_export`` (per-partition subtotals +
    broadcast prefix), same arithmetic."""
    from pyspark.sql.window import Window

    tagged = df.select(
        F.col(value_col).alias("__v"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__a"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).alias("__b"),
    ).filter(F.col("__v").isNotNull() & ((F.col("__a") == 1) | (F.col("__b") == 1)))
    per_value = tagged.groupBy("__v").agg(
        F.sum("__a").alias("__ca"), F.sum("__b").alias("__cb")
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_value.select(
        F.sum("__ca").over(w).alias("__cuma"),
        F.sum("__cb").over(w).alias("__cumb"),
    )
    totals = cum.agg(
        F.max("__cuma").alias("n_a"), F.max("__cumb").alias("n_b")
    )
    # try_divide: an empty group has n=0 and a bare `/` RAISES under
    # the engine's ambient ANSI mode even for doubles; NULL propagates
    # through max() and the `ok` gate masks the summary anyway
    d = cum.crossJoin(F.broadcast(totals)).agg(
        F.max(
            F.abs(
                F.try_divide(
                    F.col("__cuma").cast("double"), F.col("n_a").cast("double")
                )
                - F.try_divide(
                    F.col("__cumb").cast("double"), F.col("n_b").cast("double")
                )
            )
        ).alias("__d"),
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
    )
    # cast-before-arithmetic: long*long would ANSI-overflow at ~3e9
    # rows per group; the double forms are deterministic either way
    crit = F.lit(alpha_coeff) * F.sqrt(
        (F.col("n_a").cast("double") + F.col("n_b").cast("double"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    # fully-empty input: the aggregates are NULL; counts present as 0
    return d.select(
        F.coalesce(F.col("n_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).cast("long").alias("n_b"),
        F.when(ok, F.round(F.col("__d"), PARITY_DP)).alias("d_stat_r"),
        F.when(ok, F.round(crit, PARITY_DP)).alias("d_crit_r"),
        F.when(ok, F.col("__d") > crit).alias("reject"),
    )
