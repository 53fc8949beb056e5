"""Metrics layer — a dbt-metrics-style compiler over DataFrames.

Reference analog: the dbt metric ``average_distance`` on ``fact_trips``
(reference ``README.md:228-242``) with calculation_method ``average``,
time grains [month, quarter, year], dimension + equality-filter support
(``README.md:286-308``). PipeRider issues one grouped aggregate per
(metric, grain); we compile the same YAML-shaped spec into a grouped
DataFrame per grain — no extra process, same engine (SURVEY §3.3).

Supported calculation methods: the full dbt metric surface —
count, count_distinct, sum, average, min, max (the reference exercises
``average``; the rest complete the public dbt contract).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.parity import PARITY_DP, davg

# Money-scale presentation: value and mean are 1e7-magnitude doubles,
# too wide for PARITY_DP (see metric_anomaly).
_MONEY_DP = 2

_METHODS = {
    "count": lambda c: F.count(c),
    "count_distinct": lambda c: F.count_distinct(c),
    "sum": lambda c: F.sum(c),
    # exact decimal sum / count: order-independent (functions/parity.py)
    "average": lambda c: davg(c, 18, 6),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}

GRAINS = ("day", "week", "month", "quarter", "year")


@dataclass
class MetricFilter:
    """One equality filter, dbt-style (README.md:296-304)."""

    field: str
    operator: str  # '=', '!=', '>', '>=', '<', '<='
    value: object

    def to_column(self):
        c = F.col(self.field)
        return {
            "=": c == self.value,
            "!=": c != self.value,
            ">": c > self.value,
            ">=": c >= self.value,
            "<": c < self.value,
            "<=": c <= self.value,
        }[self.operator]


@dataclass
class Metric:
    """A dbt-metric spec (README.md:228-242 field-for-field)."""

    name: str
    calculation_method: str
    expression: str
    timestamp: str
    time_grains: tuple[str, ...] = ("month",)
    dimensions: tuple[str, ...] = ()
    filters: tuple[MetricFilter, ...] = ()


def compile_metric(model: DataFrame, metric: Metric, grain: str) -> DataFrame:
    """One (metric, grain) → grouped DataFrame.

    Output columns: ``period_<grain>`` (date), *dimensions, ``<name>``.
    """
    if grain not in GRAINS:
        raise ValueError(f"unsupported grain {grain!r}")
    if metric.calculation_method not in _METHODS:
        raise ValueError(f"unsupported calculation_method {metric.calculation_method!r}")

    df = model
    for f_ in metric.filters:
        df = df.filter(f_.to_column())

    agg = _METHODS[metric.calculation_method](F.expr(metric.expression)).alias(
        metric.name
    )

    period = (
        F.date_trunc(grain, F.col(metric.timestamp)).alias(f"period_{grain}")
    )
    keys = [period] + [F.col(d) for d in metric.dimensions]
    return df.groupBy(*keys).agg(agg)


def compile_all_grains(model: DataFrame, metric: Metric) -> dict[str, DataFrame]:
    return {g: compile_metric(model, metric, g) for g in metric.time_grains}


# Map a truncated period (DATE) to a contiguous integer index so a
# RANGE frame of N periods is exact even when periods are missing from
# the data (a ROWS frame would silently span gaps). 1969-12-29 is the
# Monday that date_trunc('week') epochs align to.
_PERIOD_IDX = {
    "day": lambda p: F.datediff(p, F.lit("1970-01-01")),
    "week": lambda p: F.floor(F.datediff(p, F.lit("1969-12-29")) / 7).cast("int"),
    "month": lambda p: F.year(p) * 12 + F.month(p),
    "quarter": lambda p: F.year(p) * 4 + F.quarter(p),
    "year": lambda p: F.year(p),
}


def compile_rolling(
    model: DataFrame, metric: Metric, grain: str, window_count: int
) -> DataFrame:
    """dbt metric ``window:`` support — the metric over a trailing
    window of ``window_count`` grain-periods (e.g. trailing 7 days at
    day grain), one output row per period.

    Two-level plan: (1) a grouped partial aggregate per (period, dims)
    — the only full-data shuffle, map-side combined by Catalyst; (2) a
    RANGE-framed window over the partials. The window input is one row
    per period×dims (tiny at any source scale), so the unpartitioned
    window for dimensionless metrics is not a bottleneck — the heavy
    reduction already happened in (1). count_distinct is not
    decomposable over partials and is rejected.
    """
    if grain not in GRAINS:
        raise ValueError(f"unsupported grain {grain!r}")
    method = metric.calculation_method
    if method == "count_distinct":
        raise ValueError("count_distinct is not decomposable over a rolling window")
    if method not in _METHODS:
        raise ValueError(f"unsupported calculation_method {method!r}")

    from pyspark.sql.window import Window

    df = model
    for f_ in metric.filters:
        df = df.filter(f_.to_column())

    expr = F.expr(metric.expression)
    period = (
        F.date_trunc(grain, F.col(metric.timestamp)).alias(f"period_{grain}")
    )
    keys = [period] + [F.col(d) for d in metric.dimensions]

    if method == "average":
        partials = df.groupBy(*keys).agg(
            F.sum(expr.cast("decimal(18,6)")).alias("__s"),
            F.count(expr).alias("__c"),
        )
    elif method in ("sum", "count"):
        col = F.sum(expr.cast("decimal(18,6)")) if method == "sum" else F.count(expr)
        partials = df.groupBy(*keys).agg(col.alias("__s"))
    else:  # min / max distribute over partials directly
        partials = df.groupBy(*keys).agg(_METHODS[method](expr).alias("__s"))

    idx = _PERIOD_IDX[grain](F.col(f"period_{grain}"))
    w = (
        Window.partitionBy(*[F.col(d) for d in metric.dimensions])
        .orderBy(idx)
        .rangeBetween(-(window_count - 1), Window.currentRow)
    )
    if method == "average":
        # try_divide: a window can span only periods whose metric
        # column was all-NULL (Σ__c = 0) — NULL average in both ANSI
        # modes instead of an ANSI DIVIDE_BY_ZERO (r7 sweep).
        value = F.try_divide(
            F.sum("__s").over(w).cast("double"), F.sum("__c").over(w)
        ).alias(metric.name)
    elif method == "sum":
        value = F.sum("__s").over(w).cast("double").alias(metric.name)
    elif method == "count":
        value = F.sum("__s").over(w).alias(metric.name)
    else:
        value = _METHODS[method](F.col("__s")).over(w).alias(metric.name)
    return partials.select(f"period_{grain}", *metric.dimensions, value)


@dataclass
class DerivedMetric:
    """dbt derived metric (calculation_method: derived): an expression
    over other metrics' values at the same (period, dimensions) grain —
    e.g. revenue_per_order = total_revenue / n_orders."""

    name: str
    expression: str  # SQL over the parent metric names as columns
    metrics: tuple[Metric, ...]
    time_grains: tuple[str, ...] = ("month",)
    dimensions: tuple[str, ...] = ()


def compile_derived(model: DataFrame, metric: DerivedMetric, grain: str) -> DataFrame:
    """Compile parents at the grain, join them on (period, dims), apply
    the expression. Parents share one upstream model, so Catalyst plans
    this as one scan feeding N aggregates joined on the (tiny)
    period×dims key — the joins are broadcast at any model size."""
    if not metric.metrics:
        raise ValueError(f"derived metric {metric.name!r} needs parent metrics")
    keys = [f"period_{grain}", *metric.dimensions]
    joined: DataFrame | None = None
    for parent in metric.metrics:
        if tuple(parent.dimensions) != tuple(metric.dimensions):
            raise ValueError(
                f"parent {parent.name!r} dimensions {parent.dimensions} != "
                f"derived metric dimensions {metric.dimensions}"
            )
        p = compile_metric(model, parent, grain)
        joined = p if joined is None else joined.join(p, keys, "full_outer")
    return joined.select(
        *keys, F.expr(metric.expression).alias(metric.name)
    )


def metric_anomaly(
    series: DataFrame,
    period_col: str,
    value_col: str,
    trailing_n: int = 6,
    z_thresh: float = 2.0,
) -> DataFrame:
    """Metric anomaly panel — trailing z-score of a metric series
    against its own recent history: the third leg of the observability
    stack (PSI = distribution drift, source_freshness = staleness,
    this = metric spikes). Input is one row per period (any
    ``compile_metric`` output); each period is scored against the
    PREVIOUS ``trailing_n`` periods (current row excluded, so a spike
    cannot mask itself).

    Numerics are the exact-decimal-moments pattern
    (``profile_correlation`` exact path): the windowed Σx and Σx² are
    EXACT decimal sums, and mean/var/z are derived from them in one
    double expression — identical IEEE ops in any engine, so the panel
    is bit-reproducible and fully value-oracled, no
    stddev-accumulation-order hazard. ``z_r`` is NULL and the
    verdict is 'no_score' when history is short (<2 periods) or
    variance is 0 — "can't score" is distinct from "not anomalous"
    ('ok' / 'anomaly').

    The window input is one row per period (the heavy reduction
    happened upstream in the metric compile), so the unpartitioned
    ordered window is artifact-sized at any source scale."""
    from pyspark.sql.window import Window

    x = F.col(value_col).cast("decimal(18,2)")
    staged = series.select(
        F.col(period_col),
        x.alias("__x"),
        (x * x).cast("decimal(38,6)").alias("__xx"),
    )
    w = (
        Window.orderBy(period_col)
        .rowsBetween(-trailing_n, -1)
    )
    n = F.count("__x").over(w)
    sx = F.sum("__x").over(w).cast("double")
    sxx = F.sum("__xx").over(w).cast("double")
    mean = sx / n
    var = (sxx - sx * sx / n) / (n - 1)
    z = (F.col("__x").cast("double") - mean) / F.sqrt(var)
    # Rounding scale is magnitude-aware: value/mean are money-scale
    # (rounding a 1e7-magnitude double at 9 dp needs 17 significant
    # digits — beyond double, so the two engines would disagree in the
    # last ulp of the "rounded" result); z is O(1) and takes PARITY_DP.
    scored = staged.select(
        period_col,
        F.round(F.col("__x").cast("double"), _MONEY_DP).alias("value_r"),
        n.alias("n_history"),
        F.round(mean, _MONEY_DP).alias("mean_r"),
        F.when((n >= 2) & (var > 0), F.round(z, PARITY_DP)).alias("z_r"),
    )
    # String verdict, not a nullable boolean: 'no_score' (short
    # history / zero variance) is a first-class outcome, and NULL
    # booleans render differently through pandas in different engines
    # (None vs NaN) — a hash hazard with no semantic payoff.
    return scored.withColumn(
        "verdict",
        F.when(F.col("z_r").isNull(), F.lit("no_score"))
        .when(F.abs(F.col("z_r")) > z_thresh, F.lit("anomaly"))
        .otherwise(F.lit("ok")),
    )
