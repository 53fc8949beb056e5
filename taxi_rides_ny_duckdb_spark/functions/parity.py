"""Deterministic numeric aggregation helpers.

Floating-point SUM/AVG are order-dependent; Spark sums partitions in a
nondeterministic order while a single-node engine (the DuckDB oracle)
sums sequentially, so ``sum(double)`` can differ in the last ulp between
engines AND between runs. That breaks value-hash comparison and, at
100 TB, reproducibility of pipeline outputs.

The engine's pattern: route every money/measure sum through an exact
DECIMAL, then present as double. ``cast(double AS decimal(p,s))`` is
deterministic (round-to-nearest of the same IEEE value in both engines),
decimal addition is exact and associative → order-independent, and the
final ``cast(decimal AS double)`` is again deterministic. The same trick
makes AVG deterministic: exact decimal sum / count.

DuckDB-equivalent SQL for ``dsum(c, 18, 4)``:
``CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DOUBLE)``.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# The engine-parity precision. Scores, distances and ratios that feed a
# top-k, an argmin or a threshold are rounded to this many decimals in
# Spark AND in the DuckDB oracle before they are compared, so a last-ulp
# difference between the two engines' float folds cannot change which
# row wins.
PARITY_DP = 9

# Per scale, the |v| at and above which ``round_half_up_np`` leaves the
# fast path and rounds through the scalar form.
_FAST_PATH_MAX = {PARITY_DP: 2**53 / 1e9, 12: 2.0}


def dsum(col: Column, precision: int = 18, scale: int = 4) -> Column:
    """Order-independent SUM of a double expression, presented as double.

    ``scale`` must cover the true decimal scale of the expression (e.g.
    price(2dp) * (1 - discount(2dp)) is exact at 4dp) so the decimal
    round-trip is lossless.
    """
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def present_doubles(df):
    """Present every DECIMAL column as DOUBLE at a contract boundary.

    Internal plans keep decimals (exact, order-independent sums); the
    driver's hash compares pandas string forms, where a Spark decimal
    arrives as ``Decimal('96262.50')`` but DuckDB's pandas path yields
    float64 ``96262.5`` — value-identical, string-different. Casting to
    double on BOTH sides (oracle: ``CAST(... AS DOUBLE)``) pins one
    representation. ``cast(decimal AS double)`` is deterministic, so
    this never reorders or perturbs the compared values.
    """
    from pyspark.sql.types import DecimalType

    return df.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in df.schema.fields
        ]
    )


def davg(col: Column, precision: int = 18, scale: int = 4) -> Column:
    """Order-independent AVG: exact decimal sum / non-null count.

    ``try_divide``: an all-NULL group has count 0 — built-in avg()
    returns NULL there, a bare ``/`` raises DIVIDE_BY_ZERO under the
    ambient ANSI mode (r7 sweep); try_divide returns NULL in both ANSI
    modes, which is also what the DuckDB oracle's x/0 yields."""
    return F.try_divide(
        F.sum(col.cast(f"decimal({precision},{scale})")).cast("double"),
        F.count(col),
    )


def round_half_up(x: float, dp: int) -> float:
    """Engine ROUND of one double at ``dp`` decimals — Python's built-in
    ``round()`` is banker's and would diverge.

    HALF_UP on ``Decimal(repr(x))``, NOT ``Decimal(x)``: Spark's Round
    is ``BigDecimal.valueOf(x)``, which rounds the SHORTEST round-trip
    repr of the double, and Python's ``repr`` produces the same digits.
    Witness: x = 0.1234567895 has exact binary 0.12345678949999…, so
    exact-binary HALF_UP gives 0.123456789 where both engines give
    0.123456790 (the r13 sf0.1 incident: ext_semdedup_hier cent_sim_r
    0.448349374 vs …375). The scale-0 integer kernels — round(t²·10¹²)
    etc. — are immune: k + 0.5 is exact below 2⁵², so the binary and
    shortest-repr half-lines coincide there.

    Domain: DuckDB agrees with this form only for |x| < 1e4. Above
    that magnitude DuckDB rounds the exact binary value: with duckdb
    1.0.0 and pyspark 4.1.2, ``round(67315.5459411565, 9)`` is
    67315.545941156 in DuckDB and 67315.545941157 in Spark and in this
    form. ``round_half_up_np``'s fast path rounds the scaled binary
    value, so above 1e4 it follows DuckDB and this form follows Spark:
    42 of 200,000 seeded uniform draws in [1e4, 1e5) differ, none in
    [1e3, 1e4)."""
    return float(
        Decimal(repr(x)).quantize(Decimal(f"1e-{dp}"), rounding=ROUND_HALF_UP)
    )


def round_half_up_np(v, dp: int):
    """Vectorized ``round_half_up`` of a float64 array of any shape, at
    ``dp`` = ``PARITY_DP`` or 12 (the LR addend scale). The fast path
    scales |v| by 10^dp and splits on the fractional part; a value
    whose fraction lies within 10⁻³ of one half (wider than the worst
    float error of the scaling), or whose |v| reaches the scale's
    ``_FAST_PATH_MAX`` bound, takes the scalar form instead — ~0.1% of
    uniform inputs, so the Decimal cost leaves the hot loops. Sign is
    handled by symmetry: both engines round half away from zero, and
    repr is sign-symmetric. Grid-tested against the scalar form and
    Spark ``F.round`` (test_round9_vectorized_matches_scalar,
    test_round12_vectorized_matches_scalar)."""
    import numpy as np

    v = np.asarray(v, dtype=np.float64)
    scale = float(10**dp)
    a = np.abs(v)
    scaled = a * scale
    f = np.floor(scaled)
    frac = scaled - f
    slow = np.abs(frac - 0.5) < 1e-3
    slow |= ~np.isfinite(scaled) | (a >= _FAST_PATH_MAX[dp])
    out = np.copysign((f + (frac >= 0.5)) / scale, v)
    for i in np.flatnonzero(slow):
        out.flat[i] = round_half_up(float(v.flat[i]), dp)
    return out
