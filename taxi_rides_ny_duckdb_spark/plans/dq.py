"""Data-quality test framework — dbt generic tests as engine features.

Reference analog: the four generic dbt tests wired in YAML
(``models/staging/schema.yml:33-65,86-93,124-157,178-185`` and
``models/core/schema.yml:19-24``) compile to "count the violating rows"
queries; nonzero counts fail (severity ``error``) or log (``warn``)
(SURVEY §3.2, §5.1). Here a test is a declarative record (kind, column,
accepted values or parent key set) and the runner evaluates every test
of one model together.

One evaluation per model: the model's frame gains one boolean flag per
row-level test — ``not_null``, ``accepted_values``, and
``relationships`` as a left join against the broadcast distinct parent
key set with a miss flag — then one ``groupBy`` over the ``unique``
column carries the row count and the flag sums, and one global row
holds every count. The models' one-row aggregates are unioned and
collected by a single action, so their independent stages run side by
side and a parent key set shared across models is broadcast once
(exchange reuse). A lazy view (the staging models) is evaluated once
per model rather than once per test, so all of a model's tests
describe one snapshot even where the view's dedup keeps an arbitrary
survivor. At 100 TB each model is scanned once; besides the view's own
dedup exchange, its pass adds one exchange on the unique key and one
broadcast per parent key set.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field, replace
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import cache_scope, scoped_persist

log = logging.getLogger(__name__)


@dataclass
class DQTest:
    """One wired test instance (model + test + severity), mirroring a
    YAML entry. ``kind`` is one of dbt's four generic tests (``unique``,
    ``not_null``, ``accepted_values``, ``relationships``); ``values`` is
    the ``accepted_values`` list; ``parent``/``parent_key`` are the
    ``relationships`` target (``to: ref(...)``, ``field: ...``).
    ``severity``: 'error' raises, 'warn' logs — dbt defaults to error
    when unspecified (SURVEY §5.1)."""

    name: str
    model: str
    kind: str
    column: str
    severity: str = "error"
    values: tuple = ()
    parent: DataFrame | None = field(default=None, repr=False, compare=False)
    parent_key: str | None = None

    def __post_init__(self) -> None:
        kinds = ("unique", "not_null", "accepted_values", "relationships")
        if self.kind not in kinds:
            raise ValueError(f"dq test {self.name}: unknown kind {self.kind!r}, expected one of {kinds}")


@dataclass
class DQResult:
    test: DQTest
    violations: int
    failures_path: str | None = None  # set when store_failures wrote rows

    @property
    def passed(self) -> bool:
        return self.violations == 0


class DQError(AssertionError):
    pass


def _flag(i: int) -> str:
    return f"__dq{i}"


def flag_rows(df: DataFrame, tests: Sequence[DQTest]) -> DataFrame:
    """``df``'s rows with one boolean column ``__dq{i}`` per row-level
    test ``tests[i]`` (every kind but ``unique``), true on a violating
    row.

    - ``not_null`` (``schema.yml:38-39``): the column is NULL.
    - ``accepted_values`` (``schema.yml:86-93``): non-NULL and outside
      the list — dbt's generated SQL does not report NULL.
    - ``relationships`` (``schema.yml:55-65``): a non-NULL key with no
      match in a left join against the parent's distinct key set. The
      key set is broadcast (the child is the big side and never
      shuffles), so it is small by contract and deduplicated in one
      task, without an exchange. It is built once per ``(parent,
      parent_key)``; tests that share it join it under one alias each.
    """
    key_sets: dict[tuple[int, str], DataFrame] = {}
    flags = {}
    for i, t in enumerate(tests):
        c = F.col(t.column)
        if t.kind == "not_null":
            flag = c.isNull()
        elif t.kind == "accepted_values":
            flag = c.isNotNull() & ~c.isin(list(t.values))
        elif t.kind == "relationships":
            if t.parent is None:
                raise ValueError(
                    f"dq test {t.name}: relationships test has no parent "
                    "(bind it with bind_relationship_tests)"
                )
            ident = (id(t.parent), t.parent_key)
            if ident not in key_sets:
                key_sets[ident] = F.broadcast(
                    t.parent.select(F.col(t.parent_key).alias("__pk")).coalesce(1).distinct()
                )
            pk = F.col(f"__parent{i}.__pk")
            df = df.join(key_sets[ident].alias(f"__parent{i}"), c == pk, "left")
            flag = c.isNotNull() & pk.isNull()
        else:
            continue
        flags[_flag(i)] = flag
    return df.withColumns(flags)


def _violation_counts(flagged: DataFrame, tests: Sequence[DQTest], model_index: int) -> DataFrame:
    """One row, ``(model_index, counts)``: every test's violation count from
    one aggregate over ``flag_rows(df, tests)``. A ``groupBy`` on the
    ``unique`` column carries its row count and the flag sums, then one
    global row sums them. A key group with more than one row is one
    ``unique`` violation — the NULL group included, as dbt's ``GROUP BY
    ... HAVING count(*) > 1`` counts it. An empty model counts 0."""
    keys = {t.column for t in tests if t.kind == "unique"}
    if len(keys) > 1:
        raise ValueError(
            f"dq tests on model {tests[0].model}: unique tests on several columns "
            f"{sorted(keys)}; one evaluation per model groups by one unique column"
        )
    flags = [_flag(i) for i, t in enumerate(tests) if t.kind != "unique"]
    if not keys:
        sums = {f: F.count_if(F.col(f)) for f in flags}
    else:
        flagged = flagged.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("__n"), *[F.count_if(F.col(f)).alias(f) for f in flags]
        )
        sums = {f: F.coalesce(F.sum(f), F.lit(0)) for f in flags}
        sums["__dup"] = F.count_if(F.col("__n") > 1)
    return flagged.agg(
        F.lit(model_index).alias("model"),
        F.array(*[sums["__dup" if t.kind == "unique" else _flag(i)]
                  for i, t in enumerate(tests)]).alias("counts"),
    )


def _failing_rows(flagged: DataFrame, columns: list[str], i: int, t: DQTest) -> DataFrame:
    """The rows ``--store-failures`` keeps for ``tests[i]``: the
    ``unique`` test's duplicated keys with their ``n_records`` (dbt's
    audit table shape), every other test's violating model rows."""
    if t.kind == "unique":
        return (
            flagged.groupBy(t.column)
            .agg(F.count(F.lit(1)).alias("n_records"))
            .filter(F.col("n_records") > 1)
        )
    return flagged.filter(F.col(_flag(i))).select(*columns)


def run_tests(
    models: dict[str, DataFrame],
    tests: Sequence[DQTest],
    raise_on_error: bool = True,
    store_failures_dir: str | None = None,
) -> list[DQResult]:
    """Execute tests, enforcing severities like ``dbt build`` (§3.2):
    one ``flag_rows`` + ``_violation_counts`` evaluation per model, all
    models' counts collected together.

    ``store_failures_dir``: dbt's ``--store-failures`` — each test's
    violating ROWS (not just the count) are written to
    ``{dir}/{test.name}`` so failures can be inspected/joined later.
    Each model's flagged frame is then persisted once (released when
    the run ends), every test's rows are written from it and the counts
    are read from it, so stored rows and reported counts describe one
    snapshot."""
    by_model: dict[str, list[int]] = {}
    for pos, t in enumerate(tests):
        by_model.setdefault(t.model, []).append(pos)
    groups = list(by_model.values())
    paths: list[str | None] = [None] * len(tests)
    counts = [0] * len(tests)
    with cache_scope():
        per_model = []
        for k, positions in enumerate(groups):
            group = [tests[p] for p in positions]
            df = models[group[0].model]
            flagged = flag_rows(df, group)
            if store_failures_dir is not None:
                flagged = scoped_persist(flagged)
                for i, (p, t) in enumerate(zip(positions, group)):
                    paths[p] = os.path.join(store_failures_dir, t.name)
                    _failing_rows(flagged, df.columns, i, t).write.mode("overwrite").parquet(paths[p])
            per_model.append(_violation_counts(flagged, group, k))
        for row in reduce(DataFrame.union, per_model).collect() if per_model else []:
            for p, n in zip(groups[row["model"]], row["counts"]):
                counts[p] = int(n)
    results = [DQResult(t, counts[p], failures_path=paths[p]) for p, t in enumerate(tests)]
    errors: list[str] = []
    for r in results:
        t, n = r.test, r.violations
        if n > 0:
            msg = f"dq test {t.name} on {t.model}: {n} violating rows (severity={t.severity})"
            if t.severity == "error":
                errors.append(msg)
            else:
                log.warning(msg)
    if errors and raise_on_error:
        raise DQError("; ".join(errors))
    return results


def reference_test_suite(payment_type_values: Sequence[int] = (1, 2, 3, 4, 5, 6)) -> list[DQTest]:
    """The reference's exact test matrix, severities included:

    - unique + not_null on tripid, both staging models, severity warn
      (``models/staging/schema.yml:35-39,126-130``);
    - relationships pickup/dropoff → zone lookup: green pickup warn,
      green dropoff **error** (no severity key ⇒ default,
      ``schema.yml:60-65``), yellow both warn (``schema.yml:145-157``);
    - accepted_values payment_type ∈ vars (warn, ``schema.yml:86-93``);
    - not_null revenue_monthly_total_amount **error**
      (``models/core/schema.yml:19-24``).

    Models dict keys expected: stg_green_tripdata, stg_yellow_tripdata,
    dm_monthly_zone_revenue. The relationships tests' parent (the zone
    seed) is bound by ``bind_relationship_tests``.
    """
    tests: list[DQTest] = []
    for stg, (pu_sev, do_sev) in {
        "stg_green_tripdata": ("warn", "error"),
        "stg_yellow_tripdata": ("warn", "warn"),
    }.items():
        tests += [
            DQTest(f"unique__{stg}__tripid", stg, "unique", "tripid", "warn"),
            DQTest(f"not_null__{stg}__tripid", stg, "not_null", "tripid", "warn"),
            DQTest(f"accepted_values__{stg}__payment_type", stg, "accepted_values",
                   "payment_type", "warn", values=tuple(payment_type_values)),
        ]
        for key, sev in (("pickup_locationid", pu_sev), ("dropoff_locationid", do_sev)):
            tests.append(DQTest(f"relationships__{stg}__{key}", stg, "relationships", key, sev,
                                parent_key="locationid"))
    tests.append(
        DQTest(
            "not_null__dm_monthly_zone_revenue__revenue_monthly_total_amount",
            "dm_monthly_zone_revenue",
            "not_null",
            "revenue_monthly_total_amount",
            "error",
        )
    )
    return tests


def bind_relationship_tests(tests: list[DQTest], zone_lookup: DataFrame) -> list[DQTest]:
    """Bind the unbound relationship tests' parent to the zone seed."""
    return [
        replace(t, parent=zone_lookup) if t.kind == "relationships" and t.parent is None else t
        for t in tests
    ]


def source_freshness(
    df: DataFrame,
    loaded_at: str,
    now,
    warn_after_s: int,
    error_after_s: int,
) -> DataFrame:
    """``dbt source freshness`` — is the source table stale? dbt's
    freshness block (``loaded_at_field`` + ``warn_after`` /
    ``error_after``) compiles to exactly this: ``max(loaded_at)``,
    its age against an evaluation instant, and a pass/warn/error
    verdict. ``now`` is an explicit parameter (dbt uses the wall
    clock; an explicit instant keeps runs reproducible and the oracle
    replayable — the snapshots-``as_of`` convention). NULL
    ``loaded_at`` rows are ignored by MAX, matching dbt; an all-NULL
    or empty source yields a NULL age and status 'error' (no evidence
    of freshness is staleness).

    One row out of one MAX aggregate — a single scan, map-side
    combined; the cheapest possible check to schedule before every
    pipeline run. Output: (max_loaded_at, age_seconds, status)."""
    if not (0 < warn_after_s <= error_after_s):
        raise ValueError(
            "need 0 < warn_after_s <= error_after_s, got "
            f"{warn_after_s=} {error_after_s=}"
        )
    now_ts = F.lit(now).cast("timestamp")
    mx = F.max(F.col(loaded_at))
    age = now_ts.cast("long") - mx.cast("long")
    status = (
        F.when(age.isNull() | (age > error_after_s), F.lit("error"))
        .when(age > warn_after_s, F.lit("warn"))
        .otherwise(F.lit("pass"))
    )
    return df.agg(
        mx.alias("max_loaded_at"),
        age.alias("age_seconds"),
        status.alias("status"),
    )
