"""Property-based tests (hypothesis): the custom join operators must
equal their naive reference semantics on arbitrary small inputs — the
operator-level analog of the DuckDB oracle, probing edge shapes the
fixed test data can't (empty sides, all-duplicate keys, single hot key,
ties at boundaries)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_KEYS = st.integers(min_value=0, max_value=3)  # few keys → collisions likely
_VALS = st.integers(min_value=-5, max_value=5)


@settings(**_SETTINGS)
@given(
    left=st.lists(st.tuples(_KEYS, _VALS), max_size=12),
    right=st.lists(st.tuples(_KEYS, _VALS), max_size=8),
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_join_multiset_equality(spark, left, right, n_salts):
    from taxi_rides_ny_duckdb_spark.operators.scale import salted_join

    l = spark.createDataFrame(left or [(99, 0)], ["k", "lv"])
    r = spark.createDataFrame(right or [(99, 0)], ["k", "rv"])
    if not left:
        l = l.filter("k < 0")
    if not right:
        r = r.filter("k < 0")
    got = sorted(
        (row["k"], row["lv"], row["rv"])
        for row in salted_join(l, r, "k", n_salts=n_salts).collect()
    )
    want = sorted(
        (lk, lv, rv) for (lk, lv) in left for (rk, rv) in right if lk == rk
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    left=st.lists(st.tuples(_KEYS, st.integers(0, 50)), min_size=1, max_size=10),
    right=st.lists(st.tuples(_KEYS, st.integers(0, 50)), min_size=1, max_size=10),
)
def test_asof_join_matches_naive_reference(spark, left, right):
    from taxi_rides_ny_duckdb_spark.operators.temporal import asof_join

    base = dt.datetime(2024, 1, 1)
    t = lambda m: base + dt.timedelta(minutes=m)
    # right must be unique per (key, ts): documented asof precondition
    right_u = {(k, m): float(k * 100 + m) for k, m in right}
    l = spark.createDataFrame(
        [(k, t(m), i) for i, (k, m) in enumerate(left)], ["k", "ts", "lid"]
    )
    r = spark.createDataFrame(
        [(k, t(m), px) for (k, m), px in right_u.items()], ["k", "ts", "px"]
    )
    got = {r_["lid"]: r_["px"] for r_ in asof_join(l, r, "k").collect()}
    for i, (k, m) in enumerate(left):
        cand = [(m2, px) for (k2, m2), px in right_u.items() if k2 == k and m2 <= m]
        want = max(cand)[1] if cand else None
        assert got[i] == want, (i, k, m, cand)


@settings(**_SETTINGS)
@given(
    points=st.lists(st.tuples(_KEYS, st.integers(0, 300)), min_size=1, max_size=10),
    intervals=st.lists(
        st.tuples(_KEYS, st.integers(0, 300), st.integers(0, 120)),
        min_size=1,
        max_size=8,
    ),
)
def test_range_join_matches_naive_reference(spark, points, intervals):
    from taxi_rides_ny_duckdb_spark.operators.temporal import range_join

    base = dt.datetime(2024, 1, 1)
    t = lambda m: base + dt.timedelta(minutes=m)
    l = spark.createDataFrame(
        [(k, t(m), i) for i, (k, m) in enumerate(points)], ["k", "pt", "pid"]
    )
    r = spark.createDataFrame(
        [(k, t(s), t(s + w), j) for j, (k, s, w) in enumerate(intervals)],
        ["k", "lo", "hi", "iid"],
    )
    got = sorted(
        (row["pid"], row["iid"])
        for row in range_join(
            l, r, "pt", "lo", "hi", on="k", bucket_seconds=1800
        ).collect()
    )
    want = sorted(
        (i, j)
        for i, (pk, pm) in enumerate(points)
        for j, (ik, s, w) in enumerate(intervals)
        if pk == ik and s <= pm <= s + w
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), max_size=20),
    weights=st.sampled_from(
        [{"train": 0.8, "val": 0.1, "test": 0.1},
         {"a": 0.5, "b": 0.5},
         {"x": 1.0}]
    ),
)
def test_hash_split_is_stable_partition(spark, ids, weights):
    """hash_split must be a FUNCTION of the id alone: every id gets
    exactly one split label, duplicate ids always agree, and the
    assignment is invariant under repartitioning (content-addressed,
    not position-addressed)."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(i,) for i in ids] or [(0,)], schema="doc_id long"
    )
    one = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", weights).collect()}
    assert set(one.values()) <= set(weights)
    two = {
        r["doc_id"]: r["split"]
        for r in hash_split(df.repartition(7), "doc_id", weights).collect()
    }
    assert one == two


@settings(**_SETTINGS)
@given(texts=st.lists(st.text(max_size=12), max_size=16))
def test_exact_dedup_keeps_one_per_content(spark, texts):
    """Exact dedup: one group per distinct text, survivor id is the
    minimum doc_id of its content group (deterministic), and copy
    counts sum back to the input row count (nothing lost)."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(texts)] or [(0, "x")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = exact_dedup(df, "text", id_col="doc_id").collect()
    survivors = {r["canonical_doc_id"] for r in out}
    expect = {min(i for i, t2 in rows if t2 == t) for _, t in rows}
    assert survivors == expect
    by_content = {r["content_hash"]: r["n_copies"] for r in out}
    assert sum(by_content.values()) == len(rows)
    assert len(by_content) == len({t for _, t in rows})


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["en", "de", "zh"]),
        ),
        max_size=20,
    ),
    fractions=st.sampled_from(
        [{"en": 0.25}, {"en": 0.0, "de": 0.5}, {}]
    ),
)
def test_stratified_sample_equals_per_stratum_sample(spark, rows, fractions):
    """stratified_hash_sample must equal running hash_sample per
    stratum with that stratum's fraction (default 1.0 keeps unlisted
    strata whole) — i.e. the CASE-threshold fusion changes the plan,
    never the row set."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.createDataFrame(
        rows or [(0, "en")], schema="doc_id long, lang string"
    )
    got = sorted(
        (r["doc_id"], r["lang"])
        for r in stratified_hash_sample(df, "doc_id", "lang", fractions).collect()
    )
    want = []
    for stratum in ["en", "de", "zh"]:
        frac = fractions.get(stratum, 1.0)
        part = df.filter(F.col("lang") == stratum)
        want += [
            (r["doc_id"], r["lang"])
            for r in hash_sample(part, "doc_id", frac).collect()
        ]
    assert got == sorted(want)


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("aa bb cc dd ee".split()),
                 min_size=0, max_size=8),
        max_size=10,
    ),
    n_bench=st.integers(min_value=0, max_value=4),
    m_bits=st.sampled_from([64, 512]),
    k=st.integers(min_value=1, max_value=4),
)
def test_bloom_contamination_equals_exact(spark, docs, n_bench, m_bits, k):
    """Across arbitrary tiny corpora (incl. empty docs, empty benchmark,
    sub-shingle docs) and Bloom configs down to the 64-bit all-FP
    regime, the prefiltered path equals the exact broadcast path —
    the operator-level analog of the DuckDB oracle."""
    from taxi_rides_ny_duckdb_spark.operators.dedup import (
        bloom_prefilter_contamination,
        ngram_contamination,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows or [(0, "x")], ["doc_id", "text"])
    bench = df.filter(F.col("doc_id") < n_bench)
    corpus = df.filter(F.col("doc_id") >= n_bench)
    exact = sorted(
        (r["doc_id"], r["n_overlap"])
        for r in ngram_contamination(
            corpus, bench, "text", "doc_id", shingle_n=2
        ).collect()
    )
    got = sorted(
        (r["doc_id"], r["n_overlap"])
        for r in bloom_prefilter_contamination(
            corpus, bench, "text", "doc_id",
            shingle_n=2, m_bits=m_bits, k=k,
        ).collect()
    )
    assert got == exact


@settings(**_SETTINGS)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=2, max_size=4),
    shares=st.lists(st.integers(min_value=1, max_value=5), min_size=2, max_size=4),
)
def test_mixture_sample_invariants(spark, counts, shares):
    """For arbitrary stratum sizes and (normalized) target shares:
    no stratum is upsampled, unlisted strata are dropped, the binding
    stratum (min n/share) is kept whole, and re-runs are identical."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import mixture_sample

    k = min(len(counts), len(shares))
    counts, shares = counts[:k], shares[:k]
    tot = sum(shares)
    targets = {f"s{i}": shares[i] / tot for i in range(k)}
    # pin exact sum to 1 against float drift
    targets[f"s{k-1}"] = 1.0 - sum(targets[f"s{i}"] for i in range(k - 1))
    rows = [
        (i * 1000 + j, f"s{i}") for i in range(k) for j in range(counts[i])
    ] + [(999_999, "unlisted")]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = mixture_sample(df, "doc_id", "lang", targets)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "unlisted" not in got
    for i in range(k):
        assert got.get(f"s{i}", 0) <= counts[i]  # never upsampled
    binding = min(range(k), key=lambda i: counts[i] / targets[f"s{i}"])
    assert got.get(f"s{binding}", 0) == counts[binding]  # kept whole
    again = {r["lang"]: r["n"] for r in
             mixture_sample(df, "doc_id", "lang", targets)
             .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == got


@settings(**_SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=60),
    epochs_x10=st.integers(min_value=1, max_value=35),
)
def test_epoch_upsample_multiset_invariants(spark, n, epochs_x10):
    """For arbitrary corpus sizes and epochs in (0, 3.5]: every row
    appears floor(e) or ceil(e) times, epoch_idx is dense 0..c-1 per
    row, and the total lands between n·floor(e) and n·ceil(e)."""
    import math

    from taxi_rides_ny_duckdb_spark.operators.sampling import epoch_upsample

    e = epochs_x10 / 10.0
    df = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    out = epoch_upsample(df, "doc_id", e).collect()
    lo, hi = math.floor(e), math.ceil(e)
    per = {}
    for r in out:
        per.setdefault(r["doc_id"], []).append(r["epoch_idx"])
    for doc, idxs in per.items():
        c = len(idxs)
        assert c in (lo, hi) and c >= 1, (doc, c, e)
        assert sorted(idxs) == list(range(c))
    total = len(out)
    assert n * lo <= total <= n * hi
    if e >= 1:
        assert len(per) == n  # every row survives when epochs >= 1


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=40),
                  st.integers(min_value=0, max_value=2)),
        max_size=30, unique_by=lambda t: t[0],
    ),
    cap=st.integers(min_value=1, max_value=4),
)
def test_cap_per_group_two_level_equals_single_window(spark, rows, cap):
    """r7 two-level frequency cap ≡ the single-window (hash, id) order,
    replayed in pure Python, on arbitrary (id, group) sets — including
    empty input, all-one-group, and below-cap groups; the Arrow
    pre-prune must never change WHICH rows survive, only where they are
    pruned."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import cap_per_group
    from tests.test_operators import _ref_hash_fraction, _ref_top_per_group

    df = spark.createDataFrame(rows or [(99, 0)], "doc_id bigint, g int")
    if not rows:
        df = df.filter("doc_id < 0")
    df = df.repartition(3)
    two = {(r["doc_id"], r["g"])
           for r in cap_per_group(df, "doc_id", "g", cap).collect()}
    assert two == _ref_top_per_group(
        rows, cap, lambda r: _ref_hash_fraction(r[0], "cap")
    )


@settings(**_SETTINGS)
@given(ids=st.lists(st.integers(min_value=-50, max_value=50),
                    max_size=25, unique=True))
def test_corpus_shuffle_is_permutation_and_partition_invariant(spark, ids):
    """corpus_shuffle positions are exactly 0..n-1 for ANY id set
    (negative ids, empty input) and identical under a different
    physical partitioning — the content-addressed contract."""
    from taxi_rides_ny_duckdb_spark.operators.sampling import corpus_shuffle

    df = spark.createDataFrame([(i,) for i in ids] or [(99,)], "doc_id bigint")
    if not ids:
        df = df.filter("doc_id < -100")
    a = {r["doc_id"]: r["shuffle_pos"]
         for r in corpus_shuffle(df, "doc_id", n_buckets=8).collect()}
    assert sorted(a.values()) == list(range(len(ids)))
    b = {r["doc_id"]: r["shuffle_pos"]
         for r in corpus_shuffle(df.repartition(4), "doc_id", n_buckets=8).collect()}
    assert a == b


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=20), max_size=10
    )
)
def test_tfidf_matches_python_reference(spark, docs):
    """tfidf_topk_terms equals a pure-Python replay — smooth idf
    ln((N+1)/(df+1)) + 1, 9dp round-before-rank, ties by term — on
    arbitrary small corpora, including empty/whitespace-only
    documents (they count in N and emit no rows)."""
    import math
    from collections import Counter

    from taxi_rides_ny_duckdb_spark.functions.parity import PARITY_DP, round_half_up
    from taxi_rides_ny_duckdb_spark.operators.cleaning import tfidf_topk_terms

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)] or [(0, "x")],
        "doc_id bigint, text string",
    )
    if not docs:
        df = df.filter("doc_id < 0")
    got = {(r["doc_id"], r["rank"], r["term"], r["tfidf_r"])
           for r in tfidf_topk_terms(df, "text", "doc_id", 2).collect()}
    tfs = [Counter(t.lower().split()) for t in docs]
    dfreq = Counter(term for c in tfs for term in c)
    want = set()
    for i, c in enumerate(tfs):
        scored = sorted(
            (-round_half_up(
                n * (math.log((len(docs) + 1.0) / (dfreq[t] + 1.0)) + 1.0),
                PARITY_DP,
            ), t)
            for t, n in c.items()
        )
        want |= {(i, rank, t, -neg)
                 for rank, (neg, t) in enumerate(scored[:2], start=1)}
    assert got == want


# profile_correlation's documented domain is decimal-valued
# (price-scale) data: inputs are quantized once at 8dp. Quarter-steps
# are binary-exact 2dp decimals — lossless under the 8dp quantization
# and as doubles — so the exact rational reference below sees the SAME
# points. (Arbitrary floats — e.g. −92.775390625, 9dp — are perturbed
# by quantization; on near-degenerate frames that legally moves the
# correlation, which is out of scope here.)
_CORR_VALS = st.integers(min_value=-400, max_value=400).map(lambda i: i / 4.0)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(_CORR_VALS, st.one_of(st.none(), _CORR_VALS)),
        min_size=3, max_size=20,
    )
)
def test_profile_correlation_matches_exact_rational(spark, rows):
    """The decimal-moment correlation equals an exact
    ``fractions.Fraction`` Pearson reference within 1e-9 on arbitrary
    small frames with pairwise nulls, is NULL exactly when a side has
    zero variance (the ANSI-mode divide-by-zero guard), and |r| ≤ 1."""
    import math
    from fractions import Fraction

    from taxi_rides_ny_duckdb_spark.plans.profile import profile_correlation

    df = spark.createDataFrame(rows, "x double, y double")
    got = profile_correlation(df, [("x", "y")]).collect()[0]["corr_r"]
    pts = [(Fraction(x), Fraction(y)) for x, y in rows if y is not None]
    n = len(pts)
    sx, sy = sum(x for x, _ in pts), sum(y for _, y in pts)
    vx = n * sum(x * x for x, _ in pts) - sx * sx
    vy = n * sum(y * y for _, y in pts) - sy * sy
    if vx <= 0 or vy <= 0:
        assert got is None
        return
    cov = n * sum(x * y for x, y in pts) - sx * sy
    want = math.copysign(math.sqrt(cov * cov / (vx * vy)), cov)
    assert got is not None and abs(got) <= 1.0, got
    assert abs(got - want) < 1e-9, (got, want)


_WORDS = st.sampled_from(["aa", "bb", "cc", "dd"])  # tiny vocab → span collisions


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(_WORDS, min_size=0, max_size=12), min_size=0, max_size=8
    ),
    span=st.integers(min_value=1, max_value=4),
)
def test_remove_duplicated_spans_laws(spark, docs, span):
    """Laws on arbitrary corpora: every doc comes back exactly once;
    kept text is the in-order concat of non-removed spans (so token
    count = n_spans·span − removed·span, tail-adjusted); a HIGHER
    min_dup_docs never removes more; and with no cross-doc duplicate
    span, text round-trips unchanged."""
    from taxi_rides_ny_duckdb_spark.operators.cleaning import (
        remove_duplicated_spans,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows or [(0, "")], ["doc_id", "text"])
    out2 = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            df, "text", "doc_id", span_tokens=span, min_dup_docs=2
        ).collect()
    }
    out3 = {
        r["doc_id"]: r
        for r in remove_duplicated_spans(
            df, "text", "doc_id", span_tokens=span, min_dup_docs=3
        ).collect()
    }
    data = dict(rows or [(0, "")])
    assert set(out2) == set(data)
    for i, text in data.items():
        toks = text.split()
        n_spans = (len(toks) + span - 1) // span
        assert out2[i]["n_spans"] == n_spans
        # monotone: stricter threshold removes a subset
        assert out3[i]["n_removed"] <= out2[i]["n_removed"]
        # kept text is a subsequence of original spans, in order
        spans = [
            " ".join(toks[j * span : (j + 1) * span]) for j in range(n_spans)
        ]
        kept = out2[i]["clean_text"]
        remaining = [s for s in spans]
        # greedy check: clean_text must be reproducible by deleting spans
        pieces = []
        removed = 0
        # recompute expected: a span is removed iff FULL and shared by ≥2 docs
        full_span_docs: dict = {}
        for j, words in ((k, v.split()) for k, v in data.items()):
            for b in range(0, len(words) - span + 1, span):
                s = " ".join(words[b : b + span])
                full_span_docs.setdefault(s, set()).add(j)
        for idx, s in enumerate(spans):
            is_full = len(s.split()) == span
            if is_full and len(full_span_docs.get(s, ())) >= 2:
                removed += 1
            else:
                pieces.append(s)
        assert kept == " ".join(p for p in pieces if p)
        assert out2[i]["n_removed"] == removed
    assert remaining is not None  # lint quiet


@settings(**_SETTINGS)
@given(
    vec=st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=8,
    )
)
def test_quantize_int8_reconstruction_bound(spark, vec):
    """Dequantized components stay within scale/2 of the original, and
    q is always in [-127, 127] (the int8 contract)."""
    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        int8_scale,
        quantize_int8,
    )

    df = spark.createDataFrame([(1, vec)], ["id", "v"])
    row = df.select(
        int8_scale(F.col("v")).alias("s"),
        quantize_int8(F.col("v"), int8_scale(F.col("v"))).alias("q"),
    ).first()
    s, q = row["s"], row["q"]
    assert all(-127 <= qi <= 127 for qi in q)
    for x, qi in zip(vec, q):
        assert abs(qi * s - x) <= s / 2 + 1e-12


@settings(**_SETTINGS)
@given(
    old=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 2)), max_size=8,
                 unique_by=lambda t: t[0]),
    new=st.lists(st.tuples(st.integers(0, 6), st.integers(0, 2)), max_size=8,
                 unique_by=lambda t: t[0]),
)
def test_snapshot_diff_partitions_keyspace(spark, old, new):
    """diff statuses partition the key union: added = new∖old,
    removed = old∖new, changed∪unchanged = old∩new with value
    (in)equality; and diff(x, x) is all-unchanged."""
    from taxi_rides_ny_duckdb_spark.plans.snapshots import snapshot_diff

    o = spark.createDataFrame(old or [(99, 0)], ["k", "v"])
    n = spark.createDataFrame(new or [(99, 0)], ["k", "v"])
    if not old:
        o = o.filter("k < 0")
    if not new:
        n = n.filter("k < 0")
    got = {r["k"]: r["status"] for r in snapshot_diff(o, n, "k", ("v",)).collect()}
    od, nd = dict(old), dict(new)
    assert set(got) == set(od) | set(nd)
    for k, status in got.items():
        if k not in od:
            assert status == "added"
        elif k not in nd:
            assert status == "removed"
        elif od[k] != nd[k]:
            assert status == "changed"
        else:
            assert status == "unchanged"
    self_diff = snapshot_diff(o, o, "k", ("v",)).collect()
    assert all(r["status"] == "unchanged" for r in self_diff)


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),   # user
            st.integers(min_value=0, max_value=50),  # second offset
            st.sampled_from(["A", "B", "C", "other"]),
        ),
        max_size=40,
    )
)
def test_funnel_matches_sequential_reference(spark, events):
    """funnel_stages ≡ an O(n) per-user sequential scan: walk the
    user's events in (ts, then input order is irrelevant — ties break
    by MIN) time order, advancing a stage pointer only on a strictly
    later matching event."""
    from datetime import datetime

    from taxi_rides_ny_duckdb_spark.operators.windows import funnel_stages

    stages = ["A", "B", "C"]
    rows = [
        (u, datetime(2024, 1, 1, 0, 0, 0, s * 1000), t) for u, s, t in events
    ]
    df = spark.createDataFrame(
        rows or [(1, datetime(2024, 1, 1), "other")],
        "user_id bigint, ts timestamp, event_type string",
    ).repartition(3)
    got = {
        r["user_id"]: (r["A_us"], r["B_us"], r["C_us"], r["stages_completed"])
        for r in funnel_stages(
            df, "user_id", "ts", "event_type", stages
        ).collect()
    }
    # reference: first A = min ts of A; then min ts of B > tA; etc.
    import collections

    by_user = collections.defaultdict(list)
    for u, ts, t in rows:
        by_user[u].append((ts, t))
    want = {}
    for u, evs in by_user.items():
        t_prev, times = None, []
        for stage in stages:
            cand = [
                ts for ts, t in evs
                if t == stage and (t_prev is None or ts > t_prev)
            ]
            t_prev = min(cand) if cand else None
            times.append(t_prev)
            if t_prev is None:
                break
        if times[0] is None:
            continue
        us = [
            None if t is None else int(t.timestamp() * 1_000_000)
            for t in times + [None] * (3 - len(times))
        ]
        want[u] = (us[0], us[1], us[2], sum(1 for t in us if t is not None))
    assert got == want


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # value
            st.booleans(),                           # group a/b
        ),
        max_size=40,
    )
)
def test_ks_two_sample_matches_reference(spark, rows):
    """ks_two_sample ≡ the textbook O(n log n) reference: D = max over
    pooled distinct values of |F_a(x) - F_b(x)|."""
    from taxi_rides_ny_duckdb_spark.plans.profile import ks_two_sample

    data = [(float(v), "x" if a else "y") for v, a in rows]
    df = spark.createDataFrame(
        data or [(0.0, "z")], "v double, g string"
    ).repartition(3)
    r = ks_two_sample(df, "v", "g", "x", "y").collect()[0]
    xs = sorted(v for v, g in data if g == "x")
    ys = sorted(v for v, g in data if g == "y")
    assert r["n_a"] == len(xs) and r["n_b"] == len(ys)
    if not xs or not ys:
        assert r["d_stat_r"] is None and r["reject"] is None
        return
    import bisect

    d = max(
        abs(
            bisect.bisect_right(xs, v) / len(xs)
            - bisect.bisect_right(ys, v) / len(ys)
        )
        for v in sorted({*xs, *ys})
    )
    assert abs(r["d_stat_r"] - round(d, 9)) <= 1e-9
    crit = 1.358 * ((len(xs) + len(ys)) / (len(xs) * len(ys))) ** 0.5
    assert r["reject"] == (d > crit)


@settings(**_SETTINGS)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # user
            st.integers(min_value=0, max_value=30),  # second
            st.sampled_from(["a", "b", "c"]),
        ),
        max_size=30,
    )
)
def test_transition_matrix_matches_reference(spark, events):
    """event_transition_matrix ≡ a per-user sorted-scan reference
    (ties within one timestamp break by event type — the operator's
    documented total order)."""
    import collections
    from datetime import datetime

    from taxi_rides_ny_duckdb_spark.operators.windows import (
        event_transition_matrix,
    )

    rows = [(u, datetime(2024, 1, 1, 0, 0, s), t) for u, s, t in events]
    df = spark.createDataFrame(
        rows or [(1, datetime(2024, 1, 1), "a")],
        "user_id bigint, ts timestamp, event_type string",
    ).repartition(3)
    if not rows:
        df = df.filter("user_id < 0")
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p_r"])
        for r in event_transition_matrix(
            df, "user_id", "ts", "event_type"
        ).collect()
    }
    by_user = collections.defaultdict(list)
    for u, ts, t in rows:
        by_user[u].append((ts, t))
    counts = collections.Counter()
    for evs in by_user.values():
        evs.sort()  # (ts, type) — the same total order
        for (_, p), (_, c) in zip(evs, evs[1:]):
            counts[(p, c)] += 1
    want = {}
    row_tot = collections.Counter()
    for (p, c), n in counts.items():
        row_tot[p] += n
    for (p, c), n in counts.items():
        want[(p, c)] = (n, round(n / row_tot[p], 9))
    assert got == want


_BPE_WORD = st.text(alphabet="ab", min_size=1, max_size=5)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=st.lists(
        st.lists(_BPE_WORD, min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
def test_bpe_learn_and_segment_match_reference(spark, docs, n_merges):
    """BPE training on both sides of the ``_FUSED_BPE_MAX_VOCAB`` gate
    and vocab-factored segmentation must equal the single-machine
    Sennrich reference on arbitrary corpora — a 2-letter alphabet
    maximizes overlapping-run cases ('aaa' under merge (a,a)) where
    greedy scan order is the easiest thing to get wrong."""
    from collections import Counter
    from unittest import mock

    from taxi_rides_ny_duckdb_spark.operators import tokenizer
    from taxi_rides_ny_duckdb_spark.operators.tokenizer import (
        bpe_learn_merges,
        bpe_segment,
    )
    from tests.test_operators import _ref_bpe, _ref_segment

    frame = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id int, text string"
    )
    wc = Counter(w for t in docs for w in t.lower().split())
    ref = _ref_bpe(dict(wc), n_merges)
    got = bpe_learn_merges(frame, "text", n_merges)
    assert [(a, b, pc) for _, a, b, pc in got] == ref
    with mock.patch.object(tokenizer, "_FUSED_BPE_MAX_VOCAB", 0):
        got = bpe_learn_merges(frame, "text", n_merges)
    assert [(a, b, pc) for _, a, b, pc in got] == ref

    pairs = [(a, b) for a, b, _ in ref]
    seg = {
        r["doc_id"]: (r["bpe_text"], r["n_bpe_tokens"])
        for r in bpe_segment(frame, "text", "doc_id", pairs).collect()
    }
    for i, t in enumerate(docs):
        assert seg[i] == _ref_segment(t, pairs), (i, t)


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=0.0,
            max_value=float(2**52),
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_round_half_away_kernels_match_exact_rational(vals):
    """Both nonneg half-away kernels (r12) equal the EXACT
    rational half-away of the double's true binary value — checked
    against fractions.Fraction, which is engine-free and exact. This
    is the property the floor(v+0.5) form violated (it rounds the
    float sum v+0.5, not the true fraction)."""
    import math
    from fractions import Fraction

    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _round_half_away_int,
        _round_half_away_nonneg_i64,
    )

    def exact(v: float) -> int:
        f = Fraction(v)  # exact binary value
        fl = math.floor(f)
        return fl + (1 if f - fl >= Fraction(1, 2) else 0)

    want = [exact(v) for v in vals]
    a = np.asarray(vals, dtype=np.float64)
    assert [int(x) for x in _round_half_away_nonneg_i64(a)] == want
    assert [_round_half_away_int(v) for v in vals] == want


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(
        st.floats(
            min_value=-float(2**52),
            max_value=float(2**52),
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_round_half_away_signed_matches_exact_rational(vals):
    """The signed kernel equals exact rational half-away-FROM-ZERO on
    the double's true binary value (negatives mirror positives)."""
    import math
    from fractions import Fraction

    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _round_half_away_signed_np,
    )

    def exact(v: float) -> int:
        f = Fraction(abs(v))
        fl = math.floor(f)
        m = fl + (1 if f - fl >= Fraction(1, 2) else 0)
        return -m if v < 0 else m

    a = np.asarray(vals, dtype=np.float64)
    got = [int(x) for x in _round_half_away_signed_np(a)]
    assert got == [exact(v) for v in vals]


@settings(max_examples=60, deadline=None)
@given(
    coords=st.lists(
        st.one_of(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            st.sampled_from([0.0, -0.0, float("nan")]),
        ),
        min_size=1,
        max_size=70,
    )
)
def test_pack_sign_bits_matches_per_bit_reference(coords):
    """_pack_sign_bits_np equals the per-bit reference (bit set ⇔
    coordinate > 0 OR NaN — Spark's total-order semantics) for any
    mix of NaN/±0/±x/±inf and any dim incl. non-multiples of 32."""
    import math

    import numpy as np

    from taxi_rides_ny_duckdb_spark.operators.similarity import (
        _pack_sign_bits_np,
    )

    dim = len(coords)
    n_words = -(-dim // 32)
    want = [0] * n_words
    for i, x in enumerate(coords):
        if math.isnan(x) or x > 0:
            want[i // 32] |= 1 << (i % 32)
    got = _pack_sign_bits_np(np.asarray([coords], dtype=np.float64), dim)[0]
    assert [int(w) for w in got] == want
