"""Full-text retrieval scoring (EXTENSION — no reference analog).

BM25 ranking over the corpus: the standard lexical-retrieval primitive
a training-data pipeline uses for targeted corpus search (mining
positives for retrieval training, finding documents about an eval
topic, building seed sets for importance sampling). Everything is
DataFrame-native; the corpus is never shuffled at token grain.

Scale notes (100 TB):
- Small query-term sets (the human-typed case) take the PIVOT path:
  per-term tf as whole-stage-codegen string expressions in ONE
  map-only corpus scan, zero corpus shuffle — only rows matching ≥1
  term survive, and everything downstream is match-bounded.
- Large term sets (mined query workloads) take the EXPLODE path: the
  term-set filter is pushed map-side into the token stream (IN literal
  or broadcast semi-join), so the ``groupBy(id, term)`` exchange
  carries only (doc, matching-term) rows.
- Corpus stats (N, avgdl) are a 1-row aggregate collected once and
  inlined as literals (r13) — a scalar, not a shuffle, and not a
  per-action broadcast rebuild.
- The per-query top-k is a window over (query, candidate) rows —
  bounded by matches, not by the corpus; candidates for a query are
  only documents sharing ≥1 term.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import PARITY_DP
from ..functions.text import tokenize
from ..session import ensure_min_partitions

from ..cache import scoped_persist

# Above this many distinct query terms the pivoted tf-column form stops
# paying (one string-replace pass per term per row, and plan width
# grows linearly); the explode path's shuffle is match-bounded anyway.
_PIVOT_MAX_TERMS = 64


def _query_terms(queries: list[tuple[str, str]]) -> dict[str, list[str]]:
    """Per-query DISTINCT terms via the same whitespace-lowercase
    tokenization as the corpus side (str.split() ≡ split on \\s+ with
    empties dropped)."""
    return {
        qid: sorted({t for t in qtext.lower().split() if t})
        for qid, qtext in queries
    }


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[str, str]],
    text_col: str,
    id_col: str,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25 (Lucene's
    non-negative idf: ``ln(1 + (N - df + 0.5)/(df + 0.5))``) →
    ``(query_id, rank, <id_col>, score_r)``.

    ``queries`` is ``[(query_id, query_text), ...]`` — a bounded,
    human-scale set. Query terms are DISTINCT per query (standard
    BM25 drops query-side term frequency for short queries) and
    tokenized with the same ``functions.text.tokenize`` as the corpus
    so both sides agree on the term space.

    Determinism across engines AND between the two plans: tf, df, N and
    dl are integers; the score is one double expression evaluated
    identically everywhere, each per-term addend rounded to 12dp and
    summed as exact DECIMAL (order-independent), presented at 9dp
    BEFORE the rank window, ties broken by document id ascending.

    The plan follows the data: the zero-shuffle pivot (codegen tf
    columns) while the distinct query-term count is ≤
    ``_PIVOT_MAX_TERMS``, the token-stream explode above it. Both
    produce identical output — tested in tests/test_operators.py.
    """
    if not queries:
        raise ValueError("queries must be a non-empty list of (id, text)")
    if len({qid for qid, _ in queries}) != len(queries):
        raise ValueError("query ids must be unique")
    qterms = _query_terms(queries)
    all_terms = sorted({t for ts in qterms.values() for t in ts})

    # Scalar corpus stats: N docs and average document length. Exact
    # integer sum / count — avg(double) would be partition-order-
    # dependent and break cross-engine bit parity. dl is counted with
    # a codegen'd regexp_count ('\S+' runs ≡ tokenize() length).
    # COLLECTED once and inlined as literals (r13 optimization round,
    # guide §2.4 — the nb_train precedent): kept as a 1-row frame and
    # crossJoined in, every consumer ACTION re-built its
    # BroadcastExchange, and each build re-scanned the corpus for the
    # same two scalars. Same doubles either way (the engine computed
    # the identical N/avgdl values into the old broadcast), so every
    # oracle replays unchanged.
    dl_expr = F.regexp_count(F.col(text_col), F.lit(r"\S+")).cast("long")
    srow = (
        docs.select(dl_expr.alias("__dl"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            (
                F.sum("__dl").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("__avgdl"),
        )
        .head()
    )
    n_lit = F.lit(int(srow["__n"])).cast("long")
    avgdl_lit = (
        F.lit(float(srow["__avgdl"]))
        if srow["__avgdl"] is not None
        else F.lit(None).cast("double")
    )

    def idf(df_col: Column) -> Column:
        return F.log(
            F.lit(1.0) + (n_lit - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
        )

    def tf_part(tf_col: Column) -> Column:
        return (tf_col * (F.lit(k1) + 1.0)) / (
            tf_col
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / avgdl_lit)
        )

    if len(all_terms) <= _PIVOT_MAX_TERMS:
        scored = _pivot_scores(docs, qterms, all_terms, text_col, id_col,
                               dl_expr, idf, tf_part)
    else:
        scored = _explode_scores(spark, docs, qterms, all_terms, text_col,
                                 id_col, idf, tf_part)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_r"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col(id_col),
            "score_r",
        )
    )


def _pivot_scores(
    docs, qterms, all_terms, text_col, id_col, dl_expr, idf, tf_part
):
    """Zero-shuffle BM25: per-term tf as codegen string expressions.

    tf of term t = occurrences of ``' t '`` in the text normalized so
    every token is flanked by its OWN spaces (whitespace runs →
    double space, double space at both ends): non-overlapping
    ``replace`` then counts occurrences exactly, because adjacent
    matches never compete for a separator. ``(len(before) -
    len(replace(before, pat, ''))) / len(pat)`` is exact integer
    arithmetic, entirely inside whole-stage codegen — no HOF, no
    explode, no shuffle.

    One corpus scan produces (id, dl, tf_1..tf_m) for rows matching
    ≥1 term; df per term is a single 1-row aggregate over that
    match-bounded frame (docs NOT matching any query term can't
    contribute to any query term's df), broadcast back; scores stack
    to (query, doc) rows via a narrow inline explode. The scan is
    planned twice (df pass + score pass), both map-only over the
    pruned (id, text) columns."""
    padded = F.concat(
        F.lit("  "),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", "  "),
        F.lit("  "),
    )

    def tf_of(term: str) -> Column:
        pat = f" {term} "
        return (
            (F.length(padded) - F.length(F.replace(padded, F.lit(pat), F.lit(""))))
            / F.lit(len(pat))
        ).cast("long")

    # persist(): the tf columns feed THREE consumers (the any-match
    # filter, the df aggregate, the score projection); without a
    # materialization boundary Catalyst's projection collapse inlines
    # the replace-chain into every reference and the scan re-runs per
    # consumer (measured 31 s vs 1.3 s at sf1). The cached frame is
    # match-bounded: (id, dl, m ints) per matching doc.
    base = (
        ensure_min_partitions(docs.select(id_col, text_col))
        .select(
            F.col(id_col),
            dl_expr.alias("__dl"),
            *[tf_of(t).alias(f"__tf_{i}") for i, t in enumerate(all_terms)],
        )
        .filter(
            sum((F.col(f"__tf_{i}") for i in range(len(all_terms))), F.lit(0)) > 0
        )
        .transform(scoped_persist)
    )
    # df per term collected off the cached frame and inlined as
    # literals (r13 — the stats-collect rule above): the 1-row dfreq
    # frame was re-broadcast per consumer action. The head() also
    # doubles as the cache materialization job.
    drow = base.agg(
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(all_terms))
        ]
    ).head()
    df_lit = [
        F.lit(int(drow[f"__df_{i}"])).cast("long")
        if drow[f"__df_{i}"] is not None
        else F.lit(None).cast("long")
        for i in range(len(all_terms))
    ]
    term_idx = {t: i for i, t in enumerate(all_terms)}
    joined = base

    def score_of(terms: list[str]) -> Column:
        # per-term addend rounded to 12dp then summed as exact DECIMAL
        # (same arithmetic as the explode path, column-wise)
        total = None
        for t in terms:
            i = term_idx[t]
            addend = F.when(
                F.col(f"__tf_{i}") > 0,
                F.round(
                    idf(df_lit[i]) * tf_part(F.col(f"__tf_{i}")), 12
                ).cast("decimal(38,12)"),
            ).otherwise(F.lit(0).cast("decimal(38,12)"))
            total = addend if total is None else total + addend
        return total

    pairs = F.array(
        *[
            F.struct(
                F.lit(qid).alias("query_id"),
                score_of(terms).alias("__s"),
                # a (query, doc) row exists only when the doc matches
                # ≥1 of THIS query's terms — mirrors the join semantics
                # of the explode path
                sum(
                    (F.col(f"__tf_{term_idx[t]}") for t in terms), F.lit(0)
                ).alias("__m"),
            )
            for qid, terms in sorted(qterms.items())
        ]
    )
    return (
        joined.select(F.col(id_col), F.explode(pairs).alias("__p"))
        .filter(F.col("__p.__m") > 0)
        .select(
            F.col("__p.query_id").alias("query_id"),
            F.col(id_col),
            F.round(F.col("__p.__s").cast("double"), PARITY_DP).alias("score_r"),
        )
    )


def _explode_scores(
    spark, docs, qterms, all_terms, text_col, id_col, idf, tf_part
):
    """Token-stream BM25 for large term sets: the term-set filter is
    pushed map-side BEFORE the aggregation, so the shuffle carries
    only (doc, matching-term) rows — the corpus token stream itself is
    never shuffled. BM25 needs tf only for query terms, and
    df-per-query-term is exactly the count of docs containing it,
    which the filtered tf rows still give. Term sets ≤1000 inline as a
    codegen'd IN literal; larger ones degrade to a broadcast
    semi-join (same map-side effect, no plan-size blowup)."""
    toks = ensure_min_partitions(
        docs.select(id_col, text_col)
    ).withColumn("__toks", tokenize(F.col(text_col))).select(
        F.col(id_col),
        F.size("__toks").alias("__dl"),
        F.explode("__toks").alias("term"),
    )
    if len(all_terms) <= 1000:
        matched = toks.filter(F.col("term").isin(all_terms))
    else:
        tset = docs.sparkSession.createDataFrame(
            [(t,) for t in all_terms], ["term"]
        )
        matched = toks.join(F.broadcast(tset), "term", "semi")
    # dl is functionally dependent on the id — no extra groups.
    tf = matched.groupBy(id_col, "term", "__dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    # Document frequency fused onto the tf rows (no second corpus pass).
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    qt = spark.createDataFrame(
        [(qid, t) for qid, terms in sorted(qterms.items()) for t in terms],
        ["query_id", "term"],
    )
    addend = F.round(idf(F.col("df")) * tf_part(F.col("tf")), 12).cast(
        "decimal(38,12)"
    )
    return (
        with_df.join(F.broadcast(qt), "term")
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum(addend).cast("double"), PARITY_DP).alias("score_r"))
    )


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    k: int = 5,
    c: int = 60,
    query_col: str = "query_id",
    id_col: str = "item_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    retrieval lists — the standard hybrid-search combiner (lexical
    BM25 ⊕ embedding ANN) that needs no score calibration because it
    consumes only RANKS: ``rrf = Σ 1/(c + rank)`` over the lists that
    returned the item, missing-list contributions = 0.

    Output: ``(query, rank, id, rrf_r)`` — top-``k`` per query by the
    fused score, ties broken by id ascending.

    Determinism: the fused score is a TWO-term fixed-order double sum
    of exact integer reciprocals — identical in any engine — rounded
    to 9dp before the rank window.

    Scale: both inputs are already top-k-bounded per query (k·|Q|
    rows), so the full-outer join and the re-rank window are
    list-sized, not corpus-sized — the expensive work happened in the
    upstream retrievers. The join keys on (query, id); with thousands
    of queries it is a tiny hash join at any corpus scale.
    """
    fa = a.select(
        F.col(query_col), F.col(id_col), F.col(rank_col).alias("__ra")
    )
    fb = b.select(
        F.col(query_col), F.col(id_col), F.col(rank_col).alias("__rb")
    )
    fused = fa.join(fb, [query_col, id_col], "full_outer").select(
        F.col(query_col),
        F.col(id_col),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("__ra")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("__rb")), F.lit(0.0)),
            PARITY_DP,
        ).alias("rrf_r"),
    )
    w = Window.partitionBy(query_col).orderBy(F.desc("rrf_r"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_col),
            F.col("rank").cast("long").alias("rank"),
            F.col(id_col),
            "rrf_r",
        )
    )
