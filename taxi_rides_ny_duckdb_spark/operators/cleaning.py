"""Corpus-cleaning operators (EXTENSION — no reference analog).

The redaction / vocabulary passes a training-data pipeline runs between
dedup and packing: scrub PII-like spans, build a frequency vocabulary,
measure per-document vocabulary coverage (the cheap "is this document
in-distribution" signal). Everything is pure Column expressions +
built-in aggregates — no Python in any hot path.

Scale notes:
- ``redact`` is a map-only pass (regexp_replace/regexp_count inside the
  scan's codegen stage) — zero shuffle at any scale.
- ``vocab_top_k`` is one groupBy(token) shuffle + a top-K
  (TakeOrderedAndProject — partial top-K per partition, no global
  sort); the result is vocabulary-sized (K rows) and broadcast back.
- ``vocab_coverage`` re-uses the exploded token stream: one
  groupBy(doc) shuffle; the vocab side joins broadcast, so corpus
  bytes are shuffled once regardless of K.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.parity import PARITY_DP
from ..functions.text import tokenize

from ..cache import scoped_persist

# Common PII surface patterns, in the regex subset Java (Spark) and
# RE2 (DuckDB/Go) agree on: no backrefs, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+?\d[\d\-\s]{7,}\d",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def redact(
    text: Column, patterns: dict[str, str], replacement: str = "<PII>"
) -> tuple[Column, Column]:
    """Redact every match of every pattern; return (redacted, n_matches).

    Patterns are applied in sorted-label order so the composition is
    deterministic. ``n_matches`` counts each pattern against the
    ORIGINAL text and sums — overlapping spans (a phone-like digit run
    inside an email) may count once per pattern even though the text
    is replaced once. That keeps the count a pure map-side expression;
    exact span accounting would need a sequential scan per row.

    Oracle: chained ``regexp_replace(..., 'g')`` +
    ``len(regexp_extract_all(text, pat))`` per pattern.
    """
    out = text
    n = F.lit(0).cast("bigint")
    for label in sorted(patterns):
        pat = patterns[label]
        out = F.regexp_replace(out, pat, replacement)
        n = n + F.regexp_count(text, F.lit(pat)).cast("bigint")
    return out, n


def vocab_top_k(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """Top-``k`` corpus tokens by frequency → (token, n).

    Ties at the cut broken by token ascending, so the vocabulary is
    deterministic across engines and partitionings. The orderBy+limit
    lowers to TakeOrderedAndProject (per-partition heaps + one K-row
    reduce), never a global sort.
    """
    return (
        docs.select(F.explode(tokenize(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def vocab_coverage(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Per-document vocabulary coverage against the corpus top-``k``.

    → (id, total_tokens, vocab_hits, coverage) — coverage is the share
    of token INSTANCES (not types) inside the vocabulary, the standard
    OOV-rate complement used to triage out-of-distribution documents.

    Two shuffles total at any scale: groupBy(token) for the vocabulary
    and groupBy(id) for the per-doc tallies; the vocabulary (K rows) is
    broadcast into the instance stream, so document bytes never shuffle
    on the join. Documents with zero tokens drop out (coverage of an
    empty document is undefined).
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    vocab = vocab_top_k(docs, text_col, k).select("token")
    hits = (
        toks.join(F.broadcast(vocab), "token", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("vocab_hits"))
    )
    totals = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("total_tokens"))
    return (
        totals.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            "total_tokens",
            F.coalesce(F.col("vocab_hits"), F.lit(0).cast("bigint")).alias(
                "vocab_hits"
            ),
        )
        .withColumn(
            "coverage",
            F.col("vocab_hits").cast("double")
            / F.col("total_tokens").cast("double"),
        )
    )


def tfidf_topk_terms(
    docs: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms → (id, rank, term, tfidf_r)
    — the classic relevance/keyword signal (smooth idf:
    ``ln((N+1)/(df+1)) + 1``, sklearn's formulation, never divides by
    zero and keeps corpus-wide terms positive).

    Determinism across engines: the score is a pure double expression
    (count × ln of a ratio of integers) evaluated identically by both
    engines, rounded to 9dp BEFORE the rank window (round-before-rank)
    with ties broken by term ascending.

    Plan at scale (VERDICT r6 #3): groupBy(id, term) → term counts (map-side combined — the raw token
    stream collapses before shuffling), then the document frequency as
    ``count(*) over (partition by term)`` ON the tf rows, then the
    window shuffle on id for the top-k. Exactly TWO data-sized
    exchanges beyond the tf one, and — the actual fix — the tf subtree
    is computed ONCE: the previous join formulation planned tf twice
    (once per join branch, the exchange-reuse rule doesn't fire across
    differently-pruned subtrees), measured 4.5 s vs 2.0 s at sf1
    (DuckDB 1.96 s). The window's per-term partition holds one row per
    document CONTAINING the term — fine up to ~10⁸ docs per stopword."""
    from pyspark.sql.window import Window

    from ..session import ensure_min_partitions

    # Small-file guard: one ~250 MB parquet file splits into only 2
    # scan partitions at the default maxPartitionBytes, serializing the
    # explode+aggregate onto 2 of 32 cores. No-op at real scale.
    toks = ensure_min_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    idf = F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    with_df = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    scored = with_df.crossJoin(F.broadcast(n)).select(
        F.col(id_col),
        "term",
        F.round(F.col("tf").cast("double") * idf, PARITY_DP).alias("tfidf_r"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf_r"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(id_col), F.col("rank").cast("long").alias("rank"), "term", "tfidf_r")
    )


def robust_normalize(
    df: DataFrame,
    value_col: str,
    stratum_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Per-stratum robust z-score: ``(v - median) / IQR`` — the score
    calibration step before any GLOBAL quality threshold. Raw quality
    heuristics aren't comparable across languages/sources (stopword
    lists, punctuation norms differ); normalizing within the stratum
    makes one cutoff mean the same thing everywhere, and median/IQR
    shrug off the outliers that wreck mean/stddev.

    Plan: one aggregation-bounded stats pass (one row per stratum —
    broadcast back), then a pure projection. Exact ``percentile`` is
    kept because it bit-matches the oracle's ``quantile_cont`` (same
    linear interpolation — the a10 precedent); it holds one stratum's
    values on a reducer, so at 100 TB swap ``percentile_approx`` in
    (same plan shape, sketch memory) and drop the exactness claim.
    Zero-IQR strata (constant scores) normalize to 0. 9dp
    round-before-compare for engine portability."""
    stats = df.groupBy(stratum_col).agg(
        F.percentile(value_col, F.lit(0.5)).alias("__med"),
        (
            F.percentile(value_col, F.lit(0.75))
            - F.percentile(value_col, F.lit(0.25))
        ).alias("__iqr"),
    )
    joined = df.join(F.broadcast(stats), stratum_col)
    z = F.when(
        F.col("__iqr") > 0,
        (F.col(value_col) - F.col("__med")) / F.col("__iqr"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        *df.columns, F.round(z, PARITY_DP).alias(out_col)
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_tokens: int = 16,
    min_dup_docs: int = 2,
) -> DataFrame:
    """Corpus-level duplicated-span removal (the Gopher/FineWeb
    "remove repeated boilerplate" pass): cut every document into
    non-overlapping ``span_tokens``-token spans, blacklist spans that
    occur in ≥ ``min_dup_docs`` DISTINCT documents (navbars, license
    footers, templated headers — the text that survives document-level
    dedup because the documents around it differ), and rewrite each
    document with the blacklisted spans deleted.

    Only FULL-width spans are blacklist-eligible; a short tail span is
    kept verbatim (too little context to be meaningful boilerplate).
    Within-document repetition alone never triggers removal — the
    count is distinct-documents, so a chant-like doc keeps its text
    unless another doc shares it.

    Output: one row per input document —
    ``(id, clean_text, n_spans, n_removed)`` with ``clean_text = ''``
    when everything was removed (or the document had no tokens).

    Scale shape at 100 TB: span-frequency is ONE corpus-sized
    groupBy(span) shuffle with map-side partial distinct; the
    blacklist is heavy-hitters-only (≤ total_spans / min_dup_docs
    rows, in practice tiny), so the membership join BROADCASTS and the
    corpus is never shuffled for it; the rebuild is the second
    corpus-sized shuffle (groupBy doc). Spans are materialized by a
    narrow ``posexplode`` over a pure array-slice expression — no UDF
    anywhere.

    Oracle (DuckDB): same tokenize/slice/array_to_string spans,
    ``HAVING COUNT(DISTINCT doc_id) >= D`` blacklist, LEFT-JOIN
    membership, ``string_agg(span, ' ' ORDER BY chunk_idx)`` rebuild.
    Span strings injectively encode token lists (tokens are
    whitespace-free), so string equality IS span equality and a short
    tail can never collide with a full-width span.
    """
    if span_tokens <= 0:
        raise ValueError("span_tokens must be positive")
    if min_dup_docs < 2:
        raise ValueError("min_dup_docs < 2 would blacklist every span")
    toks = df.select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    # ceil(n / span_tokens) via exact integer division (never doubles)
    over = n + F.lit(span_tokens - 1)
    n_chunks = ((over - over % span_tokens) / span_tokens).cast("long")
    staged = toks.filter(F.size("__toks") > 0).select(
        F.col(id_col),
        F.col("__toks"),
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")).alias("__idx"),
    )
    ex = staged.select(
        F.col(id_col),
        F.posexplode("__idx").alias("chunk_idx", "__i"),
        F.col("__toks"),
    )
    span = F.slice(F.col("__toks"), F.col("__i") * span_tokens + 1, span_tokens)
    chunks = ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", span).alias("__span"),
        (F.size(span) == span_tokens).alias("__full"),
    )
    blacklist = (
        chunks.filter(F.col("__full"))
        .groupBy("__span")
        .agg(F.count_distinct(F.col(id_col)).alias("__dup_docs"))
        .filter(F.col("__dup_docs") >= min_dup_docs)
        .select(F.col("__span").alias("__bl_span"))
    )
    bl = F.broadcast(blacklist)
    marked = chunks.join(
        bl, chunks["__span"] == bl["__bl_span"], "left"
    ).withColumn("__dup", F.col("__bl_span").isNotNull())
    kept_struct = F.when(
        ~F.col("__dup"), F.struct(F.col("chunk_idx"), F.col("__span"))
    )  # NULL when removed — collect_list drops nulls
    rebuilt = marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__span"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("__dup").cast("long")).alias("n_removed"),
    )
    ids = df.select(F.col(id_col))
    return ids.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
    )


def gopher_quality(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_ratio: float = 0.80,
    max_symbol_ratio: float = 0.10,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style repetition/format quality rules (Rae et al. 2021,
    §A1.1 heuristics re-expressed as pure Column predicates): word
    count band, mean-word-length band, alphabetic-word ratio,
    symbol-to-word ratio (``#`` and ``...``), and distinct-stopword
    floor. One row per document with every signal, each rule's verdict,
    and the conjunction ``keep`` — kept wide (not pre-filtered) so the
    caller can audit WHICH rule fired, re-threshold without a rescan,
    or feed the booleans to a quality-weighted sampler.

    Determinism: every signal is integer-derived; ratios are exact
    integer quotients rounded to 9dp before comparison with the
    thresholds, so both engines evaluate identical doubles (the
    round-before-compare parity rule). Zero-token docs yield NULL
    ratios and fail the word-count rule (NULL-safe: rule booleans
    coalesce to false).

    Scale: map-only — one projection inside the scan's codegen stage,
    no shuffle, no Python. The token array is staged ONCE in a column
    (higher-order lambdas are exempt from subexpression elimination —
    the ``lang_best`` precedent).

    Oracle (DuckDB): ``list_filter``/``list_transform``/``list_sum``
    over ``string_split_regex`` with the same integer arithmetic.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    staged = df.select(F.col(id_col), F.col(text_col), toks.alias("__toks"))
    n_words = F.size("__toks").cast("long")
    char_sum = F.aggregate(
        "__toks", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_wl = F.round(
        F.when(n_words > 0, char_sum.cast("double") / n_words.cast("double")), PARITY_DP
    )
    n_alpha = F.size(F.filter("__toks", lambda w: w.rlike("[a-z]"))).cast("long")
    alpha_ratio = F.round(
        F.when(n_words > 0, n_alpha.cast("double") / n_words.cast("double")), PARITY_DP
    )
    n_sym = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.")).cast("long")
    symbol_ratio = F.round(
        F.when(n_words > 0, n_sym.cast("double") / n_words.cast("double")), PARITY_DP
    )
    from ..functions.text import stopword_hits

    stops = stopword_hits(F.col("__toks"), "en").cast("long")
    out = staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len_r"),
        alpha_ratio.alias("alpha_ratio_r"),
        symbol_ratio.alias("symbol_ratio_r"),
        stops.alias("stop_hits"),
    )
    r_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    r_mwl = F.coalesce(
        (F.col("mean_word_len_r") >= min_mean_word_len)
        & (F.col("mean_word_len_r") <= max_mean_word_len),
        F.lit(False),
    )
    r_alpha = F.coalesce(F.col("alpha_ratio_r") >= min_alpha_ratio, F.lit(False))
    r_sym = F.coalesce(F.col("symbol_ratio_r") <= max_symbol_ratio, F.lit(False))
    r_stop = F.col("stop_hits") >= min_stop_hits
    return out.select(
        "*",
        r_words.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_alpha.alias("rule_alpha_ratio"),
        r_sym.alias("rule_symbol_ratio"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_mwl & r_alpha & r_sym & r_stop).alias("keep"),
    )


def pmi_collocations(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    top_vocab: int = 100,
    min_pair_docs: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` term collocations by document-level PMI:
    ``pmi = ln(N · c_ab / (c_a · c_b))`` over DISTINCT-per-document
    term pairs — the corpus-analysis primitive behind phrase mining,
    topic seeding, and tokenizer-merge candidates.

    Both terms are restricted to the ``top_vocab`` most frequent
    corpus terms (ties broken by term — deterministic), and pairs are
    ordered (a < b) so each collocation appears once. Pairs seen in
    fewer than ``min_pair_docs`` documents are pruned before scoring
    (PMI is noise for rare pairs).

    Determinism: all counts are integers; the score is one double
    expression rounded to 9dp before the rank, ties by (term_a,
    term_b).

    Plan at scale: the quadratic step is bounded by construction —
    the per-document DISTINCT-term array is first semi-joined
    (broadcast, vocabulary-sized) to the top-V vocab, so the pair
    explosion is ≤ V²/2 per doc REGARDLESS of document length, and
    the pair aggregation collapses to ≤ V²/2 groups corpus-wide.
    Unigram doc-counts reuse the same filtered stream (one extra
    cell-bounded aggregation, broadcast back). Corpus bytes shuffle
    once (the filtered (doc, term) distinct)."""
    if top_vocab <= 0 or k <= 0:
        raise ValueError("top_vocab and k must be positive")
    if min_pair_docs < 1:
        raise ValueError("min_pair_docs must be >= 1")
    toks = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("term"),
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    vocab = F.broadcast(
        counts.orderBy(F.desc("c"), F.asc("term")).limit(top_vocab)
    )
    # Integer vocab ids, assigned in TERM order so vid comparison ≡
    # term comparison: the pair stream (the ≤V²/2-per-doc quadratic
    # blow-up) then joins, compares and aggregates 4-byte ints instead
    # of strings — the pair rows are the dominant volume, so their
    # width is the constant that matters (string pairs measured 2×
    # slower at sf1).
    from pyspark.sql.window import Window

    vid_w = Window.orderBy(F.asc("term"))
    # persist(): the V-row vocab frame feeds FOUR consumers (the vid
    # map join, ca, cb, and transitively both self-join sides);
    # unpersisted, each consumer re-plans the corpus-sized token
    # aggregation underneath it (three extra corpus passes observed in
    # the physical plan).
    vocab_ids = F.broadcast(
        vocab.select(
            "term", "c", F.row_number().over(vid_w).alias("__vid")
        ).transform(scoped_persist)
    )
    # persist(): the vocab-filtered (doc, vid) stream feeds both sides
    # of the pair self-join; without the boundary the scan + explode +
    # join subtree is planned twice. The cached frame is
    # (doc, vocab-term) bounded. The ordered-pair join is the same
    # shape DuckDB's oracle plans (a ⋈ b ON doc AND a < b): one
    # doc-keyed exchange per side, in-partition pairing, ≤V²/2 output
    # rows per doc regardless of document length. An array-based form
    # (collect_set + per-element HOF filter) measured 13× slower —
    # interpreted lambdas over V-sized arrays per row.
    filt = toks.join(vocab_ids.select("term", "__vid"), "term").select(
        F.col(id_col), F.col("__vid")
    ).transform(scoped_persist)
    fa = filt.select(F.col(id_col), F.col("__vid").alias("__va"))
    fb = filt.select(F.col(id_col), F.col("__vid").alias("__vb"))
    pairs = (
        fa.join(fb, id_col)
        .filter(F.col("__va") < F.col("__vb"))
        .groupBy("__va", "__vb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_pair_docs)
    )
    n = docs.agg(F.count(F.lit(1)).alias("__n"))
    ca = vocab_ids.select(
        F.col("__vid").alias("__va"),
        F.col("term").alias("term_a"),
        F.col("c").alias("c_a"),
    )
    cb = vocab_ids.select(
        F.col("__vid").alias("__vb"),
        F.col("term").alias("term_b"),
        F.col("c").alias("c_b"),
    )
    pmi = F.log(
        F.col("__n").cast("double")
        * F.col("c_ab").cast("double")
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    w = Window.orderBy(
        F.desc("pmi_r"), F.asc("term_a"), F.asc("term_b")
    )
    return (
        pairs.join(F.broadcast(ca), "__va")
        .join(F.broadcast(cb), "__vb")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "c_ab",
            "c_a",
            "c_b",
            F.round(pmi, PARITY_DP).alias("pmi_r"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def crosstab_pivot(
    df: DataFrame,
    row_col: str,
    pivot_col: str,
    values: list[str],
    other_label: str = "other",
) -> DataFrame:
    """Wide contingency table via the native ``groupBy().pivot()``
    path: one row per ``row_col`` value, one LONG count column per
    pivot value (plus ``other`` for everything outside the list, and
    ``row_total``). The reporting-shaped complement of
    ``plans.profile.chi_square_independence``'s long panel.

    ``values`` must be explicit: Spark's pivot-without-values runs a
    driver-side distinct scan AND column order would depend on data;
    an explicit list keeps the schema static (the Catalyst pivot
    rewrites to ONE aggregation with a when/otherwise expression per
    value — no per-value scan, no second pass).

    Scale: exactly one shuffle at row_col grain, map-side partials
    carrying |values|+1 counters per group."""
    if other_label in values:
        raise ValueError(
            f"other_label {other_label!r} collides with a pivot value"
        )
    binned = df.select(
        F.col(row_col),
        F.when(
            F.col(pivot_col).isin(values), F.col(pivot_col)
        ).otherwise(F.lit(other_label)).alias("__p"),
    )
    out = (
        binned.groupBy(row_col)
        .pivot("__p", [*values, other_label])
        .agg(F.count(F.lit(1)))
    )
    counts = [F.coalesce(F.col(v), F.lit(0)).cast("long").alias(v)
              for v in [*values, other_label]]
    total = sum(
        (F.coalesce(F.col(v), F.lit(0)) for v in [*values, other_label]),
        F.lit(0),
    )
    return out.select(F.col(row_col), *counts, total.cast("long").alias("row_total"))


def ngram_lm_score(
    docs: DataFrame,
    reference: Column,
    text_col: str,
    id_col: str,
    n: int = 3,
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style language-model quality score: per-document mean
    negative log-probability (a cross-entropy / perplexity proxy)
    under a character-``n``-gram model trained on the REFERENCE slice
    of the corpus (``reference`` is a boolean Column over ``docs``
    rows — e.g. the high-quality or in-language subset). Low score =
    reference-like text; thresholding or quantile-bucketing the score
    is the classic perplexity filter (Wenzek et al. 2020, CCNet).

    Model: add-``alpha``-smoothed over the reference's OBSERVED
    n-gram vocabulary (size V, the standard convention; unseen
    n-grams at scoring time get the ``alpha / (T + alpha·V)`` floor).
    Character n-grams over ``lower(text)`` keep the model
    alphabet-bounded (V ≤ charset^n — tens of thousands), so it
    broadcasts whole; no hashing needed, unlike the DSIR bucket
    model.

    Determinism: counts/totals are integers; each n-gram's
    ``-ln p`` is one double expression rounded to 12dp, summed as
    exact DECIMAL (order-independent), and the mean is that exact sum
    / count, rounded to 9dp.

    Plan at 100 TB: ONE tokenize-free pass — the n-gram stream is a
    narrow ``explode(transform(sequence))`` over each row, persisted
    with the reference flag so the model aggregation (collapsing to V
    rows map-side) and the scoring ``groupBy(id)`` share it; the
    V-row model rides back broadcast. No Python, no all-pairs.

    Output: ``(id, n_ngrams, lm_score_r)`` for documents with ≥1
    n-gram (shorter texts drop out — no defined score).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    low = F.lower(F.col(text_col))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(low) - F.lit(n - 1)),
        lambda i: low.substr(i, F.lit(n)),
    )
    stream = docs.filter(F.length(low) >= n).select(
        F.col(id_col),
        reference.alias("__ref"),
        F.explode(grams).alias("__g"),
    ).transform(scoped_persist)
    model = (
        stream.filter(F.col("__ref"))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = model.agg(
        F.sum("__c").alias("__t"), F.count(F.lit(1)).alias("__v")
    )
    neg_logp = F.round(
        -F.log(
            (F.col("__c") + F.lit(alpha))
            / (F.col("__t") + F.lit(alpha) * F.col("__v"))
        ),
        12,
    ).cast("decimal(38,12)")
    model_lp = model.crossJoin(F.broadcast(totals)).select(
        "__g", neg_logp.alias("__nlp")
    )
    floor_lp = (
        totals.select(
            F.round(
                -F.log(
                    F.lit(alpha) / (F.col("__t") + F.lit(alpha) * F.col("__v"))
                ),
                12,
            ).cast("decimal(38,12)").alias("__floor")
        )
    )
    return (
        stream.join(F.broadcast(model_lp), "__g", "left")
        .crossJoin(F.broadcast(floor_lp))
        .select(
            F.col(id_col),
            F.coalesce(F.col("__nlp"), F.col("__floor")).alias("__lp"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.round(
                F.sum("__lp").cast("double") / F.count(F.lit(1)).cast("double"),
                PARITY_DP,
            ).alias("lm_score_r"),
        )
    )


def novelty_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
) -> DataFrame:
    """Content-novelty score: the share of a document's DISTINCT
    word-``shingle_n``-grams that appear in NO other document —
    ``novelty = unique_shingles / n_shingles`` (1.0 = fully original,
    0.0 = everything shared). The inverse lens of the dedup family:
    where MinHash asks "which documents duplicate each other",
    novelty asks "how much of THIS document exists nowhere else" —
    the data-mix signal for weighting original content over
    boilerplate-heavy sources.

    Determinism: counts are integers; the ratio is one double
    division rounded to 9dp.

    Plan at scale: distinct shingles explode per doc (map-side
    ``array_distinct`` BEFORE the explode), document frequency is a
    count-over-shingle window ON the (doc, shingle) stream (the fused
    tfidf shape — no self-join, no second pass), then one
    groupBy(doc). Two data-sized exchanges total.

    Output: ``(id, n_shingles, unique_shingles, novelty_r)`` for docs
    with ≥1 shingle."""
    from pyspark.sql.window import Window

    from ..functions.text import word_shingles
    from ..session import ensure_min_partitions

    toks = tokenize(F.col(text_col))
    stream = ensure_min_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_shingles(toks, shingle_n)).alias("__s"),
    )
    with_df = stream.withColumn(
        "__df", F.count(F.lit(1)).over(Window.partitionBy("__s"))
    )
    return with_df.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("__df") == 1).cast("long")).alias("unique_shingles"),
        F.round(
            F.sum((F.col("__df") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            PARITY_DP,
        ).alias("novelty_r"),
    )


def k_anonymity_suppress(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """K-anonymity suppression: drop every row whose quasi-identifier
    combination (``quasi_cols``) occurs fewer than ``k`` times — the
    re-identification gate a privacy-reviewed training corpus runs
    after PII redaction (a rare (language, source, …) combination can
    identify an individual even with direct identifiers scrubbed;
    Sweeney's k-anonymity, applied at the row-suppression level).

    Output: surviving rows + ``qi_group_size`` so downstream audits
    can prove the floor held.

    NULL quasi-values are ALWAYS suppressed, regardless of how many
    rows share the NULL combination: groupBy counts NULLs as a group
    (so it can have qi_group_size >= k), but the equi-join back never
    matches NULL keys — deliberate, and the conservative choice for a
    privacy gate (a NULL quasi-identifier means its anonymity set is
    UNKNOWN, not large; treating unknown as unsafe is the fail-closed
    direction). Callers that want NULL treated as an ordinary value
    should coalesce to a sentinel before calling. The SQL-oracle
    rendering (USING join) has identical semantics.

    Scale shape: ONE aggregation on the quasi keys (map-side partial
    combine shrinks each partition to its distinct combinations before
    the exchange — the group-count frame is combination-bounded, not
    row-bounded), then a join back on the same keys; AQE picks
    broadcast when the surviving-combinations frame is small (the
    common case: suppression targets the long tail, survivors are the
    head). The suppressed long tail itself is never collected or
    broadcast anywhere."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    counts = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("qi_group_size")
    )
    survivors = counts.filter(F.col("qi_group_size") >= k)
    return df.join(survivors, list(quasi_cols))


def group_quality_gate(
    df: DataFrame,
    group_col: str,
    score_col: str,
    min_mean: float,
    out_col: str = "group_mean_r",
) -> DataFrame:
    """Group-level quality gating: keep every row of groups whose MEAN
    ``score_col`` clears ``min_mean``, drop whole groups below it —
    the C4/CCNet-style domain blocklist step (a spam domain's
    individually-passable pages are still spam; gating at the source
    level catches what per-document thresholds miss).

    Output: df columns + ``out_col`` (the group's 9dp-rounded mean) on
    surviving rows.

    Determinism: the mean routes through exact decimal sum / count
    (functions/parity.davg) and is 9dp-rounded — order-independent and
    bit-reproducible against any SQL engine's DECIMAL arithmetic.
    Scale shape: one aggregation-bounded stats pass (rows = #groups),
    broadcast back to the corpus scan — the corpus itself never
    shuffles."""
    from ..functions.parity import davg

    stats = df.groupBy(group_col).agg(
        F.round(davg(F.col(score_col), 18, 9), PARITY_DP).alias(out_col)
    )
    keep = stats.filter(F.col(out_col) >= min_mean)
    return df.join(F.broadcast(keep), group_col)


def funnel_report(stages: list) -> DataFrame:
    """Curation-funnel attrition report: given the ORDERED list of
    (stage_name, DataFrame) a cleaning pipeline produces, emit one row
    per stage — ``(stage_idx, stage, n_docs)`` — the survivor-count
    artifact every corpus datasheet leads with ("started with 4.2B
    pages, 1.1B after dedup, …") and the first thing an engineer
    checks when a pipeline change moves the output size.

    Each stage contributes ONE aggregation-bounded count (map-side
    partial count → 1 row); the report is a union of |stages| single
    rows. Spark evaluates each stage's full lineage for its count —
    at 100 TB, share scans by staging the pipeline on a persisted
    frame, or swap counts for the file-stats index when stages are
    materialized."""
    if not stages:
        raise ValueError("stages must be non-empty")
    out = None
    for i, (name, df) in enumerate(stages):
        row = df.agg(F.count(F.lit(1)).alias("n_docs")).select(
            F.lit(i).cast("bigint").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col("n_docs"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def source_ngram_overlap(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Pairwise n-gram overlap between corpus slices (sources, splits,
    snapshots): for every unordered pair of ``group_col`` values,
    report distinct-shingle set sizes, the intersection, Jaccard, and
    containment — the corpus-level contamination matrix ("how much of
    the eval split's text already lives in train?", "which two crawl
    sources mirror each other?") that sits one level above the per-pair
    document dedup ladder.

    Scale shape: the ONLY corpus-sized shuffle is the distinct
    (group, shingle) aggregation — document text collapses to shingle
    sets before anything pairs up. The pair join is shingle-keyed on
    the DEDUPLICATED stream: each shingle contributes at most
    C(G, 2) pair rows (G = group count, e.g. 10 sources → ≤45), so
    join fan-out is bounded by the group cardinality, never by corpus
    size — no document crossJoin exists in the plan. Set sizes are a
    G-row aggregate, broadcast into the final G²-row result; zero-
    overlap pairs are emitted (n_common = 0) so the matrix is total.

    Ratios are ``PARITY_DP``-rounded doubles over exact BIGINT counts
    (round-before-compare; the counts themselves are order-exact).
    Output: (group_a, group_b, n_a, n_b, n_common, jaccard_r,
    containment_r) for every pair with group_a < group_b.
    """
    from ..functions.text import word_shingles

    # persist(): the deduplicated (group, shingle) frame feeds FOUR
    # plan branches (both sides of the intersection self-join + both
    # sides of the size pair expansion); unpersisted, each branch
    # re-explodes and re-distincts the corpus (measured 4.2 s vs the
    # one-pass cost at sf0.1) — same pattern as the minhash/simhash/
    # pmi persists.
    sh = (
        docs.select(
            F.col(group_col).alias("__g"),
            F.explode(word_shingles(tokenize(F.col(text_col)), n)).alias("__sh"),
        )
        .distinct()
        .transform(scoped_persist)
    )
    sizes = sh.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col("a.__g") < F.col("b.__g")),
        )
        .groupBy(
            F.col("a.__g").alias("group_a"), F.col("b.__g").alias("group_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sizes.alias("sa")
        .crossJoin(F.broadcast(sizes.alias("sb")))
        .filter(F.col("sa.__g") < F.col("sb.__g"))
        .select(
            F.col("sa.__g").alias("group_a"),
            F.col("sb.__g").alias("group_b"),
            F.col("sa.__n").alias("n_a"),
            F.col("sb.__n").alias("n_b"),
        )
    )
    out = pairs.join(F.broadcast(inter), ["group_a", "group_b"], "left").select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.coalesce(F.col("n_common"), F.lit(0).cast("bigint")).alias("n_common"),
    )
    denom_j = (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
    denom_c = F.least("n_a", "n_b").cast("double")
    return out.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.when(denom_j > 0, F.col("n_common") / denom_j).otherwise(0.0),
            PARITY_DP,
        ).alias("jaccard_r"),
        F.round(
            F.when(denom_c > 0, F.col("n_common") / denom_c).otherwise(0.0),
            PARITY_DP,
        ).alias("containment_r"),
    )
