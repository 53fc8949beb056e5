"""Distributed BPE tokenizer training and application.

The three primitives behind building a subword tokenizer ON the
corpus it will tokenize — the step every LLM pretraining pipeline
runs before packing (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"; the word-count
compression is the optimization every fast trainer uses —
pair statistics are computed over the DISTINCT-WORD vocabulary
weighted by word frequency, never over raw corpus tokens):

- :func:`bpe_pair_counts` — one merge-step's pair statistics
  (the oracled arithmetic core);
- :func:`bpe_learn_merges` — the iterative trainer: N rounds of
  (recount pairs → argmax → apply merge) over the vocabulary;
- :func:`bpe_segment` — apply a learned merge table to every
  document, rebuilding the corpus as subword sequences.

Scale shape at 100 TB: the corpus is read and shuffled ONCE (the
initial word-frequency aggregation, map-side combined). Everything
after runs on the distinct-word vocabulary — Heaps' law puts that at
~sqrt(corpus tokens), i.e. gigabytes where the corpus is terabytes.
Training runs one pair-count kernel (``_pair_counts``), one argmax
(``_best_pair``) and one greedy merge (``_merge``, which segmentation
reuses) — over the whole vocabulary in one task below
``_FUSED_BPE_MAX_VOCAB``, per Arrow batch above it, where a round is
one map-only pass plus one pair aggregation whose driver transfer is
exactly ONE row (the argmax pair). Segmentation broadcasts the
vocab→symbols map and never shuffles the corpus for it; the rebuild
is the one corpus-sized groupBy(doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokenize
from ..session import ensure_min_partitions

EOW = "</w>"


def word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus word-frequency table ``(wd, c)`` — the ONE corpus-sized
    shuffle in BPE training (map-side partial counts; everything
    downstream is vocabulary-sized). ``ensure_min_partitions``: a
    small-file scan (1-2 partitions) would serialize the tokenize +
    explode onto one core; at 100 TB the input is already wide and
    this is a no-op."""
    return (
        ensure_min_partitions(docs.select(F.col(text_col)))
        .select(F.explode(tokenize(F.col(text_col))).alias("wd"))
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bpe_pair_counts(docs: DataFrame, text_col: str, k: int = 30) -> DataFrame:
    """Top-``k`` adjacent-symbol pair counts over the round-0 symbol
    sequences (chars + ``</w>``), weighted by word frequency — the
    merge-step statistic of BPE training, exposed standalone as the
    oracled arithmetic core of the trainer.

    Output ``(sym_a, sym_b, pair_count, rank)``; counts are exact
    BIGINTs, rank ties broken by ``(sym_a, sym_b)`` — deterministic.

    Oracle (DuckDB): same word counts, pairs via
    ``generate_series(1, length(wd))`` with the ``i = length`` row
    pairing the last char with ``</w>``, ``row_number`` over
    ``(SUM(c) DESC, sym_a, sym_b)``.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    wc = word_counts(docs, text_col)
    # For round-0 symbols (chars + EOW) the adjacent pairs of word wd
    # are exactly: (char_i, char_{i+1}) for i < len, plus
    # (char_len, EOW) — one struct per character position, no array
    # materialization of the symbol sequence needed.
    pairs = wc.select(
        F.col("c"),
        F.explode(
            F.expr(
                "transform(sequence(1, length(wd)), i -> struct("
                " substring(wd, i, 1) AS sym_a,"
                " CASE WHEN i < length(wd) THEN substring(wd, i + 1, 1)"
                f"      ELSE '{EOW}' END AS sym_b))"
            )
        ).alias("p"),
    ).select("p.sym_a", "p.sym_b", "c")
    agg = pairs.groupBy("sym_a", "sym_b").agg(F.sum("c").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b"))
    return agg.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def _pair_counts(
    counts: list[int], seqs: list[list[str]]
) -> dict[tuple[str, str], int]:
    """Adjacent-pair statistics of symbol sequences weighted by their
    word counts — exact Python-int sums, so partials from any split of
    the vocabulary add up to the same totals."""
    pc: dict[tuple[str, str], int] = {}
    for cnt, seq in zip(counts, seqs):
        for p in zip(seq, seq[1:]):
            pc[p] = pc.get(p, 0) + cnt
    return pc


def _best_pair(
    pc: dict[tuple[str, str], int],
) -> tuple[tuple[str, str], int] | None:
    """The round's merge: max count, ties to ``(sym_a, sym_b)``
    ascending — Python str order is code-point order, which is
    Spark's (and DuckDB's) UTF-8 binary string order, so the
    above-gate ``orderBy(desc n, a, b)`` picks the same pair.
    ``None`` when no adjacent pair remains."""
    return min(pc.items(), key=lambda kv: (-kv[1], kv[0]), default=None)


def _merge(seq: list[str], a: str, b: str) -> list[str]:
    """Left-to-right non-overlapping merge of adjacent pair (a, b) →
    ``a+b``: ``'aaa'`` under merge (a, a) yields ``['aa', 'a']`` —
    the same greedy scan every BPE implementation does."""
    out, i = [], 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def _symbols(wd: str, merges) -> list[str]:
    """A word's symbols after an ordered merge table: the round-0
    sequence (code points — Spark's ``substr`` split — plus the
    end-of-word marker, which lets merge statistics tell suffixes from
    infixes) folded through ``_merge``."""
    seq = list(wd) + [EOW]
    for a, b in merges:
        seq = _merge(seq, a, b)
    return seq


# Below this many distinct-word vocabulary rows the WHOLE training
# loop runs inside one applyInPandas task (``_bpe_rounds_fused``);
# above it each round is one distributed pass (see
# ``bpe_learn_merges``). Both sides run ``_pair_counts``, ``_merge``
# and the same argmax order over exact integers, so they agree by
# construction. A distributed round costs a scheduled job (~0.2-0.4 s
# fixed overhead at the correctness SFs) for integer dict arithmetic
# that takes milliseconds in-task. The gate is WORK-sized: rows bound
# the task's Arrow payload (Heaps' law keeps the vocab ~sqrt(corpus
# tokens), but a 100 TB corpus still exceeds any single task).
_FUSED_BPE_MAX_VOCAB = 500_000


def _bpe_rounds_fused(
    wc: DataFrame, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """All BPE training rounds inside ONE task over the (wd, c)
    vocabulary frame: recount, argmax, apply the merge to every
    sequence; stop early when no adjacent pair remains."""
    import pandas as pd

    def fn(pdf):
        cnts = pdf["c"].tolist()
        seqs = [_symbols(wd, ()) for wd in pdf["wd"]]
        merges: list[tuple[int, str, str, int]] = []
        for r in range(n_merges):
            best = _best_pair(_pair_counts(cnts, seqs))
            if best is None:
                break
            (a, b), n = best
            merges.append((r + 1, a, b, n))
            seqs = [_merge(seq, a, b) for seq in seqs]
        return pd.DataFrame(
            merges, columns=["rank", "sym_a", "sym_b", "pair_count"]
        )

    rows = (
        wc.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(
            fn, "rank long, sym_a string, sym_b string, pair_count long"
        )
        .collect()
    )
    return sorted(
        (int(r["rank"]), r["sym_a"], r["sym_b"], int(r["pair_count"]))
        for r in rows
    )


def bpe_learn_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Learn an ordered BPE merge table from the corpus: ``n_merges``
    rounds of (pair recount → deterministic argmax → merge apply) over
    the frequency-weighted distinct-word vocabulary.

    Returns ``[(rank, sym_a, sym_b, pair_count), ...]`` — the merge
    rules in application order, each with the pair count that won its
    round. Ties at equal count break by ``(sym_a, sym_b)`` ascending;
    training stops early when no adjacent pair remains.

    Scale: corpus → word counts is the single corpus shuffle, and the
    (wd, c) frame is checkpointed once. Above ``_FUSED_BPE_MAX_VOCAB``
    each round is one ``mapInPandas`` pass that replays the merges
    learned so far (``_symbols``) and emits ``_pair_counts`` partials
    per Arrow batch, then one vocab-sized pair aggregation and a 1-row
    argmax collect. The replay costs O(vocab × round), cheap for the
    ≤10-merge tables callers train, and keeps every round's plan the
    same depth with no further checkpoints.
    """
    import pandas as pd

    if n_merges <= 0:
        raise ValueError("n_merges must be positive")
    wc = word_counts(docs, text_col).localCheckpoint()
    # one cached-block count gates the single-task path
    if wc.count() <= _FUSED_BPE_MAX_VOCAB:
        return _bpe_rounds_fused(wc, n_merges)

    def partials(learned):
        def fn(batches):
            for pdf in batches:
                pc = _pair_counts(
                    pdf["c"].tolist(),
                    [_symbols(wd, learned) for wd in pdf["wd"]],
                )
                if pc:
                    yield pd.DataFrame(
                        [(a, b, n) for (a, b), n in pc.items()],
                        columns=["a", "b", "n"],
                    )

        return fn

    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        best = (
            wc.mapInPandas(
                partials([(a, b) for _, a, b, _ in merges]),
                "a string, b string, n long",
            )
            .groupBy("a", "b")
            .agg(F.sum("n").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        merges.append((r + 1, best[0]["a"], best[0]["b"], int(best[0]["n"])))
    return merges


def bpe_learn_merges_df(
    spark: SparkSession, docs: DataFrame, text_col: str, n_merges: int = 8
) -> DataFrame:
    """:func:`bpe_learn_merges` as a DataFrame ``(rank, sym_a, sym_b,
    pair_count)`` — the contract-facing shape (bounded: n_merges
    rows)."""
    rows = bpe_learn_merges(docs, text_col, n_merges)
    return spark.createDataFrame(
        rows, "rank long, sym_a string, sym_b string, pair_count long"
    )


def bpe_segment(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply an ordered BPE merge table to every document, rebuilding
    the corpus as subword sequences: output ``(id, bpe_text,
    n_bpe_tokens)`` with ``bpe_text`` the space-joined symbols in
    document order (symbols are whitespace-free, so the join is
    injective) and token-less documents kept with ``('', 0)``.

    Plan: the merge table runs ONCE over the distinct-word vocabulary
    (one ``mapInPandas`` through the trainer's ``_symbols``), the
    word→symbols map then BROADCASTS back onto the corpus — the
    corpus itself is never shuffled for segmentation; the only
    corpus-sized exchange is the per-document rebuild groupBy.
    """
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            syms = [_symbols(wd, merges) for wd in pdf["wd"]]
            yield pd.DataFrame({"wd": pdf["wd"], "syms": syms})

    words = ensure_min_partitions(docs.select(id_col, text_col)).select(
        F.col(id_col), F.posexplode(tokenize(F.col(text_col))).alias("pos", "wd")
    )
    # lazy checkpoint: the first action materializes the map, every
    # later action over this frame reuses it instead of re-running the
    # distinct shuffle and the Python pass
    mapping = (
        words.select("wd")
        .distinct()
        .mapInPandas(fn, "wd string, syms array<string>")
        .localCheckpoint(eager=False)
    )
    rebuilt = (
        words.join(F.broadcast(mapping), "wd")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "syms"))).alias("ps"))
        .select(
            F.col(id_col),
            F.concat_ws(
                " ", F.flatten(F.expr("transform(ps, x -> x.syms)"))
            ).alias("bpe_text"),
            F.expr("aggregate(ps, 0L, (n, x) -> n + size(x.syms))").alias(
                "n_bpe_tokens"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("bpe_text"), F.lit("")).alias("bpe_text"),
            F.coalesce(F.col("n_bpe_tokens"), F.lit(0).cast("long")).alias(
                "n_bpe_tokens"
            ),
        )
    )
