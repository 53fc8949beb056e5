"""Supervised corpus classification (EXTENSION — no reference analog).

The quality-classifier stage of an LLM data pipeline: CCNet trains a
fastText model to keep Wikipedia-like text, FineWeb-Edu scores every
document with an educational-quality classifier, and both then filter
or re-weight the corpus by the score. This module provides the
distributed, engine-exact core of that stage:

- ``nb_train``: multinomial Naive Bayes over whitespace tokens —
  the linear bag-of-words classifier family fastText belongs to,
  trained in closed form (two aggregations), no gradient loop.
- ``nb_score`` / ``nb_predict``: broadcast-model scoring — the corpus
  is never shuffled by the model; one groupBy(doc, label) over the
  token stream.
- ``auc_exact``: exact tie-corrected Mann-Whitney ROC-AUC for
  threshold calibration of any score column.

100 TB design notes:
- Training is two shuffles, both aggregation-bounded: (label, token)
  counts (map-side combined — the token stream collapses to the
  vocabulary before it moves) and per-label totals. The model is
  V×C rows (vocabulary × classes) — broadcastable by construction,
  the same shape argument as DSIR's B-row model.
- Scoring shuffles (doc, label) partial sums only — never text. The
  per-doc argmax window runs over C rows per doc.
- Every log() is rounded to 12dp at the addend and summed as exact
  DECIMAL (order-independent across any partitioning — the BM25 /
  LM-perplexity precedent), so the same corpus scores identically on
  any cluster layout and in the single-node oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.parity import PARITY_DP, round_half_up_np
from ..functions.text import tokenize

from ..cache import scoped_persist

# Per-addend log-prob rounding (12dp; scores round at PARITY_DP): the
# round-before-sum / round-before-rank parity discipline used by
# bm25_topk and ngram_lm_score.
_LOGP_DP = 12


def _doc_token_counts(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, token, cnt) bag-of-words — one explode, one map-side
    combined groupBy; the token stream collapses to per-doc distinct
    terms before any exchange."""
    return (
        docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def nb_train(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial Naive Bayes; returns ``(token_logp, label_stats)``.

    token_logp:  (label, token, n, logp_r) — add-α smoothed conditional
                 ``round(ln((n + α) / (tot_label + α·V)), 12)`` for every
                 (token, label) pair SEEN in training (V×C upper bound).
    label_stats: (label, n_docs, log_prior_r, log_floor_r) — C rows;
                 the floor is the smoothed log-prob of an in-vocabulary
                 token unseen in this class, ``ln(α / (tot_label + α·V))``.

    Both frames are aggregation-bounded (vocabulary-sized / C-sized) —
    the corpus itself is read once and shuffled only as (label, token)
    count pairs. OOV tokens at scoring time are dropped (standard
    multinomial NB over a closed vocabulary).
    """
    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(tokenize(F.col(text_col))).alias("token"),
    )
    # persisted (r13 optimization round, guide §2.4/§5): this V×C-
    # bounded frame feeds the stats collects below AND — through
    # token_logp — the scorer's vocabulary semi-join and model
    # broadcast; unpersisted, each AQE broadcast build re-ran the
    # corpus tokenize+explode+groupBy lineage per consumer.
    counts = scoped_persist(
        toks.groupBy("label", "token").agg(F.count(F.lit(1)).alias("n"))
    )
    # Global vocabulary size V, per-label token totals and per-label
    # doc counts are C-row/scalar facts: COLLECT them once and inline
    # as literals (r13 optimization round, guide §2.4/§3.1). The old
    # form kept them as frames and joined them in — every consumer
    # action then re-built a TREE of nested BroadcastExchanges
    # (label_tot, vocab_n, total_docs, and again inside every outer
    # broadcast of token_logp): ext_nb_classify scheduled 30
    # broadcast-build jobs per run. Two cached-block collects + one
    # pruned doc scan replace them; the log/round arithmetic stays in
    # the ENGINE on the identical doubles (an integer < 2⁵³ is exact
    # as a literal), so every oracle replays unchanged.
    stats = counts.groupBy("label").agg(F.sum("n").alias("tot")).collect()
    tots = {r["label"]: int(r["tot"]) for r in stats}
    v = int(counts.select(F.countDistinct("token").alias("v")).head()["v"])
    ndocs = {
        r["label"]: int(r["n_docs"])
        for r in docs.groupBy(F.col(label_col).alias("label"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    }
    all_docs = sum(ndocs.values())

    a = F.lit(float(alpha))
    av = float(alpha) * float(v)
    if tots and len(tots) <= 64:
        tot_col = F.lit(None).cast("double")
        for lbl, t in tots.items():
            tot_col = F.when(F.col("label") == F.lit(lbl), F.lit(float(t))).otherwise(tot_col)
    else:
        # degenerate/huge label spaces: keep a (local-relation) join
        spark = docs.sparkSession
        tot_col = None
        ltype = dict(counts.dtypes)["label"]
        tot_df = spark.createDataFrame(
            [(k, float(t)) for k, t in tots.items()],
            f"label {ltype}, tot double",
        )
    if tot_col is not None:
        token_logp = counts.select(
            "label",
            "token",
            "n",
            F.round(
                F.log((F.col("n").cast("double") + a) / (tot_col + F.lit(av))),
                _LOGP_DP,
            ).alias("logp_r"),
        )
    else:
        token_logp = counts.join(F.broadcast(tot_df), "label").select(
            "label",
            "token",
            "n",
            F.round(
                F.log(
                    (F.col("n").cast("double") + a) / (F.col("tot") + F.lit(av))
                ),
                _LOGP_DP,
            ).alias("logp_r"),
        )
    # labels present in BOTH doc counts and token totals — the old
    # inner join's contract (a label whose every doc is token-less
    # carried no model rows and no stats row)
    spark = docs.sparkSession
    label_stats = spark.createDataFrame(
        [
            (lbl, ndocs[lbl], float(tots[lbl]))
            for lbl in sorted(ndocs)
            if lbl in tots
        ],
        f"label {dict(counts.dtypes)['label']}, n_docs long, tot double",
    ).select(
        "label",
        "n_docs",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.lit(float(all_docs))),
            _LOGP_DP,
        ).alias("log_prior_r"),
        F.round(F.log(a / (F.col("tot") + F.lit(av))), _LOGP_DP).alias(
            "log_floor_r"
        ),
    )
    return token_logp, label_stats


def nb_score(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    token_logp: DataFrame,
    label_stats: DataFrame,
) -> DataFrame:
    """Per-(doc, label) log-posterior: (id, label, score_r).

    Plan shape: the (doc, token, cnt) bag is vocabulary-filtered by a
    broadcast semi-join (OOV dropped map-side), fanned out ×C against
    the broadcast label table, left-joined against the broadcast model
    (unseen-in-class → the label's floor), then ONE groupBy(id, label).
    A docs×C spine guarantees every document scores under every label
    even with zero in-vocabulary tokens (prior-only prediction). Every
    addend is ``cnt × logp12`` as exact DECIMAL — order-independent.
    """
    labels = label_stats.select("label", "log_prior_r", "log_floor_r")
    vocab = token_logp.select("token").distinct()
    tc = (
        _doc_token_counts(docs, text_col, id_col)
        .join(F.broadcast(vocab), "token", "semi")
        .crossJoin(F.broadcast(labels.select("label", "log_floor_r")))
        .join(F.broadcast(token_logp.select("token", "label", "logp_r")),
              ["token", "label"], "left")
    )
    # cnt × logp12: logp12 is a double with |value| < 1e6, exactly
    # representable at DECIMAL(18,12); per-doc term counts fit
    # DECIMAL(8,0). The product is DECIMAL(27,12) in Spark (p1+p2+1)
    # and DECIMAL(26,12) in DuckDB (p1+p2) — both EXACT and both well
    # under the precision-38 cliff where Spark silently truncates
    # scale; the sum is associative.
    contrib = tc.select(
        F.col(id_col),
        "label",
        (
            F.col("cnt").cast("decimal(8,0)")
            * F.coalesce(F.col("logp_r"), F.col("log_floor_r")).cast("decimal(18,12)")
        ).alias("c"),
    )
    partial = contrib.groupBy(id_col, "label").agg(F.sum("c").alias("loglik"))
    spine = docs.select(id_col).crossJoin(F.broadcast(labels))
    return (
        spine.join(partial, [id_col, "label"], "left")
        .select(
            F.col(id_col),
            "label",
            F.round(
                F.col("log_prior_r")
                + F.coalesce(F.col("loglik").cast("double"), F.lit(0.0)),
                PARITY_DP,
            ).alias("score_r"),
        )
    )


def nb_predict(scores: DataFrame, id_col: str) -> DataFrame:
    """Argmax label per doc: (id, pred_label, score_r). Ties broken by
    label ascending (round-before-rank: score_r is already 9dp). The
    window runs over C rows per doc — never data-sized."""
    w = Window.partitionBy(id_col).orderBy(F.col("score_r").desc(), F.col("label").asc())
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(id_col), F.col("label").alias("pred_label"), "score_r")
    )


def nb_margin(scores: DataFrame, id_col: str, positive_label: str) -> DataFrame:
    """One-vs-rest decision score: (id, margin_r) = score(positive) −
    max(score(other)) — the binary calibration input for ``auc_exact``.
    Pure C-row-per-doc arithmetic (conditional aggregation, no joins)."""
    pos = F.lit(positive_label)
    return scores.groupBy(id_col).agg(
        F.round(
            F.max(F.when(F.col("label") == pos, F.col("score_r")))
            - F.max(F.when(F.col("label") != pos, F.col("score_r"))),
            PARITY_DP,
        ).alias("margin_r")
    )


def auc_exact(
    scored: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC-AUC via the tie-corrected Mann-Whitney rank-sum.

    ``label_col`` is a boolean/int (1 = positive). AUC =
    (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ is the sum of AVERAGE ranks
    (ascending score) of the positives — the textbook tie-corrected
    estimator, every step exact rational arithmetic (average ranks have
    .5 granularity → DECIMAL(38,1); products stay DECIMAL) so both
    engines agree bit-for-bit before the single 9dp presentation round.

    Scale shape: rows collapse to DISTINCT SCORES first (groupBy — at
    100 TB a 9dp-rounded score column has bounded cardinality, and the
    compression happens map-side); the cumulative rank window then runs
    over distinct scores, not rows. For a score column with unbounded
    distinct values, range-bucket + driver prefix-sum (the
    corpus_shuffle two-phase pattern at operators/sampling.py) replaces
    the single window; at the contract's 9dp margins the window form is
    the right plan.

    Returns one row: (n_pos, n_neg, auc_r).
    """
    pos = F.col(label_col).cast("int")
    by_score = scored.groupBy(F.col(score_col).alias("s")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(pos).alias("n_pos"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # average rank of a tie-group = rank_before + (n+1)/2, exact at .5:
    # 2·avg_rank = 2·cum_before + n + 1 keeps everything integer.
    ranked = by_score.select(
        "n",
        "n_pos",
        (
            F.lit(2) * (F.sum("n").over(w) - F.col("n")) + F.col("n") + F.lit(1)
        ).alias("two_avg_rank"),
    )
    # n_pos per tie-group fits DECIMAL(14,0) (1e14 rows per distinct
    # score is beyond any corpus); 2·avg_rank ≤ 2N+1 fits DECIMAL(18,0)
    # — the product is (33,0) in Spark / (32,0) in DuckDB, exact, and
    # its sum stays under precision 38.
    agg = ranked.agg(
        F.sum("n_pos").cast("decimal(18,0)").alias("np"),
        (F.sum("n") - F.sum("n_pos")).cast("decimal(18,0)").alias("nn"),
        F.sum(
            F.col("n_pos").cast("decimal(14,0)") * F.col("two_avg_rank").cast("decimal(18,0)")
        ).alias("two_rpos"),
    )
    return agg.select(
        F.col("np").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.round(
            (
                F.col("two_rpos").cast("double") / F.lit(2.0)
                - F.col("np").cast("double") * (F.col("np").cast("double") + F.lit(1.0)) / F.lit(2.0)
            )
            / (F.col("np").cast("double") * F.col("nn").cast("double")),
            PARITY_DP,
        ).alias("auc_r"),
    )


# Below this many cached feature rows every GD iteration runs inside ONE
# applyInPandas task (``_lr_descent_fused``); above it each iteration is
# one ``mapInPandas`` pass over the doc-id-partitioned cache emitting
# gradient partials the driver sums. Both sides run the same kernel
# (``_lr_grad_np``) and update (``_lr_step``). The gate is WORK-sized:
# rows bound the single task's Arrow payload (rows × 4 scalars; 2M rows
# ≈ 64 MB), and the same bound caps every int64 gradient sum (2M
# addends × ≤10¹² < 2⁶³). BOX ASSUMPTION: same single-core numpy
# throughput note as similarity._FUSED_LLOYD_MAX_ROWS.
_FUSED_LR_MAX_ROWS = 2_000_000


def _lr_grad_np(idx, x, y, codes, w: list[float]) -> list:
    """One GD iteration over WHOLE docs (every row of a doc present;
    ``codes`` = the doc id factorized 0..n_docs-1), returning the
    per-idx gradient as exact scaled-int64 partials — one length-
    ``len(w)`` array per ≤ ``_FUSED_LR_MAX_ROWS``-row chunk, so no
    int64 sum spans more addends than the gate allows. Bit-equal to
    the oracle's SQL iteration:

    - per-row product ``round(x·w[idx], 12)`` via the repr-HALF_UP
      twin ``round_half_up_np`` of ``F.round``;
    - per-doc z = the DECIMAL(38,12)-sum twin: addends recovered as
      exact scaled int64 (k = rint(v·10¹²) — |v| < 2 keeps the
      scaling error < 0.5, so recovery is exact), summed in int64,
      and the sum divided k/10¹² (correctly-rounded IEEE division of
      a < 2⁵³ integer ≡ the engine's exact-decimal→double cast);
    - σ̃ and err: the identical IEEE double ops, then the round12 twin;
      at w = 0 this is z = 0, σ̃ = 0.5 exactly, the oracle's it-1;
    - per-idx gradient addends: round12(err·x) as scaled int64.

    The partials' Python-int total is the DECIMAL gradient sum exactly;
    ``_lr_step`` turns it into the update."""
    import numpy as np

    warr = np.asarray(w, dtype=np.float64)
    prod = round_half_up_np(x * warr[idx], _LOGP_DP)
    zk = np.zeros(len(codes), dtype=np.int64)
    np.add.at(zk, codes, np.rint(prod * 1e12).astype(np.int64))
    z = zk[codes] / 1e12
    p = round_half_up_np(0.5 + (0.5 * z) / (1.0 + np.abs(z)), _LOGP_DP)
    gi = np.rint(round_half_up_np((p - y) * x, _LOGP_DP) * 1e12).astype(np.int64)
    out = []
    for s in range(0, len(gi), _FUSED_LR_MAX_ROWS):
        e = s + _FUSED_LR_MAX_ROWS
        gk = np.zeros(len(w), dtype=np.int64)
        np.add.at(gk, idx[s:e], gi[s:e])
        out.append(gk)
    return out


def _lr_step(w: list[float], partials, n: int, lr: float) -> list[float]:
    """Sum ``_lr_grad_np`` partials as exact Python ints and apply
    w − lr·(g/n) with g = Σ/10¹² (CPython int/int true division is
    correctly rounded even past 2⁵³ ≡ the DECIMAL→double cast) — the
    identical pinned double ops the oracle SQL spells."""
    g = [0] * len(w)
    for gk in partials:
        for i, m in enumerate(gk):
            g[i] += int(m)
    return [wi - lr * ((gi / 10**12) / n) for wi, gi in zip(w, g)]


def _lr_arrays(pdf, id_col: str):
    """(idx, x, y, doc codes) numpy views of a feature frame."""
    import numpy as np
    import pandas as pd

    return (
        pdf["idx"].to_numpy(np.int64),
        pdf["x"].to_numpy(np.float64),
        pdf["y"].to_numpy(np.float64),
        pd.factorize(pdf[id_col])[0],
    )


def _lr_descent_fused(
    feats: DataFrame, id_col: str, n: int, lr: float, dim: int, rounds: int
) -> list[float]:
    """Below-gate body of ``lr_train_surrogate``: all ``rounds`` GD
    iterations from w = 0 inside ONE task over the cached feature
    frame; one job returns the dim+1 weights."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        arrays = _lr_arrays(pdf, id_col)
        w = [0.0] * (dim + 1)
        for _ in range(rounds):
            w = _lr_step(w, _lr_grad_np(*arrays, w), n, lr)
        return pd.DataFrame({"w": [w]})

    return list(
        feats.withColumn("__g", F.lit(0))
        .groupBy("__g")
        .applyInPandas(fn, "w array<double>")
        .collect()[0]["w"]
    )


def _lr_descent_distributed(
    feats: DataFrame, id_col: str, n: int, lr: float, dim: int, rounds: int
) -> list[float]:
    """Above-gate body of ``lr_train_surrogate``: each GD iteration is
    ONE ``mapInPandas`` pass over the cache. The cache is
    hash-partitioned on the doc id, so a doc never straddles a
    partition — but its rows can straddle Arrow batches, so each
    partition's batches are concatenated before the kernel runs. The
    dim+1 weights ride in the closure; partials come back as
    ``gk array<long>`` rows and ``_lr_step`` merges them."""
    import pandas as pd

    def partials(w: list[float]):
        def fn(batches):
            pdfs = [b for b in batches if len(b)]
            if pdfs:
                pdf = pd.concat(pdfs, ignore_index=True)
                for gk in _lr_grad_np(*_lr_arrays(pdf, id_col), w):
                    yield pd.DataFrame({"gk": [gk]})

        return fn

    w = [0.0] * (dim + 1)
    for _ in range(rounds):
        rows = feats.mapInPandas(partials(w), "gk array<long>").collect()
        w = _lr_step(w, [r["gk"] for r in rows], n, lr)
    return w


def lr_hashed_features(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 32,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Hashed bag-of-words term-frequency features: token →
    ``portable_hash60 % dim`` bucket (the fastText hashing trick —
    fixed model width regardless of vocabulary), x = bucket count /
    doc token count. Output (id, *carry_cols, idx, x), ≤ ``dim`` rows
    per doc.

    Scale shape: the token stream collapses to ≤ dim buckets per doc
    map-side BEFORE the exchange (groupBy(id, idx) partial combine),
    so the shuffled feature frame is ≤ dim × corpus-docs rows of three
    scalars — never tokens, never text. The per-doc token total comes
    from a window over the collapsed frame (r13 optimization round,
    guide §2.4: the former groupBy(id) + self-join on id cost a second
    aggregate plus a two-sided exchange+sort for the same integers —
    the window is one exchange). The md5-based bucket hash keeps
    features engine-replayable (oracle parity); swap xxhash64 for
    production ingest.

    ``carry_cols``: doc-level columns (functionally dependent on the
    id) carried through the collapse — lets a caller keep its label on
    the feature rows instead of joining a corpus-sized label frame
    back on id (r13, the trainer's use)."""
    from .dedup import portable_hash60

    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    carry = [F.col(c) for c in carry_cols]
    tok = docs.select(
        F.col(id_col), *carry, F.explode(tokenize(F.col(text_col))).alias("token")
    )
    fidx = tok.select(
        F.col(id_col), *carry,
        (portable_hash60(F.col("token")) % dim).alias("idx"),
    )
    # carry_cols are doc-constant, so adding them to the grouping key
    # leaves the groups (and counts) unchanged
    fcnt = fidx.groupBy(id_col, *carry_cols, "idx").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy(id_col)
    return fcnt.withColumn("n_tok", F.sum("cnt").over(w)).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.col("idx"),
        (F.col("cnt").cast("double") / F.col("n_tok").cast("double")).alias("x"),
    )


def _surrogate_p(z: Column) -> Column:
    """The engine-exact surrogate sigmoid σ̃(z) = 0.5 + 0.5·z/(1+|z|)
    ("fast sigmoid"): same shape, range and monotonicity as the
    logistic, but PURE rational arithmetic — no exp(), whose last-ulp
    libm differences across engines could flip a rounded addend and
    cascade through gradient iterations. The determinism-first choice
    for a cross-engine-verified trainer."""
    return F.round(
        F.lit(0.5) + (F.lit(0.5) * z) / (F.lit(1.0) + F.abs(z)), PARITY_DP
    )


def lr_train_surrogate(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    dim: int = 32,
    iters: int = 3,
    lr: float = 0.5,
) -> tuple[list[float], float]:
    """Distributed full-batch gradient-descent trainer for a binary
    linear classifier over hashed bag-of-words features — the
    fastText-style supervised quality/language filter (CCNet trains
    exactly this family), here with the iterative-training pattern NB's
    closed form doesn't exercise.

    Loss: squared-error against the surrogate sigmoid σ̃ (see
    ``_surrogate_p``) — gradient per feature is Σ_d (σ̃(z_d) − y_d) ·
    x_{d,idx} / n. w₀ = 0, b₀ = 0 (so iteration 1's predictions are
    exactly 0.5 — a pinned, engine-identical starting point).

    Engine-exact discipline: every per-row product is 12dp-rounded
    THEN summed exactly (order-independent across any partitioning),
    and updates use the same pinned double ops the oracle SQL spells
    (w − lr·(g/n)). The returned model replays bit-for-bit in
    DuckDB's unrolled-CTE rendering of the same iterations.

    The intercept trains as feature ``idx = dim`` with constant
    x = 1 (the classic bias-as-feature fold): one gradient pass
    covers weights AND bias, and the oracle needs no special-case
    bias CTEs. Documents with zero
    tokens still carry the bias row, so they train/score on the
    intercept instead of silently dropping out.

    Every iteration runs the one kernel ``_lr_grad_np`` (exactness
    argument there) and the one update ``_lr_step``: below
    ``_FUSED_LR_MAX_ROWS`` all iterations share one task; above it
    each iteration is one map-only pass over the cache plus a
    dim+1-partial driver merge.

    100 TB shape: the feature frame carries the label column and is
    cached HASH-PARTITIONED ON THE DOC ID, so every doc's rows share a
    partition and an iteration needs no exchange at all — ONE action
    returning ≤ dim+1 longs per partition. The model is dim+1 values:
    broadcast by construction, like NB's V×C table but smaller."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # label CARRIED through the feature collapse (it is doc-constant,
    # so the groups are unchanged) instead of joined back on id: no
    # label-join exchange+sort.
    base = lr_hashed_features(
        docs, text_col, id_col, dim, carry_cols=(label_col,)
    ).unionByName(
        docs.select(
            F.col(id_col),
            F.col(label_col),
            F.lit(dim).cast("long").alias("idx"),
            F.lit(1.0).alias("x"),
        )
    )
    feats = (
        base.select(
            F.col(id_col),
            F.col("idx"),
            F.col("x"),
            F.col(label_col).cast("double").alias("y"),
        )
        .repartition(F.col(id_col))
        .transform(scoped_persist)
    )
    # one aggregate over the cache materializes it AND yields the gate
    # signal (rows) and n (every doc carries exactly one bias row)
    n_rows, n = feats.agg(
        F.count(F.lit(1)), F.count(F.when(F.col("idx") == dim, 1))
    ).first()
    if n_rows == 0:
        raise ValueError("empty training set")
    descent = (
        _lr_descent_fused
        if n_rows <= _FUSED_LR_MAX_ROWS
        else _lr_descent_distributed
    )
    w = descent(feats, id_col, n, lr, dim, iters)  # w[dim] is the intercept
    feats.unpersist()
    return w[:dim], w[dim]


def lr_score_surrogate(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    weights: list[float],
    bias: float,
    dim: int | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score documents with a trained surrogate-LR model: σ̃ of the
    hashed-feature dot product, 9dp-rounded. The model rides into the
    plan as dim+1 literals (broadcast by construction); the corpus
    side is the same ≤-dim-rows-per-doc feature frame as training —
    one groupBy(doc) shuffle, never text. Output
    (id, score_r, *carry_cols).

    ``carry_cols``: doc-level columns (functionally dependent on the
    id) carried through the feature collapse and the z aggregation —
    the trainer's label-carry applied to scoring (r13 optimization
    round, guide §2.4): a caller that needs labels next to scores
    keeps them on the rows instead of joining a corpus-sized label
    frame back on id."""
    d = dim if dim is not None else len(weights)
    if d != len(weights):
        raise ValueError(f"dim {d} != len(weights) {len(weights)}")
    feats = lr_hashed_features(
        docs, text_col, id_col, d, carry_cols=carry_cols
    ).unionByName(
        docs.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.lit(d).cast("long").alias("idx"),
            F.lit(1.0).alias("x"),
        )
    )
    warr = F.array(*[F.lit(v) for v in [*weights, bias]])
    wt = F.element_at(warr, (F.col("idx") + 1).cast("int"))
    prod = F.round(F.col("x") * wt, _LOGP_DP)
    # carry_cols are doc-constant, so the z groups are unchanged
    z = feats.groupBy(id_col, *carry_cols).agg(
        F.sum(prod.cast("decimal(38,12)")).cast("double").alias("z")
    )
    return z.select(
        F.col(id_col),
        _surrogate_p(F.col("z")).alias("score_r"),
        *[F.col(c) for c in carry_cols],
    )


def calibration_bins(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins + Expected Calibration Error — the
    calibration sibling of ``auc_exact`` (AUC certifies RANKING; ECE
    certifies that the scores a selection pipeline thresholds on MEAN
    what they say: a 0.9-bin should be ~90% positive before "keep if
    p>0.9" is a defensible curation gate).

    Equal-width binning on [0, 1]: bin_id = max(0, min(⌊score·B⌋,
    B−1)) — pure double product + floor, identical in both engines on
    identical 9dp-rounded score inputs; the clamp is two-sided (ADVICE
    r10) so an out-of-[0,1] score column degrades to the edge bins
    instead of emitting a negative bin_id. Per non-empty bin: n, n_pos, mean score
    (12dp-decimal order-free sum, the house float-agg discipline,
    presented /n as double), empirical positive rate, and the
    |confidence − accuracy| gap. ECE = Σ_b (n_b/N)·gap_b over the ≤B
    bin rows — summed as 12dp decimals of per-bin terms (order-free),
    broadcast back onto every row via an unpartitioned window over ≤B
    rows (bounded: B is a constant, not data-sized).

    Scale shape: ONE groupBy on a B-ary key (map-side combine makes
    the shuffle B rows per task), then window arithmetic over ≤B rows.
    Corpus-size-independent beyond the single aggregation pass.

    Output: (bin_id, n, n_pos, mean_score_r, frac_pos_r, gap_r, ece_r)
    — ece_r repeated per row (single-frame contract convention)."""
    s = F.col(score_col)
    b = F.greatest(
        F.lit(0),
        F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)),
    ).alias("bin_id")
    agg = scored.groupBy(b).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(label_col).cast("int")).cast("bigint").alias("n_pos"),
        F.sum(F.round(s, 12).cast("decimal(38,12)")).alias("__s"),
    )
    mean_raw = F.col("__s").cast("double") / F.col("n")
    frac_raw = F.col("n_pos").cast("double") / F.col("n")
    g = agg.select(
        "bin_id",
        "n",
        "n_pos",
        F.round(mean_raw, PARITY_DP).alias("mean_score_r"),
        F.round(frac_raw, PARITY_DP).alias("frac_pos_r"),
        F.round(F.abs(mean_raw - frac_raw), PARITY_DP).alias("gap_r"),
    )
    w = Window.partitionBy()
    term = F.round(
        F.col("n").cast("double") / F.sum("n").over(w) * F.col("gap_r"), 12
    ).cast("decimal(38,12)")
    return g.select(
        "bin_id",
        "n",
        "n_pos",
        "mean_score_r",
        "frac_pos_r",
        "gap_r",
        F.round(F.sum(term).over(w).cast("double"), PARITY_DP).alias("ece_r"),
    )


def brier_decomposition(
    scored: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Brier score + Murphy (1973) decomposition — the proper-scoring
    completion of the calibration ladder (`auc_exact` ranks,
    `calibration_bins` sizes the gaps, this says how much of the total
    squared-error loss those gaps actually cost): BS = mean((p−y)²),
    reliability = Σ n_b/N·(p̄_b−ȳ_b)² (what recalibration could remove),
    resolution = Σ n_b/N·(ȳ_b−ȳ)² (discrimination — higher is better),
    uncertainty = ȳ(1−ȳ) (the no-skill floor). Each term is computed
    independently (no reliance on the binned identity) with the house
    exact-aggregation discipline: per-row/per-bin addends 12dp-rounded
    into DECIMAL(38,12) (order-free sums), final divisions in double,
    presented at ``PARITY_DP``.

    Scale shape: ONE pass — a B-ary groupBy with map-side combine
    (the per-bin moments) plus a global 1-row aggregate for BS; the
    decomposition arithmetic runs over ≤B bin rows. Output: one row
    (n, brier_r, reliability_r, resolution_r, uncertainty_r)."""
    s = F.col(score_col)
    y = F.col(label_col).cast("int")
    b = F.greatest(
        F.lit(0),
        F.least(F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)),
    ).alias("bin_id")
    per_bin = scored.groupBy(b).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).cast("bigint").alias("n_pos"),
        F.sum(F.round(s, 12).cast("decimal(38,12)")).alias("__s"),
        F.sum(
            F.round((s - y) * (s - y), 12).cast("decimal(38,12)")
        ).alias("__sq"),
    )
    tot = per_bin.agg(
        F.sum("n").alias("__N"),
        F.sum("n_pos").alias("__NP"),
        F.sum("__sq").alias("__sqt"),
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    ybar = F.col("__NP").cast("double") / F.col("__N")
    pbar_b = F.col("__s").cast("double") / F.col("n")
    ybar_b = F.col("n_pos").cast("double") / F.col("n")
    wt = F.col("n").cast("double") / F.col("__N")
    rel_term = F.round(wt * (pbar_b - ybar_b) * (pbar_b - ybar_b), 12).cast(
        "decimal(38,12)"
    )
    res_term = F.round(wt * (ybar_b - ybar) * (ybar_b - ybar), 12).cast(
        "decimal(38,12)"
    )
    return j.groupBy("__N", "__NP", "__sqt").agg(
        F.sum(rel_term).alias("__rel"), F.sum(res_term).alias("__res")
    ).select(
        F.col("__N").cast("bigint").alias("n"),
        F.round(F.col("__sqt").cast("double") / F.col("__N"), PARITY_DP).alias(
            "brier_r"
        ),
        F.round(F.col("__rel").cast("double"), PARITY_DP).alias("reliability_r"),
        F.round(F.col("__res").cast("double"), PARITY_DP).alias("resolution_r"),
        F.round(
            (F.col("__NP").cast("double") / F.col("__N"))
            * (F.lit(1.0) - F.col("__NP").cast("double") / F.col("__N")),
            PARITY_DP,
        ).alias("uncertainty_r"),
    )
