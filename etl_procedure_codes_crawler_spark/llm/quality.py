"""Model-based quality filtering: a broadcast linear scorer.

Production corpus pipelines filter with TRAINED quality classifiers
(fastText/logistic models over cheap text features — the C4/CCNet/
FineWeb pattern), not just hand rules. For a linear model the right
Spark shape is model-as-data: the coefficient vector is driver-side
constants folded straight into the column expression — the "broadcast"
costs nothing, scoring is one JVM-side projection over the feature
math :mod:`.text` already provides, and swapping in re-trained
coefficients changes no plan.

The score is the raw LINEAR margin (w·x + b), not a sigmoid: the
sigmoid is a monotone transform that changes no ranking and no
thresholding decision, and dropping it keeps the arithmetic rational
(divisions, multiplies, adds, in a fixed order) — bit-identical across
engines, so the DuckDB oracle hash-matches without tolerance games
(libm exp() is not guaranteed correctly rounded; IEEE division is).

Features (all pure column math, no UDF):
- ``len_sat``        — min(n_tokens, 256)/256, saturating length;
- ``ttr``            — type-token ratio;
- ``avg_token_len``  — mean token length;
- ``stop_ratio``     — English stopword-marker ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import text as T

#: stand-in coefficients for a trained filter (positive margin = keep):
#: reward stopword density and moderate length — the strongest public
#: cheap signals for "running prose" vs boilerplate/code/tables —
#: penalize extreme average token length (markup, URLs, hex blobs).
DEFAULT_MODEL = {
    "bias": -1.2,
    "len_sat": 1.1,
    "ttr": 0.6,
    "avg_token_len": -0.18,
    "stop_ratio": 6.5,
}

#: fixed feature order — the score expression and its SQL oracle MUST
#: add terms in the same order (double addition is not associative)
FEATURE_ORDER = ("len_sat", "ttr", "avg_token_len", "stop_ratio")


#: the 8 "must contain ≥2 of these" words from the Gopher rule battery
#: (Rae et al. 2021, appendix A1.1 — public paper)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_columns(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> dict:
    """The rule battery as named Column expressions — composable into
    any projection (the funnel capstones ride them alongside other
    signals in ONE scan). See :func:`gopher_rules` for semantics."""
    text = F.col(text_col)
    toks = T.tokens(text_col)
    n = F.size(toks).cast("bigint")
    mean_len = T.token_lengths_sum(toks).cast("double") / n
    alpha_ratio = (
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n
    )
    hash_count = F.length(text) - F.length(F.replace(text, F.lit("#")))
    ellipsis_count = (
        F.length(text) - F.length(F.replace(text, F.lit("...")))
    ) / F.lit(3)
    symbol_ratio = (hash_count + ellipsis_count).cast("double") / n
    lines = F.split(text, "\n", -1)
    n_lines = F.size(lines).cast("bigint")
    bullet_ratio = (
        F.size(
            F.filter(
                lines,
                lambda l: F.startswith(F.ltrim(l), F.lit("-"))
                | F.startswith(F.ltrim(l), F.lit("*")),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_line_ratio = (
        F.size(
            F.filter(lines, lambda l: F.endswith(F.rtrim(l), F.lit("...")))
        ).cast("double")
        / n_lines
    )
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
    ).cast("bigint")
    keep = (
        (n >= F.lit(int(min_words)))
        & (n <= F.lit(int(max_words)))
        & (mean_len >= F.lit(float(min_mean_len)))
        & (mean_len <= F.lit(float(max_mean_len)))
        & (symbol_ratio <= F.lit(float(max_symbol_ratio)))
        & (bullet_ratio <= F.lit(float(max_bullet_ratio)))
        & (ellipsis_line_ratio <= F.lit(float(max_ellipsis_ratio)))
        & (alpha_ratio >= F.lit(float(min_alpha_ratio)))
        & (stop_hits >= F.lit(int(min_stop_hits)))
    )
    return {
        "n_words": n,
        "mean_word_len": mean_len,
        "alpha_ratio": alpha_ratio,
        "symbol_ratio": symbol_ratio,
        "bullet_ratio": bullet_ratio,
        "ellipsis_line_ratio": ellipsis_line_ratio,
        "stop_hits": stop_hits,
        "keep": keep,
    }


def linear_margin(model: dict | None = None):
    """The raw linear quality margin as ONE Column expression (fixed
    term order — see :func:`score_documents` for why no sigmoid and
    no reordering)."""
    model = dict(DEFAULT_MODEL if model is None else model)
    bias = float(model.pop("bias", 0.0))
    feats = quality_features()
    unknown = set(model) - set(feats)
    if unknown:
        raise ValueError(f"unknown quality features: {sorted(unknown)}")
    score = F.lit(bias)
    for name in FEATURE_ORDER:
        if name in model:
            score = score + F.lit(float(model[name])) * feats[name]
    return score


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher rule battery (Rae et al. 2021, A1.1) as one pure JVM
    projection — the published hand-rule complement to the trained
    scorer above. Per document: the raw feature values plus the final
    ``keep`` decision (every rule must pass). No UDF, no shuffle; at
    100 TB this is a map-only pass that rides whatever scan partition
    layout the corpus already has.

    Rules (thresholds are the paper's, except ``min_words`` which the
    caller can drop for short-document corpora):
    - word count in [min_words, max_words];
    - mean word length in [min_mean_len, max_mean_len];
    - symbol-to-word ratio ('#' chars + '...' runs) ≤ max_symbol_ratio;
    - ≤ max_bullet_ratio of lines start with a bullet;
    - ≤ max_ellipsis_ratio of lines end with an ellipsis;
    - ≥ min_alpha_ratio of words contain an alphabetic character;
    - at least min_stop_hits distinct words from GOPHER_STOPWORDS.

    All ratios are single IEEE divisions of exact integer counts, so
    the DuckDB oracle hash-matches bit-exactly.
    """
    cols = gopher_columns(
        text_col,
        min_words=min_words,
        max_words=max_words,
        min_mean_len=min_mean_len,
        max_mean_len=max_mean_len,
        max_symbol_ratio=max_symbol_ratio,
        max_bullet_ratio=max_bullet_ratio,
        max_ellipsis_ratio=max_ellipsis_ratio,
        min_alpha_ratio=min_alpha_ratio,
        min_stop_hits=min_stop_hits,
    )
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


def quality_features() -> dict:
    """The four feature columns, shared by the scorer and any future
    trainer; token math comes from :mod:`.text` (JVM higher-order
    functions, no Python)."""
    toks = T.tokens("text")
    n = F.size(toks).cast("bigint")
    uniq = F.size(F.array_distinct(toks)).cast("bigint")
    return {
        "len_sat": F.least(n, F.lit(256)).cast("double") / F.lit(256.0),
        "ttr": uniq.cast("double") / n,
        "avg_token_len": T.token_lengths_sum(toks).cast("double") / n,
        "stop_ratio": T.marker_hits(toks, T.LANG_MARKERS["en"]).cast("double")
        / n,
    }


def score_documents(
    df: DataFrame,
    model: dict | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """(id, quality_score, keep) — linear quality margin per document
    and its threshold decision. ``model`` maps feature names (plus
    ``bias``) to coefficients; defaults to :data:`DEFAULT_MODEL`.
    Unknown feature names raise — silently ignoring a coefficient
    would score with a different model than the caller trained."""
    score = linear_margin(model)
    # 1e-4 grid by FLOOR, not round(): small-decimal weights times
    # simple token ratios land scores EXACTLY on .00005 boundaries,
    # where Spark's round (exact BigDecimal, HALF_UP) and DuckDB's
    # (multiply-then-std::round) disagree — measured at sf0.1. floor
    # of one IEEE multiply is bit-identical on identical doubles.
    grid = (F.floor(score * F.lit(10000.0)) / F.lit(10000.0)).alias(
        "quality_score"
    )
    return df.select(
        F.col("doc_id"),
        grid,
        (score > F.lit(float(threshold))).alias("keep"),
    )


def fit_linear_quality(
    df: DataFrame,
    label_col: str,
    ridge: float = 1e-6,
) -> dict:
    """Train the linear quality model IN the engine — the trainer half
    of the model-as-data contract :func:`score_documents` consumes.

    Closed-form ridge regression over the shared
    :func:`quality_features` (fastText-style pipelines train a cheap
    linear scorer on a labeled seed set; with only k=4 features the
    normal equations beat any iterative solver): ONE corpus pass
    aggregates the (k+1)x(k+1) moment matrix XᵀX (intercept included)
    and the k+1 vector Xᵀy as plain ``F.sum`` products — map-side
    partial aggregation, so the shuffle carries 20 numbers per
    partition regardless of corpus size — and the tiny symmetric
    solve runs on the driver with numpy. Ridge λ is applied to the
    feature diagonal only (the intercept stays unpenalized, the
    standard convention). Rows whose features are NULL (empty/NULL
    text) are excluded — a trainer must not learn from documents the
    scorer cannot score.

    Returns the feature→coefficient dict (plus ``bias``) that
    ``score_documents``/``linear_margin`` accept verbatim. Pinned
    against a pure-numpy ``lstsq`` replica in tests/test_quality.py.
    """
    import numpy as np

    feats = quality_features()
    names = list(FEATURE_ORDER)
    k = len(names)
    x_cols = [F.lit(1.0).alias("_x0")] + [
        feats[n].alias(f"_x{i + 1}") for i, n in enumerate(names)
    ]
    rows = df.select(
        *x_cols, F.col(label_col).cast("double").alias("_y")
    )
    good = rows
    for i in range(k + 1):
        good = good.where(F.col(f"_x{i}").isNotNull())
    good = good.where(F.col("_y").isNotNull())
    aggs = []
    for i in range(k + 1):
        for j in range(i, k + 1):
            aggs.append(
                F.sum(F.col(f"_x{i}") * F.col(f"_x{j}")).alias(f"_a{i}_{j}")
            )
        aggs.append(F.sum(F.col(f"_x{i}") * F.col("_y")).alias(f"_b{i}"))
    row = good.agg(*aggs).first()
    if row[f"_a0_0"] is None:
        raise ValueError(
            "fit_linear_quality: no scorable labeled rows to train on"
        )
    a = np.zeros((k + 1, k + 1))
    b = np.zeros(k + 1)
    for i in range(k + 1):
        for j in range(i, k + 1):
            a[i, j] = a[j, i] = float(row[f"_a{i}_{j}"])
        b[i] = float(row[f"_b{i}"])
    a += float(ridge) * np.diag([0.0] + [1.0] * k)  # intercept unpenalized
    w = np.linalg.solve(a, b)
    model = {"bias": float(w[0])}
    for i, n in enumerate(names):
        model[n] = float(w[i + 1])
    return model
