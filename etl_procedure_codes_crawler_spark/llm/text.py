"""Text-analysis column builders for large-scale document pipelines.

All pure Spark column expressions (JVM-side, whole-stage codegen) —
no Python UDFs in any hot path. These are the beyond-reference
operators SURVEY §7 Phase 5 calls for: token counting, quality
scoring, language-ID heuristics, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: small per-language marker (stopword) sets for the n-gram/stopword
#: language-ID heuristic. Tie-break order is the declaration order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "you", "that", "it", "was"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ich", "ein", "mit", "sie"),
    "fr": ("le", "les", "et", "des", "est", "une", "que", "dans", "pour", "je"),
    "es": ("el", "los", "las", "que", "por", "con", "para", "una", "del", "como"),
    "pt": ("o", "os", "em", "um", "uma", "com", "para", "mais", "seu", "ela"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def spread_small_input(df):
    """Repartition to core count when the source arrives NARROWER than
    the cluster (a single small parquet file → one scan partition), so
    CPU-heavy per-row stages (shingling, signatures, bit votes) use
    every core instead of one. At real scale inputs already have
    ≥cores partitions and this is a no-op — the condition is the
    point; an unconditional repartition would add a full payload
    shuffle at 100 TB."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(_c(col)), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


#: GPT-2-style pre-tokenizer pattern, restricted to constructs both
#: Java regex (Spark) and RE2 (DuckDB) support identically: letter
#: runs, digit runs, punctuation runs, each with an optional leading
#: space — no lookahead (RE2 has none).
BPE_PRETOKEN_PATTERN = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_pretokens(col: Column | str) -> Column:
    """BPE-ish pre-tokenization (the unit a byte-pair encoder would
    merge within): closer to real LLM token counts than whitespace —
    punctuation splits off, so "don't." is 3 pretokens, not 1."""
    return F.regexp_extract_all(_c(col), F.lit(BPE_PRETOKEN_PATTERN), 0)


def bpe_pretoken_count(col: Column | str) -> Column:
    return F.size(bpe_pretokens(col)).cast("bigint")


def marker_hits(token_col: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens from a marker set — array filter, no shuffle."""
    return F.size(F.filter(token_col, lambda t: t.isin(*words))).cast("bigint")


def lang_id(token_col: Column) -> Column:
    """Stopword-count argmax over LANG_MARKERS; 'und' when no hits.

    Declaration order breaks ties so the expression is deterministic
    and exactly reproducible in ANSI SQL (a CASE chain).
    """
    hits = {lang: marker_hits(token_col, words) for lang, words in LANG_MARKERS.items()}
    langs = list(hits)
    chain = None
    # CASE evaluated in declaration order: the first lang whose count is
    # positive and >= all others wins, so earlier langs win ties.
    for i, lang in enumerate(langs):
        cond = hits[lang] > 0
        for j, other in enumerate(langs):
            if j != i:
                cond = cond & (hits[lang] >= hits[other])
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return chain.otherwise(F.lit("und"))


def lang_id_sql_case(token_expr: str) -> str:
    """The ANSI-SQL CASE chain equivalent of :func:`lang_id` (for the
    DuckDB oracle). ``token_expr`` is a SQL expression yielding the
    token list."""
    hit = {
        lang: (
            f"len(list_filter({token_expr}, t -> t IN "
            f"({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = list(hit)
    whens = []
    for i, lang in enumerate(langs):
        conds = [f"{hit[lang]} > 0"] + [
            f"{hit[lang]} >= {hit[other]}" for other in langs if other != lang
        ]
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, whitespace
    runs collapsed, trimmed (F20 semantics on documents)."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), r"\s+", " "))


def fingerprint_sha256(col: Column | str) -> Column:
    """Content fingerprint: sha2-256 of the normalized text."""
    return F.sha2(normalized_text(col), 256)


def md5_h60(col: Column | str) -> Column:
    """First 15 hex chars of md5 as a non-negative 60-bit BIGINT —
    the cross-engine hash (DuckDB: CAST(('0x' || substr(md5(x), 1,
    15)) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def token_lengths_sum(token_col: Column) -> Column:
    return F.aggregate(
        F.transform(token_col, F.length),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x.cast("bigint"),
    )


def chunk_documents(
    df,
    chunk_size: int = 128,
    overlap: int = 32,
):
    """Split documents into overlapping token-window chunks — the
    retrieval/RAG preparation step (and the unit most context-window
    pipelines embed, dedup and pack at, rather than whole documents).

    Geometry is closed-form per row: chunk ``i`` covers tokens
    ``[i*step + 1, i*step + chunk_size]`` with ``step = chunk_size -
    overlap``; a document of ``n`` tokens yields ``1`` chunk when ``n
    <= chunk_size`` else ``ceil((n - chunk_size)/step) + 1`` — every
    token is covered, consecutive chunks share ``overlap`` tokens, and
    only the last chunk may be short. Empty documents yield no rows.

    Scale shape: pure JVM array algebra (split → slice → array_join
    inside one projection, no shuffle at all); the explode multiplies
    rows ~n/step× but each chunk carries only its own text. Returns
    (id, chunk_idx, start_token, n_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"need 0 <= overlap < chunk_size, got {overlap} / {chunk_size}"
        )
    step = chunk_size - overlap
    toks = tokens("text")
    n = F.size(toks)
    num = F.when(n <= chunk_size, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_size)).cast("double") / F.lit(step)).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), num - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_idx"),
            (i * step + 1).cast("bigint").alias("start_token"),
            F.least(F.lit(chunk_size), n - i * step)
            .cast("bigint")
            .alias("n_tokens"),
            F.array_join(F.slice(toks, i * step + 1, chunk_size), " ").alias(
                "chunk_text"
            ),
        ),
    )
    return (
        df.where(F.length(F.trim(F.col("text"))) > 0)
        .select(F.col("doc_id"), F.explode(chunks).alias("c"))
        .select(
            "doc_id", "c.chunk_idx", "c.start_token", "c.n_tokens", "c.chunk_text"
        )
    )
