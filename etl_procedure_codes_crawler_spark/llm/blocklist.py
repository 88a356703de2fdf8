"""Multi-pattern blocklist scanning: one automaton pass per document
over thousands of banned phrases (Aho & Corasick 1975).

Safety filtering on a crawl corpus runs against phrase lists far past
what a regex alternation survives — an alternation of 10k phrases
compiles into a pathological NFA, and per-pattern ``contains`` scans
the text once PER PHRASE. The Aho–Corasick automaton scans each
document ONCE regardless of pattern count: goto links walk matching
prefixes, failure links (the KMP idea generalized to a trie) recover
the longest suffix that is still a pattern prefix, and output links
surface every pattern ending at the current position — so the count
includes OVERLAPPING matches ("aaa" contains "aa" twice), which is
the contract the DuckDB oracle replays positionally.

Spark shape: the automaton builds driver-side from the phrase list
and rides the scan UDF's closure (model-as-data — the automaton for a
10k-phrase list is a few MB of dicts); the corpus streams through one
Arrow batch pass; no shuffle at all until the optional per-source
rollup. The pure-Python inner loop is the honest cost disclosure —
production swaps in a C automaton (pyahocorasick) behind the same
closure seam; the Spark plumbing (broadcast-by-closure, one pass,
per-doc counters) is what this module pins.
"""

from __future__ import annotations

from collections import deque

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def build_automaton(phrases: list[str]) -> dict:
    """Aho–Corasick automaton as plain dicts (picklable for the UDF
    closure): states are ints, ``goto[state][char] -> state``,
    ``fail[state] -> state``, ``out[state] -> [phrase indices]``.

    Degenerate inputs are handled up front: duplicate phrases are
    collapsed to their first occurrence (separate indices for the same
    string would double-count ``n_phrases_hit``) and an empty-string
    phrase is rejected (it has no trie path, so it would match only
    when the scan re-enters the root mid-text — inconsistent
    semantics)."""
    seen: set[str] = set()
    deduped: list[str] = []
    for p in phrases:
        if not p:
            raise ValueError("empty blocklist phrase")
        if p not in seen:
            seen.add(p)
            deduped.append(p)
    phrases = deduped
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for idx, p in enumerate(phrases):
        s = 0
        for ch in p:
            if ch not in goto[s]:
                goto.append({})
                out.append([])
                goto[s][ch] = len(goto) - 1
            s = goto[s][ch]
        out[s].append(idx)
    fail = [0] * len(goto)
    q = deque()
    for ch, s in goto[0].items():
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[s] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != s else 0
            out[s] = out[s] + out[fail[s]]
    return {"goto": goto, "fail": fail, "out": out, "n": len(phrases)}


def scan_text(text: str, auto: dict) -> list[int]:
    """Per-phrase overlapping match counts for one string."""
    goto, fail, out = auto["goto"], auto["fail"], auto["out"]
    counts = [0] * auto["n"]
    s = 0
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        for idx in out[s]:
            counts[idx] += 1
    return counts


def scan_blocklist(
    df: DataFrame,
    phrases: list[str],
) -> DataFrame:
    """(id, n_hits, n_phrases_hit) — total overlapping blocklist
    matches and distinct phrases matched per document; NULL text
    counts zero. One Arrow pass, no shuffle."""
    auto = build_automaton(list(phrases))

    @pandas_udf("struct<n_hits: bigint, n_phrases_hit: bigint>")
    def scan(texts: pd.Series) -> pd.DataFrame:
        hits, distinct = [], []
        for t in texts:
            if t is None:
                hits.append(0)
                distinct.append(0)
                continue
            counts = scan_text(t, auto)
            hits.append(sum(counts))
            distinct.append(sum(1 for c in counts if c > 0))
        return pd.DataFrame({"n_hits": hits, "n_phrases_hit": distinct})

    scanned = df.select(
        F.col("doc_id").alias("id"), scan(F.col("text")).alias("_s")
    )
    return scanned.select(
        "id",
        F.col("_s.n_hits").alias("n_hits"),
        F.col("_s.n_phrases_hit").alias("n_phrases_hit"),
    )


def top_trigram_phrases(
    df: DataFrame
) -> list[str]:
    """A deterministic corpus-derived phrase list (the self-contained
    stand-in for an external blocklist): the 8 most frequent word
    trigrams, ties broken lexicographically."""
    from .text import tokens

    toks = tokens("text")
    tri = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))),
        F.zip_with(
            F.slice(toks, 2, F.greatest(F.size(toks) - 2, F.lit(0))),
            F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda b, c: F.concat(b, F.lit(" "), c),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    rows = (
        df.select(F.explode(tri).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("p"))
        .limit(8)
        .collect()
    )
    return [r["p"] for r in rows]
