#!/usr/bin/env python
"""Regenerate QUERIES.md — the registry index the correctness gate
runs — from the live registry (single source of truth). Run from the
repo root: ``python scripts/gen_queries_md.py``."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FAMILIES: list[tuple[str, tuple[str, ...]]] = [
    (
        "TPC-H query shapes",
        tuple(f"q{i}_" for i in range(1, 23))
        + ("order_priority_late_ship",),  # the Q4 EXISTS shape
    ),
    ("Streaming", ("streaming_",)),
    (
        "Dedup",
        ("dedup", "ngram_jaccard", "minhash", "simhash", "near_dup"),
    ),
    (
        "Similarity / embeddings",
        ("ann_", "embedding_",),
    ),
    (
        "Training-data pipeline",
        (
            "llm_corpus", "token_count", "text_quality", "tfidf",
            "contamination", "pii_scan", "sequence_packing", "vocab_",
            "passage_", "user_value_trends",
        ),
    ),
    ("Multimodal", ("multimodal_",)),
    (
        "Crawl pipeline (reference semantics)",
        ("clean_codes", "extract_procedure", "udtf_extract", "scalar_extract"),
    ),
    (
        "Windows / sessions / funnels",
        ("window_", "sessionize", "funnel_"),
    ),
    (
        "Joins",
        ("anti_join", "asof_", "range_join"),
    ),
    (
        "Relational breadth",
        (),  # catch-all
    ),
]


def family_of(name: str) -> str:
    for fam, prefixes in FAMILIES:
        if any(p in name for p in prefixes):
            return fam
    return "Relational breadth"


def main() -> None:
    import __spark_entry__ as entry
    import bench

    qs, osql = entry.queries(), entry.oracle_sql()
    grouped: dict[str, list[tuple[str, bool, bool, str]]] = {}
    for name, fn in qs.items():
        doc = (inspect.getdoc(fn) or "").split("\n")[0].replace("|", "/")[:96]
        grouped.setdefault(family_of(name), []).append(
            (name, name in osql, name in bench.HEADLINE, doc)
        )

    lines = [
        "# QUERIES — the registered correctness-gate corpus",
        "",
        f"{len(qs)} queries, {len(osql)} DuckDB-oracled (the rest are",
        "rows-only by design: probabilistic signatures, engine-specific",
        "sketch estimates, or trained-model plans — each carries an",
        "accuracy/recall/agreement test instead; see tests/). bench = in",
        "the `bench.py` headline suite. Regenerate:",
        "`python scripts/gen_queries_md.py`.",
        "",
    ]
    for fam, _ in FAMILIES:
        if fam not in grouped:
            continue
        rows = sorted(grouped[fam])
        lines += [f"## {fam} ({len(rows)})", "", "| query | oracle | bench | summary |", "|---|---|---|---|"]
        for name, oracled, benched, doc in rows:
            lines.append(
                f"| `{name}` | {'yes' if oracled else 'rows-only'} |"
                f" {'yes' if benched else ''} | {doc} |"
            )
        lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}: {len(qs)} queries in {len(grouped)} families")


if __name__ == "__main__":
    main()
