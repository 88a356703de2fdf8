"""Seeded input generators for the benchmark.

Every input is a pure function of the workload seed: the same seed gives
byte-identical pages, code batches, warehouse snapshots and query tables.

Crawl inputs are built from the six page templates in ``templates/``
(copies of the package's test fixtures, frozen here so the benchmark's
inputs do not move when tests change). Each code gets one template; the
two ``ok`` templates that carry modifier or NDC tables get per-code keys
drawn from pools that grow with the batch, so within-batch dedup,
snapshot dedup and sink volume all scale with N.

The generator also knows, without parsing, which rows each table must
receive: that is what the benchmark's output checks compare against.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEMPLATE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "templates")

#: template -> (share of codes, URL kind the live site would land on)
TEMPLATES = {
    "cpt_normal": (0.40, "cpt"),
    "hcpcs_normal": (0.25, "hcpcs"),
    "cpt_empty_tabs": (0.10, "cpt"),
    "deleted_code": (0.10, "cpt"),
    "deleted_hcpcs_listing": (0.075, "hcpcs"),
    "page_404": (0.075, "cpt"),
}
#: the parse status each template must produce
TEMPLATE_STATUS = {
    "cpt_normal": "ok",
    "hcpcs_normal": "ok",
    "cpt_empty_tabs": "ok",
    "deleted_code": "deleted",
    "deleted_hcpcs_listing": "deleted_listing",
    "page_404": "error_404",
}

# Rows of the templates that are replaced by per-code rows.
_MODIFIER_SLOT = {
    "cpt_normal": (
        "        <tr><td>25</td><td>Significant separately identifiable E/M service</td></tr>\n"
        "        <tr><td>59</td><td>Distinct procedural service</td></tr>\n"
    ),
}
_NDC_SLOT = {
    "cpt_normal": (
        "        <tr><td>00002-1433-80</td><td>DrugA</td><td>LabelerA</td><td>10 MG</td><td>UN </td></tr>\n"
        "        <tr><td>00002-1434-80</td><td>DrugB</td><td>LabelerB</td><td>20 MG</td><td>ML</td></tr>\n"
    ),
    "hcpcs_normal": (
        "        <tr><td>00009-0011-01</td><td>Tetracycline</td><td>Pharma Co</td><td>250 MG</td><td>UN</td></tr>\n"
    ),
}
#: rows per page drawn for the varied tables (inclusive bounds)
_MODIFIERS_PER_PAGE = {"cpt_normal": (1, 3)}
_NDC_PER_PAGE = {"cpt_normal": (1, 3), "hcpcs_normal": (1, 2)}

BASE_URL = "https://example.test/"


def load_templates() -> dict[str, str]:
    out = {}
    for name in TEMPLATES:
        with open(os.path.join(TEMPLATE_DIR, f"{name}.html"), encoding="utf-8") as fh:
            text = fh.read()
        for slots in (_MODIFIER_SLOT, _NDC_SLOT):
            if name in slots and text.count(slots[name]) != 1:
                raise ValueError(f"template {name} lost its replaceable rows")
        out[name] = text
    return out


def modifier_row(key: int) -> tuple[str, str]:
    return f"M{key:05d}", f"Modifier {key} procedural service"


def ndc_row(key: int) -> tuple[str, str, str, str, str]:
    ndc_id = f"{50000 + key // 1000:05d}-{key % 1000:04d}-{10 + key % 90:02d}"
    return (
        ndc_id,
        f"Drug{key}",
        f"Labeler{key % 50}",
        f"{(key % 40 + 1) * 5} MG",
        "UN" if key % 2 else "ML",
    )


@dataclass(frozen=True)
class CodePage:
    """One code's page: its template plus the keys varied into it."""

    code: str
    template: str
    modifiers: tuple[int, ...] = ()
    ndc: tuple[int, ...] = ()

    @property
    def url(self) -> str:
        return f"{BASE_URL}{TEMPLATES[self.template][1]}-codes/{self.code}"

    @property
    def has_code_row(self) -> bool:
        """ok and deleted pages yield a procedure_codes row."""
        return self.status in ("ok", "deleted")

    @property
    def status(self) -> str:
        return TEMPLATE_STATUS[self.template]


def render(page: CodePage, templates: dict[str, str]) -> str:
    html = templates[page.template]
    if page.template in _MODIFIER_SLOT:
        rows = "".join(
            f"        <tr><td>{m}</td><td>{d}</td></tr>\n"
            for m, d in map(modifier_row, page.modifiers)
        )
        html = html.replace(_MODIFIER_SLOT[page.template], rows)
    if page.template in _NDC_SLOT:
        rows = "".join(
            "        <tr>" + "".join(f"<td>{v}</td>" for v in ndc_row(k)) + "</tr>\n"
            for k in page.ndc
        )
        html = html.replace(_NDC_SLOT[page.template], rows)
    return html


def make_pages(
    rng: random.Random, first_index: int, n: int, key_pool: int
) -> list[CodePage]:
    """``n`` pages with codes numbered from ``first_index``; modifier and
    NDC keys are drawn from ``range(key_pool)``.

    Each template gets the same number of pages under every seed (its
    share of ``n``); the seed decides which code gets which template and
    keys. The amount of work then does not move with the seed."""
    counts = {t: int(n * share) for t, (share, _) in TEMPLATES.items()}
    counts["cpt_normal"] += n - sum(counts.values())
    templates = [t for t, c in counts.items() for _ in range(c)]
    rng.shuffle(templates)
    pages = []
    for i, template in enumerate(templates, start=first_index):
        lo, hi = _MODIFIERS_PER_PAGE.get(template, (0, 0))
        modifiers = tuple(rng.randrange(key_pool) for _ in range(rng.randint(lo, hi)))
        lo, hi = _NDC_PER_PAGE.get(template, (0, 0))
        ndc = tuple(rng.randrange(key_pool) for _ in range(rng.randint(lo, hi)))
        pages.append(CodePage(f"C{i:06d}", template, modifiers, ndc))
    return pages


def dirty_batch(rng: random.Random, codes: list[str]) -> list[str | None]:
    """The codes plus what the cleaning stage must remove: about 5%
    duplicates and 5% blanks, ``'false'`` spellings and NULLs."""
    k = max(1, len(codes) // 20)
    junk: list[str | None] = ["", "   ", "false", "FALSE", " False ", None]
    batch = list(codes) + rng.choices(codes, k=k) + rng.choices(junk, k=k)
    rng.shuffle(batch)
    return batch


# ---------------------------------------------------------------------------
# expected outputs
# ---------------------------------------------------------------------------


def expected_rows(pages, known_codes=(), known_modifiers=(), known_ndc=()):
    """Rows one crawl of ``pages`` must append, given the snapshot's keys:
    ``(codes, modifiers, ndc)`` as key sets. Pages already known by code
    are not crawled; modifier and NDC keys already stored are dropped."""
    known_codes = set(known_codes)
    crawled = [p for p in pages if p.code not in known_codes]
    codes = {p.code for p in crawled if p.has_code_row}
    ok = [p for p in crawled if p.status == "ok"]
    modifiers = {modifier_row(k)[0] for p in ok for k in p.modifiers}
    ndc = {ndc_row(k)[0] for p in ok for k in p.ndc}
    return (
        codes,
        modifiers - set(known_modifiers),
        ndc - set(known_ndc),
    )


# ---------------------------------------------------------------------------
# warehouse snapshot
# ---------------------------------------------------------------------------


def template_records(templates: dict[str, str]) -> dict[str, dict]:
    """The parsed record of each template page, from the package's own
    parser; a generated page's record differs only in the varied keys."""
    from etl_procedure_codes_crawler_spark.functions.html_extract import (
        parse_procedure_page,
    )

    out = {}
    for name in TEMPLATES:
        page = CodePage("TEMPLATE", name)
        out[name] = parse_procedure_page(page.code, page.url, templates[name])
    return out


def page_record(page: CodePage, records: dict[str, dict]) -> dict:
    record = dict(records[page.template], code=page.code)
    if page.template in _MODIFIER_SLOT:
        rows = [modifier_row(k) for k in page.modifiers]
        record["modifiers"] = [m for m, _ in rows] or None
        record["modifier_rows"] = rows or None
    if page.template in _NDC_SLOT:
        rows = [ndc_row(k) for k in page.ndc]
        record["ndc_alternate_id"] = [r[0] for r in rows] or None
        record["ndc_rows"] = rows or None
    return record


def _arrow_schema(spark_schema) -> pa.Schema:
    from pyspark.sql.types import ArrayType

    return pa.schema(
        [
            (f.name, pa.list_(pa.string()) if isinstance(f.dataType, ArrayType) else pa.string())
            for f in spark_schema.fields
        ]
    )


def seed_warehouse(
    warehouse: str,
    pages,
    load_dates,
    templates: dict[str, str],
) -> tuple[set, set, set]:
    """Write the snapshot one earlier crawl per load date would have left:
    ``pages`` are split evenly over ``load_dates``; each date appends its
    code rows and the modifier/NDC keys not stored by an earlier date.
    Returns the stored key sets ``(codes, modifiers, ndc)``."""
    from etl_procedure_codes_crawler_spark.schemas import (
        PROCEDURE_CODES_SCHEMA,
        PROCEDURE_MODIFIERS_SCHEMA,
        PROCEDURE_NDC_SCHEMA,
    )

    records = template_records(templates)
    schemas = {
        "procedure_codes": _arrow_schema(PROCEDURE_CODES_SCHEMA),
        "procedure_modifiers": _arrow_schema(PROCEDURE_MODIFIERS_SCHEMA),
        "procedure_ndc": _arrow_schema(PROCEDURE_NDC_SCHEMA),
    }
    stored_codes: set = set()
    stored_mod: dict = {}
    stored_ndc: dict = {}
    per_date = -(-len(pages) // len(load_dates))
    for d, load_date in enumerate(load_dates):
        chunk = pages[d * per_date:(d + 1) * per_date]
        codes, mods, ndcs = expected_rows(chunk, stored_codes, stored_mod, stored_ndc)
        by_code = {p.code: p for p in chunk}
        code_rows = [page_record(by_code[c], records) for c in sorted(codes)]
        new_mod = {}
        new_ndc = {}
        for p in chunk:
            for k in p.modifiers:
                key, desc = modifier_row(k)
                if key in mods:
                    new_mod[key] = desc
            for k in p.ndc:
                row = ndc_row(k)
                if row[0] in ndcs:
                    new_ndc[row[0]] = row
        tables = {
            "procedure_codes": [
                {name: r[name] for name in schemas["procedure_codes"].names}
                for r in code_rows
            ],
            "procedure_modifiers": [
                {"modifier": k, "description": v} for k, v in sorted(new_mod.items())
            ],
            "procedure_ndc": [
                dict(zip(schemas["procedure_ndc"].names, v))
                for _, v in sorted(new_ndc.items())
            ],
        }
        for table, rows in tables.items():
            if not rows:
                continue
            out = os.path.join(warehouse, table, f"load_date={load_date}")
            os.makedirs(out, exist_ok=True)
            pq.write_table(
                pa.Table.from_pylist(rows, schema=schemas[table]),
                os.path.join(out, "part-00000.snappy.parquet"),
                compression="snappy",
            )
        stored_codes |= codes
        stored_mod.update(new_mod)
        stored_ndc.update(new_ndc)
    return stored_codes, set(stored_mod), set(stored_ndc)


# ---------------------------------------------------------------------------
# query_mix tables (TPC-H-shaped star schema plus a documents corpus)
# ---------------------------------------------------------------------------

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch", "dup",
]
LANGS = ["en", "de", "zh", "fr", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_query_tables(
    out_dir: str,
    seed: int,
    n_customers: int,
    n_suppliers: int,
    n_orders: int,
    lines_per_order: int,
    n_documents: int,
) -> dict[str, int]:
    """Write the tables the query mix reads, with the column names and
    types of the package's testdata contract. Returns row counts."""
    rng = np.random.RandomState(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_customers).tolist(),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_suppliers)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_suppliers), 2),
    })
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.randint(0, 7 * 365, n_orders).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
    })
    n_lines = n_orders * lines_per_order
    orderkeys = rng.randint(0, n_orders, n_lines)
    ship = day0 + rng.randint(0, 8 * 365, n_lines).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, 2000, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_suppliers, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_lines).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_lines), 2),
        "l_discount": rng.randint(0, 11, n_lines) / 100.0,
        "l_tax": rng.randint(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.randint(0, len(VOCAB), size=n)])
        for n in rng.randint(10, 100, size=n_documents)
    ]
    # near-duplicates (a copy with its tail cut) give the dedup and
    # cluster stages of the corpus queries real work
    for i in rng.choice(n_documents, size=n_documents // 20, replace=False):
        src = texts[rng.randint(n_documents)].split()
        texts[i] = " ".join(src[: max(3, len(src) - rng.randint(0, 4))])
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_documents), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_documents, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_documents)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
