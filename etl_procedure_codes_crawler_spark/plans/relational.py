"""The relational query corpus: every declared operator family from
SURVEY §2, exercised as (PySpark DataFrame plan, ANSI-SQL oracle) pairs
over the driver testdata tables (TESTDATA.md / FIXTURES.md §B).

The reference outsourced ALL of this surface to Athena (SURVEY §3 entry
point 3); in this engine Catalyst executes it. Each query is the Spark
plan a user would write; the oracle string is what DuckDB runs on the
same parquet for the driver's hash-compare.

Cross-engine determinism rules used throughout (they are the difference
between "usually matches" and "always matches"):

- money math is done in DECIMAL (exact), then CAST to DOUBLE at the end
  — summing doubles directly gives engine-dependent last-ulp results
  that flip rounded values at boundaries;
- averages are expressed as exact-sum / count in DOUBLE;
- every computed column is aliased identically in plan and oracle;
- int-ish outputs are cast to BIGINT (Spark's size()/row_number()
  return INT, DuckDB's len()/row_number() return BIGINT);
- top-k queries carry a total tie-break key so LIMIT is deterministic;
- timestamps are emitted as formatted strings (session tz is UTC).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.timestamps import (
    epoch_micros,
    normalize_event_ts,
    parquet_ts_unit,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: exact money type for intermediate aggregation
DEC = "decimal(18,2)"


def register(name: str, oracle: str | None = None):
    def decorator(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return decorator


def _pin_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf only when it differs. A read is a cheap
    side-effect-free py4j call; a SET invalidates cached plan state,
    so the steady-state path (sessions built by session.get_spark,
    which pins these values at creation) must not re-set per query —
    while a foreign or mutated session still gets corrected."""
    if spark.conf.get(key, None) != value:
        spark.conf.set(key, value)


#: session confs whose values change what parquet schema inference
#: returns (``load`` pins the first for the events table)
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: path -> (signature, inferred schema); one entry per path
_SCHEMAS: dict[str, tuple] = {}


def _data_files(path: str) -> tuple | None:
    """(file, size, mtime_ns) of every file under ``path`` (a file or a
    dataset directory); None for a non-local or missing path (Spark
    then infers, or raises its own error)."""
    if "://" in path and not path.startswith("file:"):
        return None
    local = path.removeprefix("file:")
    files = [local] if os.path.isfile(local) else sorted(
        os.path.join(root, name) for root, _, names in os.walk(local) for name in names
    )
    try:
        stats = [os.stat(f) for f in files]
    except OSError:  # a file replaced while listing
        return None
    return tuple(
        (f, st.st_size, st.st_mtime_ns) for f, st in zip(files, stats)
    ) or None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema remembered:
    inference is a Spark job (a footer read per file), while the data
    files it reads rarely change between queries. The memo key is the
    file listing (names, sizes, mtimes — listed afresh on every call)
    plus the session's :data:`_INFERENCE_CONFS`; a rewritten file or a
    flipped conf re-infers and replaces the path's entry."""
    files = _data_files(path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """The corpus table ``table`` under ``sf_dir`` with the session
    pins below applied. The parquet schema is inferred on the first
    load of a path and remembered (:func:`_read_parquet`): the key is
    the path's data files (name, size, mtime_ns) and the session's
    parquet-inference confs, and the memo keeps one entry per path, so
    it is bounded by the number of tables read. Non-local paths are
    inferred on every call."""
    # The driver's gate runs these queries in ITS session, not ours:
    # pin the (runtime-settable) confs results depend on. Timezone —
    # NTZ→TIMESTAMP casts, epoch extraction, and window boundaries
    # must agree with the DuckDB oracle's naive-timestamp reading on
    # any host. ANSI — cast/overflow/try_cast semantics at the Spark 4
    # default the corpus is validated under. NOTE this is a deliberate
    # session-global side effect for sessions that arrive mis-pinned:
    # "running any corpus query opts that session into UTC+ANSI
    # semantics" — the documented contract of this query surface. For
    # sessions built by session.get_spark the check is read-only and
    # nothing is re-set (tests/test_conf_pinning.py).
    _pin_conf(spark, "spark.sql.session.timeZone", "UTC")
    _pin_conf(spark, "spark.sql.ansi.enabled", "true")
    if table == "events":
        # Tolerate a legacy TIMESTAMP(NANOS) encoding (read as long,
        # runtime-settable conf — the driver's session won't have it
        # preset); the actual dtype is inspected below, never assumed.
        _pin_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{table}.parquet")
    df = _read_parquet(spark, path)
    if table == "events":
        # footer logical type (one driver-side read) makes the bigint
        # unit definitive; magnitude inference only covers plain INT64
        df = normalize_event_ts(df, bigint_unit=parquet_ts_unit(path))
    return df


def _dec(col: str):
    return F.col(col).cast(DEC)


def _disc_price():
    """exact (extendedprice * (1 - discount)) in DECIMAL."""
    return _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))


_SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


# ---------------------------------------------------------------------------
# Aggregation (SURVEY §2.5) — TPC-H Q1 shape
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_SQL_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide partial-aggregatable scan agg: map-side combine does most of
    the work; shuffle carries 6 groups × partial states, not rows."""
    lineitem = load(spark, sf_dir, "lineitem")
    count = F.count(F.lit(1))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(_disc_price() * (F.lit(1).cast(DEC) + _dec("l_tax")))
            .cast("double")
            .alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / count).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / count).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / count).alias("avg_disc"),
            count.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-join + agg + deterministic top-k — TPC-H Q3 shape
# ---------------------------------------------------------------------------

@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority AS orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer is the small side → broadcast; orders⋈lineitem shuffles
    on orderkey once and the groupBy reuses that partitioning."""
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Six-way join — TPC-H Q5 shape
# ---------------------------------------------------------------------------

@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region/nation/supplier/customer are all dimension-sized →
    broadcast chain; only orders⋈lineitem is a shuffle join."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (lineitem.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Join + agg + top-k with tie-break — TPC-H Q10 shape
# ---------------------------------------------------------------------------

@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    lineitem = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Anti / semi joins (SURVEY §2.4 J1/J2 semantics on testdata)
# ---------------------------------------------------------------------------

@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
    )
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The J1/J2 left-anti shape: fact side keeps rows whose key is
    absent from the (distinct-projected, broadcast) key set. The date
    restriction keeps the result non-empty at every testdata scale
    (every customer has *some* order; lapsed-since-1999 customers
    exist), so the test can't pass vacuously on empty output."""
    customer = load(spark, sf_dir, "customer")
    order_keys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return customer.join(
        F.broadcast(order_keys),
        customer.c_custkey == order_keys.o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Cleaning P1-P3 (reference: procedure_code.py:721-723) on testdata
# ---------------------------------------------------------------------------

@register(
    "clean_codes_normalize",
    oracle="""
    WITH dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN '  '
                    WHEN doc_id % 11 = 0 THEN 'FALSE '
                    WHEN doc_id % 7 = 0 THEN ''
                    ELSE source END AS code
        FROM documents
    ),
    cleaned AS (
        SELECT doc_id,
               CASE WHEN TRIM(code) = '' THEN NULL
                    WHEN LOWER(TRIM(code)) = 'false' THEN NULL
                    ELSE code END AS code
        FROM dirty
    )
    SELECT doc_id, code FROM cleaned WHERE code IS NOT NULL
    """,
)
def clean_codes_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P3 (reference: procedure_code.py:721-723) over
    deterministically-dirtied real data: blank→NULL, 'false'→NULL,
    drop nulls — through the pipeline's actual cleaning operator."""
    from ..operators.cleaning import clean_key_column

    documents = load(spark, sf_dir, "documents")
    dirty = documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 0, F.lit("  "))
        .when(F.col("doc_id") % 11 == 0, F.lit("FALSE "))
        .when(F.col("doc_id") % 7 == 0, F.lit(""))
        .otherwise(F.col("source"))
        .alias("code"),
    )
    return clean_key_column(dirty, "code")


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.5)
# ---------------------------------------------------------------------------

@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "grouped_topk_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def grouped_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same top-3 as window_top3_orders_per_customer, computed by
    the skew-safe two-phase salted aggregation (operators/topk.py)
    instead of a full-data window — after phase 1 only
    keys × salts × 3 rows shuffle, vs the window form moving every
    order row. Same oracle pins exact agreement of both plans."""
    from ..operators.topk import grouped_topk

    orders = load(spark, sf_dir, "orders")
    return grouped_topk(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        keys=["o_custkey"],
        order_col="o_totalprice",
        tiebreak_col="o_orderkey",
        k=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


# ---------------------------------------------------------------------------
# Rollup (SURVEY §2.5 grouping sets)
# ---------------------------------------------------------------------------

@register(
    "rollup_revenue_by_flag_status",
    oracle=f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue_by_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )
    )


@register("heavy_hitter_tokens")  # rows-only: top-k sketch estimates are engine-specific
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the MERGEABLE approx_top_k sketch family:
    `approx_top_k_accumulate` builds per-group sketches in one pass,
    `approx_top_k_combine` merges them WITHOUT rescanning, and
    `approx_top_k_estimate` reads out the global top-10 tokens — the
    shape a 1000-executor frequency job takes (per-shard sketches up,
    one combine down), vs an exact wordcount's full token shuffle.
    Exact counterpart in the gate: vocab_top_terms; accuracy (the
    estimated top-10 ⊆ exact top-30 and counts within 5%) is pinned
    in tests/test_sketches.py."""
    documents = load(spark, sf_dir, "documents")
    tok = documents.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    per_source = tok.groupBy("source").agg(
        F.expr("approx_top_k_accumulate(token, 30)").alias("sk")
    )
    merged = per_source.agg(
        F.expr("approx_top_k_estimate(approx_top_k_combine(sk, 30), 10)").alias(
            "top"
        )
    )
    return merged.select(F.explode("top").alias("t")).select(
        F.col("t.item").alias("token"),
        F.col("t.count").cast("bigint").alias("approx_count"),
    )


# ---------------------------------------------------------------------------
# Explode / lateral (SURVEY §2.7 fan-out shape)
# ---------------------------------------------------------------------------

@register(
    "explode_token_counts",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
)
def explode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explode fan-out the crawl pipeline uses for modifiers/NDC,
    on public data: one row in, many out, then re-aggregate."""
    documents = load(spark, sf_dir, "documents")
    return (
        documents.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# JSON + timestamps over events (SURVEY §1.2 JSON row; F22/F23)
# ---------------------------------------------------------------------------

@register(
    "events_json_extract_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def events_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F23 JSON parsing as a typed column op (from_json), not string
    hacks — schema'd structs stay in Tungsten rows."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.from_json("props", "k BIGINT").getField("k").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_hourly_windows",
    oracle="""
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation — the batch shape of the Structured
    Streaming query in streaming/events.py (same window fn)."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "sessionize_user_events",
    oracle="""
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    marked AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_no
        FROM marked
    )
    SELECT user_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def sessionize_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via ``session_window`` (30-minute gap) —
    the same declarative operator the streaming module uses, checked
    against the classic gaps-and-islands SQL (lag + running flag sum).
    Boundary semantics verified empirically: Spark MERGES an event at
    exactly gap distance (diff <= gap joins the session), so the SQL
    breaks on diff > gap — pinned in tests/test_session_boundary.py.
    One shuffle on user_id either way; session_window just says it in
    one operator instead of three windows."""
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("s"), "user_id"
        )
        .agg(
            F.min("ts").alias("min_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("min_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


@register(
    "scalar_extract_functions",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(lower(text), '\s+', ' ', 'g') AS norm_text,
           split_part(text, ' ', 1) AS first_word,
           regexp_extract(source, '([^:]*)$', 1) AS after_colon,
           translate(source, '.', '') AS source_nodots,
           CASE WHEN contains(lower(source), 'cpt') THEN 'CPT'
                ELSE 'HCPCS' END AS code_type,
           regexp_extract(text, '(\d{2,5}-\d{2,5})', 1) AS interval_like
    FROM documents
    """,
)
def scalar_extract_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.6's ⊕ column-function mappings as one relation —
    the native-Spark equivalents of the reference's extraction string
    ops (F5 regexp intervals, F13 dot-strip translate, F16 after-colon
    substring_index, F20 whitespace normalize, F21 code-type
    classifier), all JVM-side, zero Python in the data path."""
    documents = load(spark, sf_dir, "documents")
    return documents.select(
        "doc_id",
        F.regexp_replace(F.lower("text"), r"\s+", " ").alias("norm_text"),
        F.substring_index("text", " ", 1).alias("first_word"),
        F.substring_index("source", ":", -1).alias("after_colon"),
        F.translate("source", ".", "").alias("source_nodots"),
        F.when(F.lower("source").contains("cpt"), "CPT")
        .otherwise("HCPCS")
        .alias("code_type"),
        F.regexp_extract("text", r"(\d{2,5}-\d{2,5})", 1).alias("interval_like"),
    )


@register(
    "streaming_hourly_event_counts",
    oracle="""
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING path through the correctness gate: drive the
    Structured Streaming tumbling-window aggregation (watermark +
    availableNow) over the same events data and hash-match it against
    the BATCH oracle — stream/batch parity as a checked invariant, not
    a claim. Uses a staged file-source directory (file streams read
    directories) and a memory sink."""
    from ..streaming.events import (
        drain_table_file,
        hourly_event_counts,
        read_events_stream,
    )

    counts = drain_table_file(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        lambda staged: hourly_event_counts(read_events_stream(spark, staged)),
    )
    return counts.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# Existence subquery — TPC-H Q4 shape
# ---------------------------------------------------------------------------

@register(
    "order_priority_late_ship",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def order_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a single left-semi with the non-equi condition riding on
    the equi key — the semi join dedups matches itself, so no distinct
    and no second pass over orders (one shuffle join, then agg)."""
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            lineitem,
            (orders.o_orderkey == lineitem.l_orderkey)
            & (lineitem.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped widening (adapted to the testdata's simplified schema:
# no partsupp, no commit/receipt dates, no shipmode — FIXTURES.md §B)
# ---------------------------------------------------------------------------

@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure scan-agg: every predicate pushes to the parquet scan, the
    'plan' is one codegen stage with a 1-row global agg — the shape that
    must saturate IO at 100 TB."""
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & _dec("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
               {_SQL_DISC_PRICE} AS volume
        FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
                      JOIN orders   ON o_orderkey = l_orderkey
                      JOIN customer ON c_custkey = o_custkey
                      JOIN nation n1 ON s_nationkey = n1.n_nationkey
                      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: the two nation dims broadcast; the disjunctive
    nation-pair predicate runs after the broadcast joins so the big
    fact join is still a single orderkey shuffle."""
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
        SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
               {_SQL_DISC_PRICE} AS volume,
               n2.n_name AS supp_nation
        FROM part JOIN lineitem ON p_partkey = l_partkey
                  JOIN supplier ON s_suppkey = l_suppkey
                  JOIN orders   ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation n1 ON c_nationkey = n1.n_nationkey
                  JOIN region   ON n1.n_regionkey = r_regionkey
                  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND p_type = 'PROMO'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's market for one part
    type. Numerator/denominator as exact DECIMAL sums, divided in
    DOUBLE at the end (division is where cross-engine drift lives)."""
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    n_cust = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    zero = F.lit(0).cast(DEC)
    joined = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n_cust), customer.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(region), F.col("nc_region") == region.r_regionkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n_supp), supplier.s_nationkey == F.col("ns_key"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", _disc_price()).otherwise(zero)
            )
            .cast("double")
            .alias("_num"),
            F.sum(_disc_price()).cast("double").alias("_den"),
        )
        .select(
            "o_year", (F.col("_num") / F.col("_den")).cast("double").alias("mkt_share")
        )
    )


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: outer join preserved through two aggregation levels —
    COUNT(col) (nulls excluded) is the semantic under test."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "q18_large_volume_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(o_totalprice AS DOUBLE) AS totalprice,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: IN-subquery over an aggregate → semi join against the
    (tiny) qualifying-keys relation, broadcast back onto the fact."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey")
    )
    return (
        orders.join(
            F.broadcast(big_orders),
            orders.o_orderkey == big_orders.l_orderkey,
            "left_semi",
        )
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_totalprice").cast("double").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q19_discounted_revenue",
    oracle=f"""
    SELECT CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: disjunctive mixed-table predicates — the join stays a plain
    equi broadcast join and the OR-of-ANDs evaluates post-join (the
    per-table conjuncts Catalyst can factor out, it pushes down)."""
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Range join (custom temporal operator, operators/rangejoin.py)
# ---------------------------------------------------------------------------

@register(
    "range_join_purchases_within_hour_of_signup",
    oracle="""
    WITH s AS (SELECT event_id AS signup_id, user_id,
                      CAST(ts AS TIMESTAMP) AS s_start,
                      CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS s_end
               FROM events WHERE event_type = 'signup'),
         p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase')
    SELECT s.signup_id, s.user_id, COUNT(*) AS n_purchases
    FROM s JOIN p ON s.user_id = p.user_id
                 AND p.ts >= s.s_start AND p.ts < s.s_end
    GROUP BY s.signup_id, s.user_id
    """,
)
def range_join_purchases_within_hour_of_signup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Funnel join: purchases inside [signup, signup+1h) per user —
    the bucketed range join (plain shuffled equi-join on
    (user, time-bucket)) vs DuckDB's non-equi join as oracle."""
    from ..operators.rangejoin import range_join

    events = load(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("s_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("s_end"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    return (
        range_join(
            purchases,
            signups,
            interval_start="s_start",
            interval_end="s_end",
            on="user_id",
            bucket_seconds=3600,
        )
        .groupBy("signup_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# As-of join (custom temporal operator, operators/asof.py)
# ---------------------------------------------------------------------------

@register(
    "asof_last_view_before_purchase",
    oracle="""
    WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'purchase'),
         v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id,
           v.event_id AS view_event_id,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's latest not-later view —
    the union+window as-of join (one shuffle) vs DuckDB's native
    ASOF JOIN as the oracle."""
    from ..operators.asof import asof_join

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(purchases, views, on="user_id", prefix="view_")
    return joined.select(
        "event_id",
        "user_id",
        "view_event_id",
        (epoch_micros("ts") - epoch_micros("view_ts"))
        .cast("bigint")
        .alias("gap_us"),
    )


@register(
    "exact_moment_statistics",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
        SELECT *,
               sxx - sx * sx / n AS dx,
               syy - sy * sy / n AS dy,
               sxy - sx * sy / n AS dxy
        FROM s
    )
    SELECT l_returnflag,
           n AS n_rows,
           sx / n AS mean_qty,
           sqrt(dx / (n - 1)) AS stddev_qty,
           dxy / sqrt(dx * dy) AS corr_qty_price,
           dxy / dx AS slope_price_per_qty,
           sy / n - (dxy / dx) * (sx / n) AS intercept
    FROM d
    """,
)
def exact_moment_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (stddev, correlation, OLS slope) that
    hash-match across engines. Built-in stddev/corr are order-dependent
    double accumulations — different partitionings give different last
    ulps. Here every SUM runs in exact DECIMAL (map-side partial aggs
    still apply), and the floating-point math happens only in the final
    per-group scalar expressions, with the identical IEEE operation tree
    on both engines. The decimal sums go to double THROUGH A STRING:
    once a sum's unscaled value exceeds 2^53 (the squared-price sum
    does), direct decimal→double conversion rounds differently per
    engine, while decimal→string is exact and string→double is
    correctly rounded in both. One shuffle on the group key; moment
    sums make this a single pass regardless of scale."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("string").cast("double").alias("sx"),
        F.sum(y).cast("string").cast("double").alias("sy"),
        F.sum(x * x).cast("string").cast("double").alias("sxx"),
        F.sum(y * y).cast("string").cast("double").alias("syy"),
        F.sum(x * y).cast("string").cast("double").alias("sxy"),
    )
    d = s.withColumns(
        {
            "dx": F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"),
            "dy": F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"),
            "dxy": F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"),
        }
    )
    return d.select(
        "l_returnflag",
        F.col("n").alias("n_rows"),
        (F.col("sx") / F.col("n")).alias("mean_qty"),
        F.sqrt(F.col("dx") / (F.col("n") - 1)).alias("stddev_qty"),
        (F.col("dxy") / F.sqrt(F.col("dx") * F.col("dy"))).alias("corr_qty_price"),
        (F.col("dxy") / F.col("dx")).alias("slope_price_per_qty"),
        (
            F.col("sy") / F.col("n")
            - (F.col("dxy") / F.col("dx")) * (F.col("sx") / F.col("n"))
        ).alias("intercept"),
    )


@register(
    "funnel_signup_to_purchase",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'view' AND e.ts > t1 GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > t2 GROUP BY e.user_id
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t4
        FROM events e JOIN s3 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > t3 GROUP BY e.user_id
    )
    SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT '2_view', COUNT(*) FROM s2
    UNION ALL SELECT '3_click', COUNT(*) FROM s3
    UNION ALL SELECT '4_purchase', COUNT(*) FROM s4
    """,
)
def funnel_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users counted at each stage only if
    the stage event happened strictly AFTER their previous stage's
    first event (the sequential semantics that distinguish a funnel
    from four independent counts).

    SINGLE-SCAN formulation: one groupBy(user_id) collects each
    stage's timestamps (conditional collect_list — NULLs from other
    event types are skipped by Spark's list aggregation), then the
    stage chain t2/t3/t4 is pure JVM array algebra:
    ``array_min(filter(stage_ts, t -> t > prev_t))`` — exactly "first
    stage event strictly after the previous stage's first". A NULL
    prev_t nulls the comparison, so non-survivors propagate NULL down
    the chain for free. One fact scan + one user_id shuffle, vs the
    naive per-stage groupBy+join chain whose recursive re-evaluation
    cost 10 scans and 17 exchanges (A/B at sf0.1: 1.12s → 0.66s warm,
    identical output).

    Skew note for 100 TB: per-user state is that user's event
    timestamps (~8B each); a pathological user with 10^6 events costs
    ~8 MB in one aggregation buffer — the same class of bounded-state
    assumption as sessionization, and far cheaper than the 10-scan
    alternative."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("vs"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("cs"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("ps"),
    )
    chained = (
        per_user.withColumn(
            "t2", F.array_min(F.filter("vs", lambda v: v > F.col("t1")))
        )
        .withColumn(
            "t3", F.array_min(F.filter("cs", lambda c: c > F.col("t2")))
        )
        .withColumn(
            "t4", F.array_min(F.filter("ps", lambda p: p > F.col("t3")))
        )
    )
    agg = chained.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
        F.count("t4").alias("n4"),
    )
    return agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("1_signup").alias("stage"), F.col("n1").alias("n_users")
                ),
                F.struct(
                    F.lit("2_view").alias("stage"), F.col("n2").alias("n_users")
                ),
                F.struct(
                    F.lit("3_click").alias("stage"), F.col("n3").alias("n_users")
                ),
                F.struct(
                    F.lit("4_purchase").alias("stage"),
                    F.col("n4").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.n_users")


# ---------------------------------------------------------------------------
# TPC-H completion: the correlated-min subquery (Q2) and the multi-party
# "last to act" pattern (Q21), adapted to the testdata's simplified
# schema (no partsupp/commitdate/shipmode — FIXTURES.md §B).
# ---------------------------------------------------------------------------

@register(
    "q2_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
        SELECT ps.l_partkey, ps.l_suppkey, ps.cost,
               s_acctbal, s_name, n_name
        FROM ps
          JOIN supplier ON s_suppkey = ps.l_suppkey
          JOIN nation ON n_nationkey = s_nationkey
          JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
    ),
    best AS (
        SELECT *, MIN(cost) OVER (PARTITION BY l_partkey) AS min_cost
        FROM eu
    )
    SELECT s_acctbal, s_name, n_name,
           p_partkey, p_name,
           CAST(cost AS DOUBLE) AS supply_cost
    FROM best
      JOIN part ON p_partkey = l_partkey
    WHERE cost = min_cost
      AND p_size = 15 AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape — correlated MIN subquery ("the supplier offering this
    part cheapest in Europe"), with min unit cost per (part, supplier)
    standing in for the missing partsupp.ps_supplycost. The correlated
    subquery is a window MIN over partkey on the already-filtered
    relation — one shuffle, no re-scan, and the equality check runs in
    exact DECIMAL. Region/nation/part dims broadcast.

    The selective part predicate is applied BELOW the fact
    aggregation (broadcast inner join commutes with the per-(part,
    supplier) MIN and the per-part window): only ~2% of lineitem rows
    survive to the groupBy, so the one fact shuffle carries 50× fewer
    bytes — the difference between a plan that works and one that's
    scan-bound at 100 TB. A/B at sf0.1: 1.24s → 0.70s warm."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    li_p = li.join(
        F.broadcast(part.select("p_partkey", "p_name")),
        li.l_partkey == F.col("p_partkey"),
    )
    ps = li_p.groupBy("l_partkey", "l_suppkey", "p_partkey", "p_name").agg(
        F.min(_dec("l_extendedprice")).alias("cost")
    )
    eu = (
        ps.join(F.broadcast(supplier), ps.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    w = Window.partitionBy("l_partkey")
    best = eu.withColumn("min_cost", F.min("cost").over(w)).filter(
        F.col("cost") == F.col("min_cost")
    )
    return (
        best.select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q21_last_to_ship_suppliers",
    oracle="""
    WITH f AS (
        SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per_sup AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sup_last
        FROM f GROUP BY l_orderkey, l_suppkey
    ),
    per_ord AS (
        SELECT l_orderkey,
               MAX(sup_last) AS ord_last,
               COUNT(*) AS n_suppliers,
               SUM(CASE WHEN sup_last = mx THEN 1 ELSE 0 END) AS n_last
        FROM (
            SELECT *, MAX(sup_last) OVER (PARTITION BY l_orderkey) AS mx
            FROM per_sup
        ) GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM per_sup
      JOIN per_ord ON per_sup.l_orderkey = per_ord.l_orderkey
      JOIN supplier ON s_suppkey = per_sup.l_suppkey
    WHERE sup_last = ord_last AND n_suppliers > 1 AND n_last = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_last_to_ship_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape — the "kept others waiting" pattern: in finished
    multi-supplier orders, the sole supplier whose latest shipment is
    the order's latest (shipdate stands in for the missing
    commit/receipt dates). The classic formulation is a correlated
    EXISTS + NOT EXISTS pair — two extra self-joins of the fact; here
    both conditions fold into ONE aggregation per (order, supplier)
    plus unbounded windows over the order — NO per-order re-aggregation
    and NO self-join back to the per-supplier relation (the window
    carries ord_last/n_suppliers/n_last to every row in place), which
    at 100 TB removes two fact-sized shuffles and all
    correlated-subquery re-scans. A/B at sf0.1: 9 exchanges/4 sorts →
    5 exchanges/1 sort, 1.32s → 0.90s warm, identical output."""
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # no broadcast hint: orders is fact-sized at real scale — Catalyst
    # broadcasts it when small (AQE) and otherwise shuffle-joins on
    # l_orderkey, an exchange the groupBy and window below reuse
    # (HashPartitioning(ok) satisfies their clustering).
    f = li.join(
        orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).drop("o_orderkey")
    per_sup = f.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("sup_last")
    )
    w = Window.partitionBy("l_orderkey")
    ann = (
        per_sup.withColumn("ord_last", F.max("sup_last").over(w))
        .withColumn("n_suppliers", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_last",
            F.sum(
                F.when(F.col("sup_last") == F.col("ord_last"), 1).otherwise(0)
            ).over(w),
        )
    )
    supplier = load(spark, sf_dir, "supplier")
    return (
        ann.filter(
            (F.col("sup_last") == F.col("ord_last"))
            & (F.col("n_suppliers") > 1)
            & (F.col("n_last") == 1)
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "extract_procedure_pages_fixture",
    oracle="""
    SELECT * FROM (VALUES
        ('99213', 'ok'),
        ('J0120', 'ok'),
        ('XXXXX', 'error_404'),
        ('J9999', 'deleted_listing'),
        ('0001M', 'deleted'),
        ('0042T', 'ok'),
        ('NOFIX', 'fetch_error')
    ) AS t(code, status)
    """,
)
def extract_procedure_pages_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's CORE operator — fetch → parse → three-output
    extraction (``operators/extract.py``, reference
    ``procedure_code.py:221-661``) — in the driver gate, driven by the
    committed fixture pages (all six page variants: normal CPT/HCPCS,
    404, deleted, deleted-listing, empty-tabs, plus a fetch failure).
    The oracle pins the per-code status outcomes as a VALUES literal —
    golden results for the one operator whose semantics no SQL can
    express (HTML parsing), so the gate still hash-checks it instead
    of falling back to rows-only."""
    import functools

    from ..operators.extract import extract_procedure_pages
    from ..schemas import CODES_INPUT_SCHEMA
    from ..sources.fetcher import FixtureFetcher

    fixdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests",
        "fixtures",
    )
    pages = {}
    for code, name in {
        "99213": "cpt_normal.html",
        "J0120": "hcpcs_normal.html",
        "XXXXX": "page_404.html",
        "J9999": "deleted_hcpcs_listing.html",
        "0001M": "deleted_code.html",
        "0042T": "cpt_empty_tabs.html",
    }.items():
        with open(os.path.join(fixdir, name), encoding="utf-8") as handle:
            pages[code] = handle.read()
    urls = {
        "99213": "https://example.test/cpt-codes/99213",
        "0042T": "https://example.test/cpt-codes/0042T",
        "0001M": "https://example.test/cpt-codes/0001M",
        "J0120": "https://example.test/hcpcs-codes/J0120",
        "J9999": "https://example.test/hcpcs-codes/J9999",
    }
    factory = functools.partial(
        FixtureFetcher,
        pages=pages,
        urls=urls,
        base_url="https://example.test/cpt-codes/",
    )
    codes = spark.createDataFrame(
        [(c,) for c in ["99213", "J0120", "XXXXX", "J9999", "0001M", "0042T", "NOFIX"]],
        CODES_INPUT_SCHEMA,
    )
    extracted = extract_procedure_pages(codes, factory)
    return extracted.select("code", "status")


@register(
    "udtf_extract_modifiers_fixture",
    oracle="""
    SELECT * FROM (VALUES
        ('25', 'Significant separately identifiable E/M service'),
        ('59', 'Distinct procedural service')
    ) AS t(modifier, description)
    """,
)
def udtf_extract_modifiers_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-text UDTF surface in the gate: ``LATERAL
    extract_modifiers(html)`` (operators/udtf.py) over the committed
    CPT fixture page, golden rows pinned as a VALUES oracle. Covers
    the one-row→many-rows lateral shape from SQL, complementing the
    mapInPandas path (extract_procedure_pages_fixture)."""
    import uuid

    from ..operators.udtf import register_udtfs

    register_udtfs(spark)
    fixdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tests",
        "fixtures",
    )
    with open(
        os.path.join(fixdir, "cpt_normal.html"), encoding="utf-8"
    ) as handle:
        html = handle.read()
    view = f"udtf_gate_pages_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([("99213", html)], "code string, html string").createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT m.* FROM {view}, LATERAL extract_modifiers(html) m"
    )
