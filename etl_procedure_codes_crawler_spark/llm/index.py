"""Persisted IVF+PQ vector index: build once, query many.

The in-memory ANN operators (:mod:`.similarity`) train quantizers per
call — right for ad-hoc analytics, wrong for serving: at corpus scale
an index is BUILT once (train, encode, lay out), then queried many
times. This module persists the composed
IVF+PQ structure as plain parquet:

    <path>/meta/    one JSON row: centroids, codebook, m, sub, dims
    <path>/coded/   (id, codes, vector) PARTITIONED BY cell

The cell partitioning is the point: a query probes ``nprobe`` of
``num_centroids`` cells, and because probe cells are computed
driver-side (the query set is small by construction), the scan carries
a static ``cell IN (...)`` predicate — **partition pruning skips the
un-probed cells' files entirely**, so query cost scales with
``nprobe/num_centroids`` of the index at the FILE level, not just the
compute level. The exact vectors ride along in the coded table but in
a separate parquet column: the ADC scoring pass never reads them
(column pruning), only the final shortlist re-rank scan does.

Determinism contract: building with the same corpus/params and
querying equals the one-shot :func:`..similarity.cosine_topk_ivfpq`
output exactly (same sample, same Lloyd iterations, same tie rules) —
pinned in tests/test_ann_index.py.
"""

from __future__ import annotations

import json

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .similarity import (
    _FIXED_SHIFT,
    _adc_score,
    _dot,
    _int_matmul,
    _int_sq_dists,
    _ivf_cell_int_udf,
    _kmeans_int,
    _md5_h60_py,
    _pq_int_context,
    _quantize_np,
    _train_vectors_by_id,
    _unit_seq_np,
    with_norm,
)


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    max_iter: int = 5,
) -> None:
    """Train quantizers (bounded driver-side sample), encode the corpus
    in ONE pass (Arrow-batched cell+codes), and lay it out partitioned
    by cell. The encode scan is the only full pass over the corpus;
    everything else is metadata-sized.

    Both quantizers run md5-seeded INTEGER Lloyd
    (similarity._kmeans_int) and the meta stores the integer
    centroids/codebook, so serves and a SQL oracle all re-derive
    identical structures from the corpus."""
    from .text import spread_small_input

    ids, train_X = _train_vectors_by_id(corpus, 1 << 16)
    codebook, codes_udf, _lut_udf = _pq_int_context(
        corpus, 64, max_iter, train_data=(ids, train_X)
    )
    keys = [(_md5_h60_py(f"km:{int(i)}"), int(i)) for i in ids]
    centroids = _kmeans_int(
        _quantize_np(_unit_seq_np(train_X)), keys, num_centroids, max_iter
    )
    cell_udf = _ivf_cell_int_udf(centroids, normalize=True)

    coded = spread_small_input(
        corpus.select(
            F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
        )
    ).select(
        "id",
        "vector",
        F.coalesce(cell_udf(F.col("vector")), F.lit(-1)).alias("cell"),
        codes_udf(F.col("vector")).alias("codes"),
    )
    # repartition on cell before the partitioned write: without it,
    # every encode task writes a file into every cell directory
    # (tasks × cells small files — the classic partitionBy explosion);
    # with it each cell's rows land in one task → one file per cell
    # per build. The shuffle this adds is the index's ONE full-data
    # movement — the price of the pruned layout.
    (
        coded.repartition(num_centroids, "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path.rstrip("/") + "/coded")
    )

    meta = {
        "centroids": centroids.tolist(),
        "codebook": np.asarray(codebook).tolist(),
        "m": 8,
        "sub": int(np.asarray(codebook).shape[1]),
        "codebook_size": 64,
        "num_centroids": num_centroids,
        "dim": int(train_X.shape[1]),
    }
    spark = corpus.sparkSession
    # repartition(1), not coalesce(1): a coalesced one-row local
    # relation takes ~5 s per write in this session (AQE interplay)
    # vs ~0.5 s through the one-row shuffle — measured, not guessed
    spark.createDataFrame(
        [(json.dumps(meta),)], "meta string"
    ).repartition(1).write.mode("overwrite").parquet(
        path.rstrip("/") + "/meta"
    )


def load_index_meta(spark: SparkSession, path: str) -> dict:
    row = spark.read.parquet(path.rstrip("/") + "/meta").first()
    return json.loads(row["meta"])


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k against the persisted index. The query side is collected
    (a serving query set is small by construction) and its probe
    cells / ADC lookup tables are computed in one numpy pass; the
    resulting static ``cell IN (...)`` predicate PARTITION-PRUNES the
    coded scan to the probed cells' files. ADC scoring reads only
    (id, codes) — column pruning keeps the vectors on disk — and the
    exact re-rank re-reads just (id, vector) of the probed cells for
    the shortlist join. Same output contract as
    :func:`..similarity.cosine_topk_ivfpq`."""
    meta = load_index_meta(spark, path)
    m, sub, K = meta["m"], meta["sub"], meta["codebook_size"]

    q_side = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    # the probe/re-rank relations are rebuilt driver-side, so they must
    # carry the CALLER's id type — hard-coding bigint would crash a
    # string-id corpus (the one-shot operators and the distributed twin
    # are id-type agnostic; this path must be too)
    id_type = dict(q_side.dtypes)["query_id"]
    q_rows = q_side.collect()
    if not q_rows:
        raise ValueError("empty query set")
    qids = [r["query_id"] for r in q_rows]
    raw_Q = np.asarray([r["qv"] for r in q_rows], dtype=np.float64)
    # the stored quantizers are integer — probe and LUT in the same
    # exact int64 arithmetic the build used
    G = np.asarray(meta["centroids"], dtype=np.int64)
    C = np.asarray(meta["codebook"], dtype=np.int64)
    QU = _quantize_np(_unit_seq_np(raw_Q))
    luts = _int_matmul(
        (QU - _FIXED_SHIFT).reshape(len(QU), m, sub),
        (C - _FIXED_SHIFT).T,
    ).reshape(len(QU), -1)
    order = np.argsort(_int_sq_dists(QU, G), axis=1, kind="stable")
    probe_cells = order[:, :nprobe]

    probes = spark.createDataFrame(
        [
            (qid, [int(x) for x in lut], int(cell))
            for qid, lut, cells in zip(qids, luts, probe_cells)
            for cell in cells
        ],
        f"query_id {id_type}, lut array<bigint>, cell int",
    )
    cells_needed = sorted({int(c) for row in probe_cells for c in row})

    coded = spark.read.parquet(path.rstrip("/") + "/coded").where(
        F.col("cell").isin(cells_needed)  # static partition pruning
    )
    adc = _adc_score(F.col("codes"), m, K)
    pairs = (
        coded.select("id", "cell", "codes")
        .join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("id"))
        .select(
            "query_id", F.col("id").alias("neighbor_id"), adc.alias("adc_score")
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    short = (
        pairs.withColumn("_arank", F.row_number().over(w_adc))
        .filter(F.col("_arank") <= k * 10)
        .select("query_id", "neighbor_id")
    )
    cn = with_norm(
        coded.select(F.col("id").alias("neighbor_id"), F.col("vector").alias("cv")),
        "cv",
    ).withColumnRenamed("_norm", "cn")
    qn = with_norm(
        spark.createDataFrame(
            [(qid, [float(x) for x in r["qv"]]) for qid, r in zip(qids, q_rows)],
            f"query_id {id_type}, qv array<double>",
        ),
        "qv",
    ).withColumnRenamed("_norm", "qn")
    reranked = (
        cn.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 4).alias("cosine"),
            "rank",
        )
    )
