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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import local_relation
from .similarity import (
    _FIXED_SHIFT,
    _UNIT_GRID,
    _adc_rerank,
    _as_queries,
    _encode_ivfpq,
    _grid_dists,
    _int_lut,
    _int_sq_dists,
    _ivf_cell_udf,
    _nearest_cells,
    _pq_int_codecs,
    _train_ivf_int,
    _train_pq_int,
    _train_vectors_by_id,
    _unit_fixed,
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

    Training and encode are the unrotated
    :func:`..similarity.cosine_topk_ivfpq`'s own helpers (md5-seeded
    INTEGER Lloyd for both quantizers), and the meta stores the integer
    centroids/codebook, so serves and a SQL oracle all re-derive
    identical structures from the corpus."""
    train = _train_vectors_by_id(corpus)
    codebook = _train_pq_int(train, _UNIT_GRID, 64, max_iter)
    centroids = _train_ivf_int(train, _unit_fixed, num_centroids, max_iter)
    codes_udf, _ = _pq_int_codecs(codebook, _UNIT_GRID)
    coded = _encode_ivfpq(
        corpus, _ivf_cell_udf(_grid_dists(centroids, _unit_fixed)), codes_udf
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
        "codebook": codebook.tolist(),
        "m": 8,
        "sub": int(codebook.shape[1]),
        "codebook_size": len(codebook),
        "num_centroids": num_centroids,
        "dim": int(train[1].shape[1]),
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
    q_side = _as_queries(queries)
    # the probe/re-rank relations are rebuilt driver-side, so they must
    # carry the CALLER's id type — hard-coding bigint would crash a
    # string-id corpus (the one-shot operators and the distributed twin
    # are id-type agnostic; this path must be too)
    id_type = dict(q_side.dtypes)["query_id"]
    q_rows = q_side.collect()
    if not q_rows:
        raise ValueError("empty query set")
    qids = [r["query_id"] for r in q_rows]
    # the stored quantizers are integer — probe and LUT with the same
    # kernels, on the same grid, the build used
    QU = _unit_fixed(np.asarray([r["qv"] for r in q_rows], dtype=np.float64))
    luts = _int_lut(QU, np.asarray(meta["codebook"], dtype=np.int64), _FIXED_SHIFT)
    probe_cells = _nearest_cells(
        _int_sq_dists(QU, np.asarray(meta["centroids"], dtype=np.int64)), nprobe
    )

    # Arrow-built local relations: LocalTableScans, not PythonRDD scans
    # that would run Python-worker tasks over these driver-held rows
    probe_rows = [
        (qid, [int(x) for x in lut], int(cell))
        for qid, lut, cells in zip(qids, luts, probe_cells)
        for cell in cells
    ]
    probes = local_relation(
        spark,
        f"query_id {id_type}, lut array<bigint>, cell int",
        *map(list, zip(*probe_rows)),
    )
    cells_needed = sorted({int(c) for row in probe_cells for c in row})

    coded = spark.read.parquet(path.rstrip("/") + "/coded").where(
        F.col("cell").isin(cells_needed)  # static partition pruning
    )
    return _adc_rerank(
        coded.select(F.col("id").alias("neighbor_id"), "cell", "codes").join(
            F.broadcast(probes), "cell"
        ),
        coded.select(F.col("id").alias("neighbor_id"), F.col("vector").alias("cv")),
        local_relation(
            spark,
            f"query_id {id_type}, qv array<double>",
            qids,
            [[float(x) for x in r["qv"]] for r in q_rows],
        ),
        k,
        len(meta["codebook"]),
    )
