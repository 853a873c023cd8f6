"""ANN serving: top-k vector search for a batch of query vectors
against a static corpus, IVF-pruned by the offline codebook artifact.

The reference has no vector or streaming surface (it is a 3-job batch
ETL — see SURVEY.md §2.8); this is an engine extension composing two
existing pieces into the online-retrieval serving shape:

- the IVF codebook trained offline (`operators/similarity.py:
  train_ivf_codebook`, persisted as parquet by queries/similarityq.py)
  acts as the coordinator-side quantizer — a bounded
  O(n_centroids × dim) literal, never a shuffle;
- each batch of query vectors is broadcast against the cell-assigned
  corpus (assigned ONCE, reused across batches), scored only inside
  the probed cells, and ranked top-k per query.

Per-query top-k needs a ranking window over candidates, so serving
works on bounded query batches (a query stream is served one
micro-batch at a time) — the same reason real vector stores serve
per-request. Inside the batch the plan is the co-partitionable cell
equi-join of ``ivf_knn_join``: at 100 TB the corpus is written
partitioned by cell, a query batch touches nprobe/n_centroids of it,
and nothing but (query, candidate-id, score) triples ever moves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators.similarity import (
    _cand_cell_structs,
    assign_cells,
    dot_expr,
    with_cell_candidates,
)


def assign_corpus_cells(
    corpus: DataFrame,
    codebook: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Home-cell assignment of the static corpus — run ONCE, cache (or
    persist partitioned by ``cell``) and reuse across every query batch.
    Row-local (GEMM candidates + exact-fold rescore — the
    with_cell_candidates contract, bit-identical to evaluating every
    centroid): no shuffle."""
    e = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("norm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    return assign_cells(e, codebook)


def ann_serve_batch(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    codebook: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    corpus_id_col: str = "vec_id",
) -> DataFrame:
    """Serve one batch of query vectors against the cell-assigned
    corpus: probe each query's ``nprobe`` nearest cells, score only
    those cells' members, rank top-k per query.

    The query batch is the bounded side — broadcast — so the corpus
    side never shuffles; the ranking shuffle moves only
    (query_id, neighbor_id, cosine) triples. Ties break by
    (cosine desc, neighbor_id asc), the contract shared with
    ``ivf_topk``/``knn_join``.
    """
    from pyspark.sql import Window

    # The quantizer expression reads columns named v/norm — build the
    # query side under those names, assign, then alias for the join.
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).cast("array<double>").alias("v"),
    ).withColumn("norm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    # Probe-cell selection is row-local on the (broadcast) query side:
    # GEMM candidate cells, exact-rescored + sorted, first nprobe.
    probes = with_cell_candidates(q, codebook, topn=max(nprobe, 1)).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.reverse(F.array_sort(_cand_cell_structs(codebook))),
                    1,
                    nprobe,
                ),
                lambda s: s.getField("i"),
            )
        ),
    ).select(
        "query_id",
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
        "cell",
    )
    scored = (
        assigned_corpus.join(F.broadcast(probes), "cell")
        .select(
            "query_id",
            F.col(corpus_id_col).alias("neighbor_id"),
            (
                dot_expr(F.col("v"), F.col("qv"))
                / (F.col("norm") * F.col("qnorm"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
