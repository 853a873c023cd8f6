"""ANN batch serving (streaming/vector_serve.py): it must (a) be EXACT
when probing every cell, matching a numpy brute-force oracle, and (b)
actually prune to the probed cells when nprobe < n_centroids."""

from __future__ import annotations

import numpy as np

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators.similarity import (
    train_ivf_codebook,
)
from climate_anomaly_bigdata_pipeline_spark.streaming import vector_serve as VS

N_CENTROIDS = 4


def _fixture(spark, sf):
    emb = Catalog(spark, sf).embeddings
    cents = train_ivf_codebook(emb, N_CENTROIDS, 0)
    assigned = VS.assign_corpus_cells(emb, cents).localCheckpoint()
    qpdf = (
        emb.limit(8)
        .select("vec_id", "embedding")
        .toPandas()
        .rename(columns={"vec_id": "query_id", "embedding": "qvec"})
    )
    queries = spark.createDataFrame(qpdf)
    return cents, assigned, qpdf, queries


def _brute_topk(emb_pdf, qpdf, k):
    ids = emb_pdf["vec_id"].to_numpy()
    m = np.array([list(v) for v in emb_pdf["embedding"]], dtype=np.float64)
    norms = np.sqrt((m * m).sum(axis=1))
    want = set()
    for _, qrow in qpdf.iterrows():
        qv = np.array(list(qrow["qvec"]), dtype=np.float64)
        cos = (m @ qv) / (norms * np.sqrt(qv @ qv))
        order = sorted(zip(-cos, ids))  # cosine desc, id asc
        for rank, (_, nid) in enumerate(order[:k], start=1):
            want.add((int(qrow["query_id"]), int(nid), rank))
    return want


def test_full_probe_serving_is_exact(spark, sf_oracle_dir):
    cents, assigned, qpdf, queries = _fixture(spark, sf_oracle_dir)
    out = VS.ann_serve_batch(
        queries, assigned, cents, k=5, nprobe=N_CENTROIDS
    )
    got = {(r.query_id, r.neighbor_id, r.rank) for r in out.collect()}
    emb_pdf = Catalog(spark, sf_oracle_dir).embeddings.toPandas()
    assert got == _brute_topk(emb_pdf, qpdf, k=5)


def test_partial_probe_only_scores_probed_cells(spark, sf_oracle_dir):
    cents, assigned, qpdf, queries = _fixture(spark, sf_oracle_dir)
    out = VS.ann_serve_batch(queries, assigned, cents, k=5, nprobe=1)
    cell_of = {
        r[0]: r.cell
        for r in assigned.select(assigned.columns[0], "cell").collect()
    }
    home = {q: cell_of[q] for q in qpdf["query_id"]}
    for r in out.collect():
        # nprobe=1 probes exactly the query's home cell (the quantizer
        # is identical on both sides), so every neighbor shares it.
        assert cell_of[r.neighbor_id] == home[r.query_id]
