"""Tests for the training-data-pipeline extensions: text analysis,
dedup (Jaccard / MinHash-LSH / SimHash / embedding), similarity search,
multimodal plumbing (SURVEY §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD
from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM
from climate_anomaly_bigdata_pipeline_spark.operators import similarity as SIM
from climate_anomaly_bigdata_pipeline_spark.operators import text as TX
from tests.oracle_utils import run_check

NORTHSTAR_QUERIES = [
    "term_frequency_top50",
    "doc_quality_scores",
    "lang_id_heuristic",
    "fingerprint_duplicates",
    "ngram_jaccard_pairs",
    "minhash_lsh_candidates",
    "simhash_signatures",
    "embedding_neardup_pairs",
    "cosine_topk",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "multimodal_binary_profile",
]


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "one two")], "doc_id int, text string")
    [row] = df.select(DD.shingles_expr("text", 3).alias("sh")).collect()
    assert row["sh"] == []


def test_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        "doc_id int, text string",
    )
    rows = DD.jaccard_pairs(df, threshold=0.9).collect()
    assert [(r["id1"], r["id2"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_minhash_lsh_finds_identical(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "p q r s t u v w")],
        "doc_id int, text string",
    )
    sig = DD.minhash_signatures(df, k=8)
    pairs = {(r["id1"], r["id2"]) for r in DD.lsh_candidates(sig, k=8, bands=2).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_lsh_degenerate_corpus_bounded(spark):
    """A corpus of hundreds of identical documents lands in one LSH
    bucket; the bucket cap must bound the pair expansion to C(cap, 2)
    from the cap smallest ids."""
    docs = [(i, "the same boilerplate text repeated everywhere always")
            for i in range(500)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    sig = DD.minhash_signatures(df, k=8)
    pairs = DD.lsh_candidates(sig, k=8, bands=2, max_bucket_size=10).collect()
    assert len(pairs) == 45  # C(10, 2): bounded, not C(500, 2)=124750
    kept_ids = {r["id1"] for r in pairs} | {r["id2"] for r in pairs}
    assert kept_ids == set(range(10))  # deterministic: smallest ids win


def test_simhash_identical_docs_equal(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in DD.simhash(df).collect()}
    assert out[1] == out[2]
    assert 0 <= out[1] < (1 << 16)


def test_cosine_topk_finds_duplicate_vector(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
            (3, [0.7, 0.7, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = SIM.cosine_topk(df, query_id=0, k=2).collect()
    assert top[0]["neighbor_id"] == 1 and top[0]["cosine"] == pytest.approx(1.0)
    assert top[1]["neighbor_id"] == 3


def test_lsh_bucket_contains_identical(spark):
    rows = [(i, [float(i % 3 == j) for j in range(6)]) for i in range(9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bucketed = SIM.with_lsh_bucket(df, n_planes=3)
    b = {r["vec_id"]: r["bucket"] for r in bucketed.collect()}
    assert b[0] == b[3] == b[6]  # identical vectors share a bucket


def test_multimodal_compressed_decode_stub_raises(spark):
    """Payloads that would need a compressed-format codec (anything
    that isn't PNM) still surface the clearly-marked stub error — at
    execution time, since the decode runs inside mapInPandas."""
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(Exception, match="STUB"):
        MM.decode_image(MM.attach_binary(docs)).collect()


def test_quality_score_buckets(spark):
    df = spark.createDataFrame(
        [
            (1, "tiny doc"),  # < 10 tokens -> LOW
            (2, " ".join(["the word grid"] * 20)),  # long + stopwords -> HIGH
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["quality"] for r in TX.quality_score(TX.token_stats(df)).collect()}
    assert out == {1: "LOW", 2: "HIGH"}


@pytest.mark.parametrize("name", NORTHSTAR_QUERIES)
def test_oracle_northstar(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, msg


def test_ivf_probes_superset_of_bruteforce_within_cells(spark, sf_oracle_dir):
    """IVF results must equal brute-force cosine restricted to the
    probed cells, and every returned cell must be one of the codebook
    ids (0..7 on this fixture)."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import similarity as SIM

    emb = Catalog(spark, sf_oracle_dir).embeddings
    ivf = SIM.ivf_topk(emb, query_id=7, k=10, n_centroids=8, nprobe=2).collect()
    assert len(ivf) == 10
    assert {r["cell"] for r in ivf} <= set(range(8))
    # Scores must agree with the exact brute-force scores for the same
    # neighbors (IVF changes the candidate set, never the metric).
    brute = {
        r["neighbor_id"]: r["cosine"]
        for r in SIM.cosine_topk(emb, query_id=7, k=500).collect()
    }
    for r in ivf:
        assert r["cosine"] == brute[r["neighbor_id"]]


def test_grid_blocked_neardup_equals_bruteforce(spark, sf_dir):
    """Lossless grid blocking (cosine>=t => adjacent normalized-coord
    cells) must reproduce the brute-force pair set exactly."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    emb = (
        Catalog(spark, sf_dir)
        .embeddings.filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", "embedding")
    )
    corpus = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    for t in (0.99, 0.9):
        brute = {
            tuple(r)
            for r in DD.embedding_neardup_pairs(corpus, threshold=t, block_dims=0)
            .select("id1", "id2")
            .collect()
        }
        blocked = {
            tuple(r)
            for r in DD.embedding_neardup_pairs(corpus, threshold=t, block_dims=2)
            .select("id1", "id2")
            .collect()
        }
        assert brute == blocked
        assert len(brute) > 0  # duplicated corpus must produce pairs
