"""Cross-session ANN artifact store (VERDICT r5 item 4): trained IVF /
PQ codebooks persist as Parquet and later sessions reload them with
ZERO training jobs — proven by monkeypatching the trainers to explode
on the reload path."""

from __future__ import annotations

import os

import pytest

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import similarity as SIM
from climate_anomaly_bigdata_pipeline_spark.queries import similarityq as SQ
from climate_anomaly_bigdata_pipeline_spark.sources import artifacts as ART

@pytest.fixture
def fresh_store(tmp_path, monkeypatch):
    """Empty artifact dir + cleared process memos, restored after."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path))
    saved_ivf, saved_pq = dict(SQ._CODEBOOKS), dict(SQ._PQ_BOOKS)
    SQ._CODEBOOKS.clear()
    SQ._PQ_BOOKS.clear()
    yield str(tmp_path)
    SQ._CODEBOOKS.clear()
    SQ._PQ_BOOKS.clear()
    SQ._CODEBOOKS.update(saved_ivf)
    SQ._PQ_BOOKS.update(saved_pq)


def test_ivf_artifact_roundtrip(tmp_path):
    book = [(3, [0.5, -1.25, 2.0]), (7, [1.0, 0.0, -0.0625])]
    path = str(tmp_path / "ivf.parquet")
    ART.save_ivf(book, path)
    assert ART.load_ivf(path) == book


def test_pq_artifact_roundtrip(tmp_path):
    books = [
        (0, [(0, [0.5, 1.5]), (1, [-2.0, 0.25])]),
        (1, [(0, [3.0, -1.0]), (1, [0.125, 8.0])]),
    ]
    path = str(tmp_path / "pq.parquet")
    ART.save_pq(books, path)
    assert ART.load_pq(path) == books


def test_missing_artifact_loads_none(tmp_path):
    assert ART.load_ivf(str(tmp_path / "nope.parquet")) is None
    assert ART.load_pq(str(tmp_path / "nope.parquet")) is None


def test_second_session_reloads_ivf_without_training(
    spark, sf_dir, fresh_store, monkeypatch
):
    trained = SQ._ivf_codebook(spark, sf_dir)  # session 1: trains + persists
    assert os.listdir(fresh_store)

    # "Session 2": fresh memo; training is forbidden.
    SQ._CODEBOOKS.clear()

    def boom(*a, **k):
        raise AssertionError("reload path must not train")

    monkeypatch.setattr(SIM, "train_ivf_codebook", boom)
    reloaded = SQ._ivf_codebook(spark, sf_dir)
    assert reloaded == trained


def test_second_session_reloads_pq_without_training(
    spark, sf_dir, fresh_store, monkeypatch
):
    trained = SQ._pq_books(spark, sf_dir)
    SQ._PQ_BOOKS.clear()

    def boom(*a, **k):
        raise AssertionError("reload path must not train")

    monkeypatch.setattr(SIM, "train_pq_codebooks", boom)
    reloaded = SQ._pq_books(spark, sf_dir)
    assert reloaded == trained


def test_corpus_fingerprint_binds_artifact_to_data(spark, tmp_path):
    """The artifact path follows the corpus' file listing: a different
    corpus (different embeddings size/mtime) keys to a different
    artifact path, the same listing to the same path."""
    d1, d2 = tmp_path / "sfA", tmp_path / "sfB"
    for d, payload in ((d1, b"x" * 10), (d2, b"y" * 20)):
        d.mkdir()
        (d / "embeddings.parquet").write_bytes(payload)
    k1 = Catalog(spark, str(d1)).fingerprint("embeddings")
    k2 = Catalog(spark, str(d2)).fingerprint("embeddings")
    assert ART.ivf_path(k1, 16, 2, 4) != ART.ivf_path(k2, 16, 2, 4)
    assert ART.ivf_path(k1, 16, 2, 4) == ART.ivf_path(
        Catalog(spark, str(d1)).fingerprint("embeddings"), 16, 2, 4
    )
    # Same corpus, different hyperparameters → different artifact.
    assert ART.ivf_path(k1, 16, 2, 4) != ART.ivf_path(k1, 8, 2, 4)
    assert ART.pq_path(k1, 8, 16, 1, 4) != ART.pq_path(k2, 8, 16, 1, 4)


def test_directory_corpus_rewritten_in_place_retrains_codebook(
    spark, sf_dir, fresh_store, tmp_path
):
    """A directory-form embeddings table whose part file is rewritten in
    place (same name, same row count, so the same centroid count) must
    not be served the codebook trained on the old rows: the directory's
    own size and mtime do not change, its listing does."""
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    part = d / "embeddings.parquet" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    full = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(full.slice(0, 100), str(part))
    old = SQ._ivf_codebook(spark, str(d))

    pq.write_table(full.slice(100, 100), str(part))
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    new = SQ._ivf_codebook(spark, str(d))

    want = SIM.train_ivf_codebook(
        Catalog(spark, str(d)).embeddings,
        len(old),
        SQ._TRAIN_ITERS,
        sample_mod=SQ._TRAIN_SAMPLE_MOD,
    )
    assert new == want
    assert new != old
    assert len([f for f in os.listdir(fresh_store) if f.startswith("ivf_")]) == 2


def test_corpus_rewritten_in_place_is_served_anew(
    spark, sf_dir, fresh_store, tmp_path
):
    """The in-process memos follow the corpus' file listing, not its
    path: rewriting ``embeddings.parquet`` in place (400 → 500 rows,
    so 20 → 22 centroids) must not serve the old count or codebook."""
    import pyarrow.parquet as pq

    from tests.oracle_utils import run_check

    d = tmp_path / "corpus"
    d.mkdir()
    full = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    for rows in (400, full.num_rows):
        pq.write_table(full.slice(0, rows), str(d / "embeddings.parquet"))
        ok, msg = run_check(spark, "ivf_ann_topk", str(d))
        assert ok, f"{rows} rows: {msg}"


def test_corpus_memo_stays_bounded(spark, tmp_path):
    from collections import OrderedDict

    memo = OrderedDict()
    for i in range(SQ._MAX_CORPORA + 3):
        d = tmp_path / f"corpus{i}"
        d.mkdir()
        (d / "embeddings.parquet").write_bytes(b"x")
        assert SQ._corpus_memo(memo, spark, str(d), lambda key: i) == i
    assert len(memo) == SQ._MAX_CORPORA
