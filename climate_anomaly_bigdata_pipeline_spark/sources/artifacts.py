"""Cross-session ANN artifact store: trained codebooks persisted as
Parquet and reloaded without re-running a single training job.

At 100 TB the IVF coarse quantizer and the PQ codebooks are OFFLINE
artifacts — a training job writes them as tiny tables; every serving
query (here and on every other session/executor fleet) just reads
them. The in-process memo in ``queries/similarityq.py`` gives that
shape within one session; this module extends it across sessions:

* first train → Parquet file under ``$SPARK_GRAFT_ARTIFACT_DIR``
  (default ``<repo>/.artifacts``), written atomically (tmp + rename)
  so concurrent bench/test processes never see a torn file;
* later sessions → loaded with pyarrow (zero Spark jobs, zero
  training passes over the corpus).

Keys bind the artifact to corpus + recipe: a hash of the embeddings
table's ``(file, size, mtime)`` listing (``Catalog.fingerprint``, the
same key the in-process memo uses) plus the training hyperparameters.
A regenerated corpus, a part file rewritten in place or a corpus on
any Hadoop file system therefore gets a new key and retrains — stale
artifacts are never served.

The artifacts are deliberately stored in the same long format the
DuckDB oracles emit (``cid/pos/val`` and ``sub/code/pos/val``): the
file IS the oracle-checkable table, so ``ivf_train_codebook`` /
``pq_train_codebooks`` remain the determinism gate for what this
store holds.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

# list[(cell_id, centroid_vector)]
IvfCodebook = list[tuple[int, list[float]]]
# list[(sub, list[(code, centroid_subvec)])]
PQCodebooks = list[tuple[int, list[tuple[int, list[float]]]]]


def artifact_dir() -> str:
    d = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if not d:
        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        d = os.path.join(repo, ".artifacts")
    os.makedirs(d, exist_ok=True)
    return d


def _path(kind: str, corpus_key: tuple, params: str) -> str:
    digest = hashlib.md5(repr(corpus_key).encode()).hexdigest()[:16]
    return os.path.join(artifact_dir(), f"{kind}_{digest}_{params}.parquet")


def _atomic_write(table: pa.Table, path: str) -> None:
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), suffix=".parquet.tmp"
    )
    os.close(fd)
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


# ---- IVF coarse codebook ----------------------------------------------------


def ivf_path(corpus_key: tuple, n_centroids: int, n_iters: int, sample_mod) -> str:
    return _path("ivf", corpus_key, f"c{n_centroids}_i{n_iters}_s{sample_mod}")


def save_ivf(codebook: IvfCodebook, path: str) -> None:
    cids, poss, vals = [], [], []
    for cid, vec in codebook:
        for pos, val in enumerate(vec):
            cids.append(cid)
            poss.append(pos)
            vals.append(val)
    _atomic_write(
        pa.table(
            {
                "cid": pa.array(cids, pa.int64()),
                "pos": pa.array(poss, pa.int32()),
                "val": pa.array(vals, pa.float64()),
            }
        ),
        path,
    )


def load_ivf(path: str) -> IvfCodebook | None:
    if not os.path.exists(path):
        return None
    t = pq.read_table(path).to_pydict()
    by_cid: dict[int, dict[int, float]] = {}
    for cid, pos, val in zip(t["cid"], t["pos"], t["val"]):
        by_cid.setdefault(cid, {})[pos] = val
    return [
        (cid, [d[p] for p in range(len(d))])
        for cid, d in sorted(by_cid.items())
    ]


# ---- PQ per-subspace codebooks ----------------------------------------------


def pq_path(corpus_key: tuple, m: int, k: int, n_iters: int, sample_mod) -> str:
    return _path("pq", corpus_key, f"m{m}_k{k}_i{n_iters}_s{sample_mod}")


def save_pq(books: PQCodebooks, path: str) -> None:
    subs, codes, poss, vals = [], [], [], []
    for sub, cents in books:
        for code, vec in cents:
            for pos, val in enumerate(vec):
                subs.append(sub)
                codes.append(code)
                poss.append(pos)
                vals.append(val)
    _atomic_write(
        pa.table(
            {
                "sub": pa.array(subs, pa.int64()),
                "code": pa.array(codes, pa.int64()),
                "pos": pa.array(poss, pa.int32()),
                "val": pa.array(vals, pa.float64()),
            }
        ),
        path,
    )


def load_pq(path: str) -> PQCodebooks | None:
    if not os.path.exists(path):
        return None
    t = pq.read_table(path).to_pydict()
    by_sub: dict[int, dict[int, dict[int, float]]] = {}
    for sub, code, pos, val in zip(t["sub"], t["code"], t["pos"], t["val"]):
        by_sub.setdefault(sub, {}).setdefault(code, {})[pos] = val
    return [
        (
            sub,
            [
                (code, [d[p] for p in range(len(d))])
                for code, d in sorted(cents.items())
            ],
        )
        for sub, cents in sorted(by_sub.items())
    ]
