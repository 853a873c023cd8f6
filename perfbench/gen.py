"""Seeded input generation for the benchmark.

Every input a workload reads is made here from ``--seed``; the program
under test only ever sees the files written below. The same
``(seed, scale)`` gives byte-identical files; another seed gives other
contents with the same sizes and distributions, so timings from
different seeds are comparable.

* :func:`write_tables` — the ten-table star schema the query registry
  reads (TPC-H-like tables + ``events`` + ``documents`` +
  ``embeddings``), with row counts ``scale`` x the sf1 counts.
* :func:`write_corpus_variant` — one curation corpus variant: the base
  documents/embeddings with per-variant text suffixes and embedding
  noise (the replica recipe of ``tools/gen_scale_data.py``), so a fresh
  variant defeats every per-corpus cache, IVF/PQ codebooks included.
* :func:`write_climate_text` — Berkeley-Earth daily text and GHCND
  fixed-width station text for the medallion ingest, with a seeded
  share (:data:`BAD_SHARE`) of malformed rows (exactly one unparsable
  field each).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale 1 (TPC-H sf1 ratios; events/documents/
#: embeddings follow the repo testdata's per-sf counts).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64
ROW_GROUP = 65_536


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream): adding a table never
    shifts another table's random draws."""
    key = hashlib.md5(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(key[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=ROW_GROUP)


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _n(name: str, scale: float) -> int:
    return max(10, int(round(ROWS_AT_SF1[name] * scale)))


def _strs(fmt: str, keys: np.ndarray) -> pa.Array:
    return pa.array([fmt % k for k in keys.tolist()], pa.string())


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens.tolist()]
    # ~5% near-duplicates (an earlier doc + " dup") and a handful of
    # exact duplicates: the structure the dedup operators look for.
    for i in np.flatnonzero(rng.random(n) < 0.05).tolist():
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002).tolist():
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": _strs("src%d", ids % 20),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.008, (10, EMB_DIM))
    v = rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (n, EMB_DIM)) + centers[labels]
    # ~3% near-duplicate vectors so the near-dup operators have work.
    for i in np.flatnonzero(rng.random(n) < 0.03).tolist():
        if i > 0:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(0.0, 0.01, EMB_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def _embedding_table(vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    lists = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": lists,
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(
    out_dir: str, seed: int, scale: float, only: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the registry tables (all ten, or those in ``only``) under
    ``out_dir``; returns row counts. Each table's draws depend only on
    (seed, table), so ``only`` never changes a table's bytes."""
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def emit(name: str, table) -> None:
        if only is not None and name not in only:
            return
        if callable(table):
            table = table()
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    emit(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
    )
    emit(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    n_cust, n_supp, n_part = (_n(t, scale) for t in ("customer", "supplier", "part"))
    n_ord, n_li = _n("orders", scale), _n("lineitem", scale)

    r = _rng(seed, "customer")
    keys = np.arange(n_cust, dtype=np.int64)
    emit(
        "customer",
        pa.table(
            {
                "c_custkey": keys,
                "c_name": _strs("Customer#%09d", keys),
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": r.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ).tolist(),
            }
        ),
    )
    r = _rng(seed, "supplier")
    keys = np.arange(n_supp, dtype=np.int64)
    emit(
        "supplier",
        pa.table(
            {
                "s_suppkey": keys,
                "s_name": _strs("Supplier#%09d", keys),
                "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
    )
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    adj = np.array(["blue", "cold", "hot", "large", "old", "red", "shiny", "small"])
    noun = np.array(["anvil", "bolt", "gizmo", "gear", "plate", "ring", "valve", "widget"])
    emit(
        "part",
        pa.table(
            {
                "p_partkey": keys,
                "p_name": np.char.add(
                    np.char.add(r.choice(adj, n_part), " "), r.choice(noun, n_part)
                ).tolist(),
                "p_brand": _strs("Brand#%d", r.integers(1, 26, n_part)),
                "p_type": r.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ).tolist(),
                "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": 900.0 + (keys % 1000) / 10.0,
            }
        ),
    )
    r = _rng(seed, "orders")
    emit(
        "orders",
        pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
                "o_orderstatus": r.choice(["F", "O", "P"], n_ord).tolist(),
                "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": _days(r, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                "o_orderpriority": r.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_ord,
                ).tolist(),
            }
        ),
    )
    r = _rng(seed, "lineitem")
    emit(
        "lineitem",
        pa.table(
            {
                "l_orderkey": r.integers(0, n_ord, n_li, dtype=np.int64),
                "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
                "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
                "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
                "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_li), 2),
                "l_discount": r.integers(0, 11, n_li) / 100.0,
                "l_tax": r.integers(0, 9, n_li) / 100.0,
                "l_returnflag": r.choice(["A", "N", "R"], n_li).tolist(),
                "l_linestatus": r.choice(["F", "O"], n_li).tolist(),
                "l_shipdate": _days(r, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
            }
        ),
    )
    r = _rng(seed, "events")
    n_ev = _n("events", scale)
    n_users = max(10, int(round(15_000 * scale)))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    emit(
        "events",
        pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": start + offs.astype("timedelta64[us]"),
                "user_id": r.integers(0, n_users, n_ev, dtype=np.int64),
                "event_type": r.choice(
                    ["click", "error", "purchase", "signup", "view"], n_ev
                ).tolist(),
                "value": np.round(r.exponential(50.0, n_ev), 2),
                "props": _strs('{"k": %d}', r.integers(0, 100, n_ev)),
            }
        ),
    )
    emit("documents", _documents(_rng(seed, "documents"), _n("documents", scale)))
    vecs, labels = _embeddings(_rng(seed, "embeddings"), _n("embeddings", scale))
    emit("embeddings", _embedding_table(vecs, labels))
    return counts


def write_corpus_variant(base_dir: str, out_dir: str, seed: int, variant: int) -> None:
    """Curation corpus variant ``variant`` of the base tables: texts get
    a ``' r<k>x<h>'`` suffix keyed on a hash of the text (identical
    texts stay identical, so the duplicate structure survives) and
    embeddings get seeded gaussian noise at 2% of their std."""
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
    texts = docs.column("text").to_pylist()
    tag = f"{seed}:{variant}"
    new = [
        t + f" r{variant}x{int(hashlib.md5((tag + t).encode()).hexdigest()[:6], 16) % 997}"
        for t in texts
    ]
    docs = docs.set_column(1, "text", pa.array(new, pa.string())).set_column(
        4, "n_chars", pa.array([len(t) for t in new], pa.int64())
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(base_dir, "embeddings.parquet"))
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    r = _rng(seed, f"variant{variant}")
    vecs = vecs + r.normal(0.0, 0.02 * float(vecs.std()), vecs.shape).astype(np.float32)
    _write(
        _embedding_table(vecs, emb.column("label").to_numpy()),
        os.path.join(out_dir, "embeddings.parquet"),
    )


BERKELEY_HEADER = [
    "% Berkeley Earth daily land-surface temperature anomaly (synthetic)",
    "% Columns: date-number year month day day-of-year anomaly",
    "%",
]

#: Share of malformed text rows (one unparsable field each).
BAD_SHARE = 0.004


def write_climate_text(
    out_dir: str, seed: int, first_year: int, n_stations: int
) -> dict[str, int]:
    """Write ``berkeley/part-000.txt`` (one daily series,
    ``first_year``..2023) and ``ghcnd/stations.txt``. Returns line
    counts: ``berkeley_data`` (non-comment lines), ``berkeley_bad``,
    ``stations``, ``stations_bad``."""
    r = _rng(seed, "climate")
    bdir, sdir = os.path.join(out_dir, "berkeley"), os.path.join(out_dir, "ghcnd")
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(sdir, exist_ok=True)
    days = np.arange(
        np.datetime64(f"{first_year}-01-01"), np.datetime64("2024-01-01")
    )
    years = days.astype("datetime64[Y]").astype(int) + 1970
    months = days.astype("datetime64[M]").astype(int) % 12 + 1
    dom = (days - days.astype("datetime64[M]")).astype(int) + 1
    doy = (days - days.astype("datetime64[Y]")).astype(int) + 1
    datenum = years + (doy - 0.5) / 365.25
    anom = (years - 1950) * 0.012 + r.normal(0.0, 0.8, len(days))
    bad = r.random(len(days)) < BAD_SHARE
    lines = list(BERKELEY_HEADER)
    for i in range(len(days)):
        a = "n/a" if bad[i] else f"{anom[i]:.3f}"
        lines.append(
            f"{datenum[i]:10.3f} {years[i]:5d} {months[i]:5d} {dom[i]:5d} "
            f"{doy[i]:5d} {a:>9}"
        )
    with open(os.path.join(bdir, "part-000.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    counts = {"berkeley_data": len(days), "berkeley_bad": int(bad.sum()),
              "stations": n_stations}
    lat = r.uniform(-60.0, 75.0, n_stations)
    lon = r.uniform(-180.0, 180.0, n_stations)
    elev = r.uniform(-20.0, 3500.0, n_stations)
    states = r.choice(["AK", "CA", "CO", "NY", "TX", "WA", "  "], n_stations)
    bad = r.random(n_stations) < BAD_SHARE
    names = r.choice(np.array(WORDS).astype("U12"), (n_stations, 2))
    lines = []
    for i in range(n_stations):
        la = "   ?.???" if bad[i] else f"{lat[i]:8.4f}"
        name = f"{names[i, 0]} {names[i, 1]} {i}".upper()
        lines.append(
            f"USC{i:08d} {la} {lon[i]:9.4f} {elev[i]:6.1f} {states[i]} {name:<30}"
        )
    with open(os.path.join(sdir, "stations.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    counts["stations_bad"] = int(bad.sum())
    return counts
