"""Property-based tests (hypothesis) for operator invariants that unit
fixtures can't sweep: the z-score guard under arbitrary groups, parser
null-semantics under arbitrary malformed lines, rolling-mean parity
with pandas, dedup idempotence."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from climate_anomaly_bigdata_pipeline_spark.operators import anomaly as A
from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS
from climate_anomaly_bigdata_pipeline_spark.sources import text_formats as TF

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@given(
    groups=st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=2),
        st.lists(finite, min_size=1, max_size=8),
        min_size=1,
        max_size=4,
    )
)
@settings(**_SETTINGS)
def test_zscore_always_finite_and_guarded(spark, groups):
    """For ANY group contents, z is finite; constant or single-row
    groups yield exactly 0.0 (the divide-by-zero guard)."""
    rows = [(k, float(v)) for k, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "k string, v double")
    out = A.zscore(df, "v", ["k"]).collect()
    assert len(out) == len(rows)
    by_key: dict[str, list] = {}
    for r in out:
        assert r["z_score"] is not None and math.isfinite(r["z_score"])
        by_key.setdefault(r["k"], []).append(r)
    for k, vs in groups.items():
        if len(set(vs)) <= 1:  # constant or singleton group
            assert all(r["z_score"] == 0.0 for r in by_key[k])


@given(
    lines=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=32, max_codepoint=126, blacklist_characters="\n"
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**_SETTINGS)
def test_parser_never_throws_nulls_on_garbage(spark, lines):
    """ANY input line parses without error; non-numeric or missing
    ordinals become null (the reference's cast semantics)."""
    df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    parsed = TF.parse_delimited(
        TF.filter_comments(df), TF.BERKELEY_DAILY_SPEC
    ).collect()
    kept = [ln for ln in lines if not ln.startswith("%")]
    assert len(parsed) == len(kept)
    for row in parsed:
        for field in ("year", "month", "day"):
            v = row[field]
            assert v is None or isinstance(v, int)


@given(values=st.lists(finite, min_size=1, max_size=30))
@settings(**_SETTINGS)
def test_rolling_mean_matches_pandas(spark, values):
    window = 5
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], "t int, v double"
    )
    got = {
        r["t"]: r["rolling_mean"]
        for r in TS.rolling_mean(df, "t", "v", window=window, scale=9).collect()
    }
    expected = pd.Series(values).rolling(window).mean()
    for i, e in expected.items():
        if pd.isna(e):
            assert got[i] is None
        else:
            # the operator rounds to 9 decimals -> abs tolerance to match
            assert got[i] == pytest.approx(e, rel=1e-6, abs=1e-9)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_dedup_idempotent_and_minimal(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k int, ord int")
    once = R.dedup_exact(df, ["k"], [F.col("ord"), F.col("k")])
    twice = R.dedup_exact(once, ["k"], [F.col("ord"), F.col("k")])
    got = sorted((r["k"], r["ord"]) for r in twice.collect())
    # exactly one row per key: the minimum (ord) — deterministic keep-first
    expected = sorted(
        (k, min(o for kk, o in rows if kk == k)) for k in {k for k, _ in rows}
    )
    assert got == expected


# ---- round-2 curation operators ---------------------------------------------


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=1, max_size=30).map(
            lambda ws: " ".join(ws)
        ),
        min_size=1,
        max_size=8,
    ),
    chunk=st.integers(min_value=2, max_value=12),
    overlap=st.integers(min_value=0, max_value=6),
)
@settings(**_SETTINGS)
def test_chunking_covers_every_token(spark, docs, chunk, overlap):
    """For ANY doc/chunk/overlap combo (overlap < chunk), chunk token
    counts reconstruct the doc: sum(n) - overlap·(k-1) == n_tokens,
    every chunk is non-empty and at most chunk_size."""
    from climate_anomaly_bigdata_pipeline_spark.operators import text as TX

    if overlap >= chunk:
        overlap = chunk - 1
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.chunk_documents(df, chunk_size=chunk, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        assert 1 <= r.n_chunk_tokens <= chunk
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, d in rows:
        n_tok = len(d.split())
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        step = chunk - overlap
        # each chunk i covers tokens [1+i*step, min(1+i*step+chunk-1, n)]
        covered = sum(c.n_chunk_tokens for c in chunks)
        n_full = len(chunks)
        expected = sum(
            min(chunk, n_tok - k * step) for k in range(n_full)
        )
        assert covered == expected
        # last chunk reaches the final token
        last_start = 1 + (n_full - 1) * step
        assert last_start + chunks[-1].n_chunk_tokens - 1 == n_tok


@given(
    keys=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1,
                  max_size=60, unique=True)
)
@settings(**_SETTINGS)
def test_hash_split_partitions_exactly(spark, keys):
    """For ANY key set: every row lands in exactly one split, and the
    assignment is reproducible."""
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = R.hash_split(df, "k").collect()
    assert len(out) == len(keys)
    assert all(r.split in {"train", "val", "test"} for r in out)
    again = {r.k: r.split for r in R.hash_split(df, "k").collect()}
    assert {r.k: r.split for r in out} == again


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1,
                   max_size=40),
    budget=st.integers(min_value=50, max_value=600),
)
@settings(**_SETTINGS)
def test_pack_sequences_monotone_and_bounded(spark, sizes, budget):
    """Pack ids are monotone in doc order, start at 0, skip nothing,
    and every pack except possibly the last holds >= budget tokens
    once its successor starts (no premature pack switch)."""
    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = sorted(
        R.pack_sequences(df, "doc_id", "n_tokens", budget).collect(),
        key=lambda r: r.doc_id,
    )
    packs = [r.pack_id for r in out]
    assert packs[0] == 0
    assert all(b - a >= 0 for a, b in zip(packs, packs[1:]))
    # pack id of doc i == floor(prefix_sum_before / budget) by definition
    cum = 0
    for r, s in zip(out, sizes):
        assert r.pack_id == cum // budget
        cum += s


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "common"]),
            min_size=1,
            max_size=6,
        ),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.5, 0.8, 1.0]),
)
@settings(max_examples=12, deadline=None)
def test_prefix_jaccard_complete_on_random_corpora(spark, docs, threshold):
    """Prefix filtering must equal the quadratic word-set definition on
    arbitrary corpora — including all-identical and fully-disjoint
    extremes the strategy generates."""
    from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id1"], r["id2"])
        for r in DD.prefix_filtered_jaccard_pairs(df, threshold=threshold).collect()
    }
    sets = {i: set(w) for i, w in enumerate(docs)}
    want = {
        (a, b)
        for a in sets
        for b in sets
        if a < b and len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold
    }
    assert got == want


@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=600
    ),
    st.sampled_from([64, 100, 4096]),
)
@settings(max_examples=40, deadline=None)
def test_flac_roundtrip_arbitrary_pcm(pcm, block_size):
    """encode→decode is the identity for ANY int16 signal and block
    size (multi-frame streams included) — the lossless contract of
    the FLAC codec, swept over adversarial inputs unit fixtures miss
    (extremes, flat runs, sign flips, blocks of size 1)."""
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators.flaccodec import (
        decode_flac_bytes,
        encode_flac,
        encode_flac_lpc,
    )

    x = np.array(pcm, dtype=np.int16)
    for enc in (encode_flac, encode_flac_lpc):
        rate, ch, bps, y = decode_flac_bytes(enc(x, block_size=block_size))
        assert (y[:, 0] == x.astype(np.int32)).all()
        assert (rate, ch, bps) == (16_000, 1, 16)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=9),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(min_value=2, max_value=4),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_kcore_matches_brute_peeling_on_random_graphs(spark, edges, k):
    """k_core must equal brute-force Python peeling for ANY small
    graph and any k — the fixpoint semantics, not just the happy path
    of the fixed fixture."""
    from climate_anomaly_bigdata_pipeline_spark.operators.graph import k_core

    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r.node, r.degree) for r in k_core(df, k=k).collect()}

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, ns in adj.items() if len(ns) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    want = {(n, len(ns)) for n, ns in adj.items()}
    assert got == want


# ---- incremental gold ---------------------------------------------------------

# A micro-batch: (user_id, value) rows over few keys, so a key's values
# are often all NULL; small whole numbers keep every sum exact.
_batch = st.lists(
    st.tuples(
        st.integers(0, 3),
        st.one_of(st.none(), st.integers(-50, 50)),
    ),
    max_size=6,
)


@given(
    batches=st.lists(st.tuples(_batch, st.booleans()), min_size=1, max_size=5),
    value_type=st.sampled_from(["double", "bigint"]),
)
@settings(**_SETTINGS)
def test_incremental_sink_matches_batch_groupby(spark, tmp_path, batches, value_type):
    """For ANY micro-batch sequence (empty batches, all-NULL keys, a
    batch replayed under its own id, double or bigint values) the
    folded state equals one batch ``groupBy`` over every row delivered
    once, and the state directory keeps at most ``keep`` old versions
    besides the live one."""
    import inspect
    import tempfile

    from pyspark.sql import functions as F

    from climate_anomaly_bigdata_pipeline_spark.streaming import incremental as INC
    from tests.oracle_utils import compare

    keep = inspect.signature(INC.vacuum_versions).parameters["keep"].default
    cast = float if value_type == "double" else int
    typed = [([(k, None if v is None else cast(v)) for k, v in rows], replay)
             for rows, replay in batches]
    schema = f"user_id long, value {value_type}"
    root = tempfile.mkdtemp(dir=tmp_path)
    sink = INC.make_upsert_sink(spark, root, "user_id")
    for batch_id, (rows, replay) in enumerate(typed):
        df = spark.createDataFrame(rows, schema)
        sink(df, batch_id)
        if replay:
            sink(df, batch_id)
        with open(os.path.join(root, "_LATEST")) as f:
            live = f.read().strip()
        old = [d for d in os.listdir(root) if d.startswith("v") and d != live]
        assert len(old) <= keep, old
    got = INC.read_gold_state(spark, root).toPandas()
    every_row = [r for rows, _ in typed for r in rows]
    want = (
        spark.createDataFrame(every_row, schema)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
    )
    ok, msg = compare(got, want)
    assert ok, msg
