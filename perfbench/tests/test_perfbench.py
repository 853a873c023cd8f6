"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke tests start one Spark session per workload (about a minute
each on a 4-core machine).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_rule():
    spec = _spec()
    names = list(run.END_TO_END) + list(run.PER_LAYER)
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    for n in names:
        assert stats.METRIC_NAME.fullmatch(n) and len(n) <= 64, n


def test_benchmark_json_lists_what_run_prints():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        unit = run.END_TO_END.get(m["name"]) or run.PER_LAYER[m["name"]]
        assert m["unit"] == unit
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_tail_keeps_ten_samples_beyond():
    for n in range(1, 400):
        vals = [float(i) for i in range(n)]
        value, p, beyond = stats.tail(vals)
        assert beyond == sum(v > value for v in vals), n
        if n >= 20:
            assert beyond >= stats.TAIL_MIN_BEYOND, n
            # p is the highest integer percentile that keeps ten beyond.
            if p < 99:
                k = -(-(p + 1) * n // 100)
                assert n - k < stats.TAIL_MIN_BEYOND, n
        else:
            assert p == 50, n


def test_bi_mix_block_is_zipf_over_its_queries():
    from workloads import BiMix

    counts = BiMix.block_counts()
    assert list(counts) == list(BiMix.QUERIES)
    assert list(counts.values()) == sorted(counts.values(), reverse=True)
    assert counts[BiMix.QUERIES[0]] == BiMix.TOP_COPIES
    assert min(counts.values()) == 1


def test_latency_metrics_are_multiples_of_the_reference_job():
    from types import SimpleNamespace

    from workloads import BiMix

    counts = BiMix.block_counts()
    kinds = [q for q, n in counts.items() for _ in range(2 * n)]
    # Every query's second sample is 3x its first: the median of each
    # query's samples is the mean of the two levels, 2.0 s.
    times = [1.0 if i % 2 == 0 else 3.0 for i in range(len(kinds))]
    kinds = sorted(kinds, key=list(counts).index)
    ctx = SimpleNamespace(op_kinds=kinds, op_times=times, ref_times=[0.5, 0.4, 0.6])
    wl = BiMix(1)
    assert wl.pass_s(ctx) == 2.0 * sum(counts.values())
    m = run.end_to_end(ctx, wl, setup_s=30.0, peak_rss=2e9)
    assert set(m) == set(run.END_TO_END)
    assert m["op_p50_x"] == 2.0 / 0.5
    assert m["pass_x"] == wl.pass_s(ctx) / 0.5
    assert m["setup_s"] == 30.0 and m["peak_rss_mb"] == 2000.0


def test_tracer_self_time_excludes_child_spans():
    import time

    from tracing import Tracer

    t = Tracer()
    inner = t.wrap("b", "inner", lambda: time.sleep(0.05))
    again = t.wrap("a", "again", lambda: time.sleep(0.02))

    def body():
        time.sleep(0.03)
        inner()
        again()

    outer = t.wrap("a", "outer", body)
    outer()  # disabled: no span
    assert not t.spans
    t.enabled = True
    outer()
    names = [s[0] for s in t.spans]
    assert names == ["a.outer", "b.inner", "a.again"]
    assert [s[3] for s in t.spans] == [-1, 0, 0]
    total = t.spans[0][2] - t.spans[0][1]
    # Self times partition the outer span: no double counting.
    assert abs(t.self_s["a"] + t.self_s["b"] - total) < 1e-6
    assert t.self_s["b"] >= 0.05 and t.self_s["a"] >= 0.05
    assert 0 < t.overhead_s < 0.01
    # a's nested span is inside its outer one, so it counts once.
    assert abs(t.outer_s("a") - total) < 1e-9
    assert abs(t.outer_s("b") - (t.spans[1][2] - t.spans[1][1])) < 1e-9


def _gen_all(out: str, seed: int) -> None:
    gen.write_tables(os.path.join(out, "t"), seed, 0.001)
    gen.write_corpus_variant(os.path.join(out, "t"), os.path.join(out, "v1"), seed, 1)
    gen.write_climate_text(os.path.join(out, "c"), seed, 2020, 200)


def _same_tree(a: str, b: str) -> bool:
    files = sorted(
        os.path.relpath(os.path.join(d, f), a) for d, _, fs in os.walk(a) for f in fs
    )
    assert files
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not mismatch and not errors


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    _gen_all(str(tmp_path / "a"), 7)
    _gen_all(str(tmp_path / "b"), 7)
    _gen_all(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    for sub in ("t/lineitem.parquet", "t/documents.parquet", "t/embeddings.parquet",
                "v1/documents.parquet", "c/berkeley/part-000.txt", "c/ghcnd/stations.txt"):
        assert not filecmp.cmp(tmp_path / "a" / sub, tmp_path / "c" / sub, shallow=False), sub


def test_refuses_without_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bi_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["bi_mix", "batch"])
def test_smoke_run_has_no_errors(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_run_reports_every_layer_metric():
    res = _run("batch", 1)
    assert res["failed"] == 0
    assert set(res["metrics"]) == set(run.PER_LAYER)
    assert res["metrics"]["plans.gold.write_s"]["value"] > 0
    assert res["metrics"]["spark.core_util"]["value"] > 0
    assert res["metrics"]["sources.artifacts.train_s"]["value"] > 0
