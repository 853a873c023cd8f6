"""The workloads: ``bi_mix`` (registry reads) and ``batch`` (an
:class:`Ingest` pass followed by a :class:`Curation` pass).

Each workload has four phases, driven by ``run.py``:

``prepare(ctx)``  make the seeded inputs (harness work, not timed);
``warm(ctx)``     one pass over every op on real-size inputs (bi_mix:
                  then one untimed block), before timing — part of
                  ``setup_s``. Registry ops are collected
                  and compared with their DuckDB oracles on the way (the
                  comparison is harness time, left out of ``setup_s``);
``check(ctx)``    check the warm ingest pass's invariants (untimed);
``timed_pass(ctx)`` one pass of the closed loop :func:`closed_loop`
                  measures.

One client sends one call at a time; a step is one public call into
the program plus forcing its result (a ``noop`` sink computes every row
and column, unlike ``count()``). A run's op latency samples are steps of
one kind: the registry queries of ``bi_mix``, the micro-batches of
``batch``.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from gen import write_climate_text, write_corpus_variant, write_tables
from stats import median


def closed_loop(ctx, wl) -> None:
    """Run whole passes for at least ``ctx.seconds`` and at least
    ``wl.MIN_PASSES`` passes: a fixed floor keeps the number of samples
    (and so the tail percentile) from depending on the host's speed."""
    t_end = time.perf_counter() + ctx.seconds
    while len(ctx.pass_times) < wl.MIN_PASSES or time.perf_counter() < t_end:
        ctx.pass_times.append(wl.timed_pass(ctx))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checksum/marker files."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.startswith("part-")
    return total, files


class RegistryWorkload:
    """Ops are named registry queries ``QUERIES[name](spark, dir)``."""

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def run_op(self, ctx, qname: str, sf_dir: str) -> float:
        """Build + force one query; returns its latency in seconds."""
        from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

        sc = ctx.spark.sparkContext
        traced = ctx.tracer is not None
        probe_s = 0.0
        if traced:
            tp = time.perf_counter()
            group = f"perfbench-build-{len(ctx.build_groups)}"
            ctx.build_groups.append(group)
            sc.setJobGroup(group, qname)
            probe_s += time.perf_counter() - tp
        t0 = time.perf_counter()
        df = QUERIES[qname](ctx.spark, sf_dir)
        build = time.perf_counter() - t0
        if traced:
            tp = time.perf_counter()
            sc.setJobGroup("perfbench-exec", qname)
            df._jdf.queryExecution().executedPlan()
            plan = time.perf_counter() - tp
            ctx.layer["spark.plan_s"] += plan
            probe_s += plan
        te = time.perf_counter()
        force(df)
        t1 = time.perf_counter()
        ctx.log(qname, t1 - t0, False)
        if traced:
            ctx.layer["queries.build_s"] += build
            ctx.layer["spark.exec_s"] += t1 - te
            ctx.probe_s += probe_s
            return t1 - t0 + probe_s
        return t1 - t0

    def warm_checked(self, ctx, qnames, sf_dir: str):
        """The warm-up pass, which is also the output check: build and
        collect each op (program work), then compare the rows with its
        DuckDB oracle by the rule the repository's tests use (harness
        work, added to ``ctx.check_s``). Collecting runs the same plans
        the timed ``noop`` sink runs."""
        from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, QUERIES
        from tests.oracle_utils import compare, duckdb_conn

        t0 = time.perf_counter()
        con = duckdb_conn(sf_dir)
        ctx.check_s += time.perf_counter() - t0
        for qname in qnames:
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                df = QUERIES[qname](ctx.spark, sf_dir)
                got = df.toPandas()
            except Exception as exc:  # noqa: BLE001 - a crash is a failed check
                ctx.fail(f"{qname}: {type(exc).__name__}: {str(exc)[:300]}")
                continue
            t1 = time.perf_counter()
            ctx.log(qname, t1 - t0, True)
            try:
                ok, msg = compare(got, con.execute(ORACLE[qname]).fetchdf())
            except Exception as exc:  # noqa: BLE001
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            ctx.check_s += time.perf_counter() - t1
            ctx.reference()
            if not ok:
                ctx.fail(f"{qname}: oracle mismatch: {msg}")
        con.close()

    def check(self, ctx) -> None:
        """Checked during :meth:`warm_checked`."""


class BiMix(RegistryWorkload):
    """Closed-loop BI reads: short registry queries over one table set."""

    name = "bi_mix"
    OP_KIND = "registry query"
    REFERENCE = "sql"
    SCALE = 0.01
    #: Untimed blocks after the checked pass, then timed blocks (the
    #: latency samples of a run).
    WARM_BLOCKS = 1
    MIN_PASSES = 2
    #: The queries in popularity rank order. No usage log exists, so the
    #: order is an assumption: anomaly and KPI views first, then the
    #: daily pivot, top-k, a join report, sessions and a gold read.
    QUERIES = (
        "zscore_anomaly", "groupby_kpis", "pivot_events_daily", "topk_orders",
        "join_revenue_by_nation_year", "sessionize_events", "gold_kpis_yearly",
    )
    #: Popularity is Zipf with this exponent: the query of rank r gets
    #: max(1, round(TOP_COPIES / r**ZIPF_S)) copies in a block.
    ZIPF_S = 1.0
    TOP_COPIES = 3

    @classmethod
    def block_counts(cls) -> dict[str, int]:
        return {
            q: max(1, round(cls.TOP_COPIES / r**cls.ZIPF_S))
            for r, q in enumerate(cls.QUERIES, 1)
        }

    def prepare(self, ctx) -> None:
        self.sf_dir = os.path.join(ctx.run_dir, "tables")
        write_tables(self.sf_dir, self.seed, self.SCALE)
        ctx.input_bytes = dir_bytes(self.sf_dir)[0]
        # A block is a seeded shuffle of the same multiset for every
        # seed (3,2,1,1,1,1,1 copies: 10 ops, 3 of them repeats).
        self.block = [q for q, k in self.block_counts().items() for _ in range(k)]
        self.rng = random.Random(self.seed)

    def warm(self, ctx) -> None:
        from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

        self.warm_checked(ctx, self.QUERIES, self.sf_dir)
        # Then untimed blocks: a query's next few runs are still slower
        # than its later ones (JIT compilation of the planner).
        for _ in range(self.WARM_BLOCKS):
            self.rng.shuffle(self.block)
            for q in self.block:
                t0 = time.perf_counter()
                force(QUERIES[q](ctx.spark, self.sf_dir))
                ctx.log(q, time.perf_counter() - t0, True)
                ctx.reference()

    def timed_pass(self, ctx) -> float:
        self.rng.shuffle(self.block)
        return sum(
            ctx.timed_op(lambda q=q: self.run_op(ctx, q, self.sf_dir), kind=q) for q in self.block
        )

    def pass_s(self, ctx) -> float:
        """One block, summed from each query's median latency in the run:
        steadier than the median of a few whole-block times."""
        by_kind: dict[str, list[float]] = {}
        for k, dt in zip(ctx.op_kinds, ctx.op_times):
            by_kind.setdefault(k, []).append(dt)
        return sum(n * median(by_kind[q]) for q, n in self.block_counts().items())


class Curation(RegistryWorkload):
    """LLM-data curation ops over a fresh corpus variant per pass."""

    SCALE = 0.02
    #: One op per curation operator layer: ``simhash_signatures``
    #: (operators.dedup), ``ivf_ann_topk`` (operators.similarity + the
    #: IVF/PQ artifact store, trained anew on every corpus) and
    #: ``doc_quality_scores`` (operators.text). The costlier curation
    #: ops (``prefix_jaccard_pairs`` about 4 s warm and 7.5 s cold at
    #: this corpus size) do not fit the time budget of a run.
    OPS = ("simhash_signatures", "ivf_ann_topk", "doc_quality_scores")

    #: The cold IVF/PQ artifact build: codebook training plus the store write.
    TRAIN_FUNCS = (
        "operators.similarity.train_ivf_codebook",
        "operators.similarity.train_pq_codebooks",
        "sources.artifacts.save_ivf",
        "sources.artifacts.save_pq",
    )

    def train_s(self, ctx) -> float:
        return sum(ctx.tracer.func_s[f] for f in self.TRAIN_FUNCS) if ctx.tracer else 0.0

    def prepare(self, ctx) -> None:
        self.base = os.path.join(ctx.run_dir, "base")
        write_tables(self.base, self.seed, self.SCALE, only=("documents", "embeddings"))
        self.variant = 0
        self.v0 = self.next_variant(ctx)
        ctx.input_bytes += dir_bytes(self.v0)[0]

    def next_variant(self, ctx) -> str:
        out = os.path.join(ctx.run_dir, f"corpus-v{self.variant}")
        write_corpus_variant(self.base, out, self.seed, self.variant)
        self.variant += 1
        return out

    def warm(self, ctx) -> None:
        self.warm_checked(ctx, self.OPS, self.v0)

    def timed_pass(self, ctx) -> float:
        corpus = self.next_variant(ctx)
        train0 = self.train_s(ctx)
        pass_s = sum(
            ctx.timed_op(lambda q=q: self.run_op(ctx, q, corpus), is_op=False) for q in self.OPS
        )
        ctx.layer["sources.artifacts.train_s"] += self.train_s(ctx) - train0
        shutil.rmtree(corpus, ignore_errors=True)
        return pass_s


class Ingest:
    """Medallion write path plus incremental gold maintenance."""

    FIRST_YEAR = 2018
    STATIONS = 5_000
    STATION_LIMIT = 50
    MIN_YEAR = 2018
    #: Micro-batches per pass: the latency samples of a batch run.
    MICROBATCHES = 8
    #: The warm-up's stream: its first micro-batch pays the cold cost;
    #: after a one-micro-batch warm-up, the timed stream's latencies
    #: still fell over its first few micro-batches.
    WARM_MICROBATCHES = 2
    ROWS_PER_BATCH = 1_000
    USERS = 200

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.n_pass = 0

    def prepare(self, ctx) -> None:
        self.raw = os.path.join(ctx.run_dir, "raw")
        self.counts = write_climate_text(self.raw, self.seed, self.FIRST_YEAR, self.STATIONS)
        self.raw_bytes = dir_bytes(self.raw)[0]
        ctx.input_bytes += self.raw_bytes

    def stream_options(self, stream_seed: int, n_batches: int) -> dict[str, str]:
        return {
            "n_rows": str(n_batches * self.ROWS_PER_BATCH),
            "rows_per_batch": str(self.ROWS_PER_BATCH),
            "seed": str(stream_seed),
            "num_partitions": str(os.cpu_count() or 4),
            "n_users": str(self.USERS),
        }

    def one_pass(self, ctx, timed: bool) -> dict:
        from climate_anomaly_bigdata_pipeline_spark.plans import medallion as M
        from climate_anomaly_bigdata_pipeline_spark.sources import io as IO
        from climate_anomaly_bigdata_pipeline_spark.streaming import incremental as INC

        spark = ctx.spark
        root = os.path.join(ctx.run_dir, f"out-p{self.n_pass}")
        stream_seed = self.seed * 1000 + self.n_pass
        self.n_pass += 1
        paths = M.MedallionPaths(root)
        def rec(fn):
            if timed:
                dt = ctx.timed_op(fn, is_op=False)
            else:
                dt = fn()
                ctx.reference()
            ctx.log(fn.__name__, dt, not timed)
            if timed and ctx.tracer:
                # A medallion step is its Spark actions; building its
                # plans is a small share of it.
                ctx.layer["spark.exec_s"] += dt
            return dt

        bronze_b, bronze_s = (os.path.join(paths.bronze, n) for n in ("berkeley", "stations"))
        silver_b, silver_s = (os.path.join(paths.silver, n) for n in ("berkeley", "stations"))
        out: dict = {"root": root, "stream_seed": stream_seed}

        def bronze():
            t0 = time.perf_counter()
            M.ingest_bronze(spark, os.path.join(self.raw, "berkeley"), "berkeley_daily", bronze_b)
            M.ingest_bronze(spark, os.path.join(self.raw, "ghcnd"), "ghcnd_stations", bronze_s)
            return time.perf_counter() - t0

        def silver():
            t0 = time.perf_counter()
            b, b_rej = M.bronze_to_silver_berkeley(spark.read.parquet(bronze_b))
            s, s_rej = M.bronze_to_silver_stations(spark.read.parquet(bronze_s))
            IO.write_parquet(b, silver_b)
            IO.write_parquet(s, silver_s)
            out["rejected"] = (b_rej.first().asDict(), s_rej.first().asDict())
            return time.perf_counter() - t0

        def gold():
            t0 = time.perf_counter()
            outputs = M.silver_to_gold(
                spark.read.parquet(silver_b), spark.read.parquet(silver_s),
                station_limit=self.STATION_LIMIT, min_year=self.MIN_YEAR,
            )
            t1 = time.perf_counter()
            M.write_gold(outputs, paths)
            t2 = time.perf_counter()
            outputs["climate_anomalies_monthly"].unpersist()
            if timed:
                ctx.layer["plans.gold.build_s"] += t1 - t0
                ctx.layer["plans.gold.write_s"] += t2 - t1
            return t2 - t0

        b_s = rec(bronze)
        s_s = rec(silver)
        g_s = rec(gold)
        t_stream = time.perf_counter()
        state_root = os.path.join(root, "incremental_gold")
        sink = INC.make_upsert_sink(spark, state_root)
        if ctx.tracer:
            sink = ctx.tracer.wrap("streaming.incremental", "sink", sink)
        reader = spark.readStream.format("synthgen")
        n_mb = self.MICROBATCHES if timed else self.WARM_MICROBATCHES
        for k, v in self.stream_options(stream_seed, n_mb).items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(root, "_checkpoint"))
            .start()
        )
        try:
            q.processAllAvailable()
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        finally:
            q.stop()
        pass_s = b_s + s_s + g_s + time.perf_counter() - t_stream
        ctx.reference()
        mb = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        for d in mb:
            ctx.log("microbatch", d, not timed)
        out.update(state_root=state_root, microbatches=mb, progress=progress)
        out["pass_s"] = pass_s
        if timed:
            ctx.attempted += self.MICROBATCHES
            if len(mb) != self.MICROBATCHES:
                ctx.fail(f"{len(mb)} triggers for {self.MICROBATCHES} micro-batches")
            ctx.op_times.extend(mb)
            ctx.op_kinds.extend(["microbatch"] * len(mb))
            if ctx.tracer:
                ctx.layer["spark.exec_s"] += sum(mb)
            self.account_writes(ctx, out, b_s, s_s)
        return out

    def account_writes(self, ctx, out: dict, bronze_s: float, silver_s: float) -> None:
        L = ctx.layer
        L["plans.medallion.bronze_s"] += bronze_s
        L["plans.medallion.silver_s"] += silver_s
        written, files = dir_bytes(out["root"])
        ckpt = dir_bytes(os.path.join(out["root"], "_checkpoint"))
        written, files = written - ckpt[0], files - ckpt[1]
        L["sources.io.bytes_written_mb"] += written / 1e6
        L["sources.io.files_written"] += files
        ctx.write_amp.append(written / self.raw_bytes)
        b_rej, s_rej = out["rejected"]
        L["sources.text_formats.rejected_rows"] += sum(
            v for r in (b_rej, s_rej) for k, v in r.items() if k.startswith("null_")
        )
        for p in out["progress"]:
            d = p["durationMs"]
            L["streaming.plan_s"] += d.get("queryPlanning", 0) / 1000.0
            L["streaming.wal_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            L["sources.synthgen.batch_s"] += (
                d.get("latestOffset", 0) + d.get("getBatch", 0)
            ) / 1000.0
        versions = [
            dir_bytes(os.path.join(out["state_root"], v))[0]
            for v in os.listdir(out["state_root"])
            if v.startswith("v")
        ]
        rows = sum(p["numInputRows"] for p in out["progress"])
        # Delta bytes: synthgen rows are 3 longs + a double + a
        # timestamp (8 bytes each) + a short event-type string (~6).
        L["streaming.state_rewrite_ratio"] += sum(versions) / max(1, rows * 46)
        L["streaming.state_mb"] += max(versions, default=0) / 1e6

    def warm(self, ctx) -> None:
        from climate_anomaly_bigdata_pipeline_spark.sources import synthgen

        synthgen.register(ctx.spark)
        self.warm_out = self.one_pass(ctx, timed=False)

    def check(self, ctx) -> None:
        from climate_anomaly_bigdata_pipeline_spark.streaming import incremental as INC
        from tests.oracle_utils import compare

        spark, out, c = ctx.spark, self.warm_out, self.counts
        gold = os.path.join(out["root"], "gold")
        silver = os.path.join(out["root"], "silver")
        checks = []
        for feed, (rej, bad, lines) in {
            "berkeley": (out["rejected"][0], c["berkeley_bad"], c["berkeley_data"]),
            "stations": (out["rejected"][1], c["stations_bad"], c["stations"]),
        }.items():
            n_silver = spark.read.parquet(os.path.join(silver, feed)).count()
            n_rej = sum(v for k, v in rej.items() if k.startswith("null_"))
            checks.append((f"{feed}: total rows == data lines",
                           rej["total_rows"] == lines, (rej["total_rows"], lines)))
            checks.append((f"{feed}: silver + rejected == data lines",
                           n_silver + n_rej == lines, (n_silver, n_rej, lines)))
            checks.append((f"{feed}: rejected == malformed lines", n_rej == bad, (n_rej, bad)))
        valid_stations = c["stations"] - c["stations_bad"]
        months = (2024 - max(self.MIN_YEAR, self.FIRST_YEAR)) * 12
        n_fact = spark.read.parquet(os.path.join(gold, "climate_anomalies_monthly")).count()
        want = min(self.STATION_LIMIT, valid_stations) * months
        checks.append(("fact rows == station_limit x (year, month)", n_fact == want, (n_fact, want)))
        checks.append(("one trigger per micro-batch",
                       len(out["microbatches"]) == self.WARM_MICROBATCHES, len(out["microbatches"])))
        reader = spark.read.format("synthgen")
        for k, v in self.stream_options(out["stream_seed"], self.WARM_MICROBATCHES).items():
            reader = reader.option(k, v)
        batch = INC.batch_partial(reader.load()).toPandas()
        incr = INC.read_gold_state(spark, out["state_root"]).toPandas()
        ok, msg = compare(incr, batch)
        checks.append(("incremental gold == batch groupBy", ok, msg))
        for label, ok, detail in checks:
            ctx.attempted += 1
            if not ok:
                ctx.fail(f"ingest check failed: {label}: {detail}")

    def timed_pass(self, ctx) -> float:
        out = self.one_pass(ctx, timed=True)
        shutil.rmtree(out["root"], ignore_errors=True)
        return out["pass_s"]


class Batch:
    """The write-and-train side: each pass ingests the climate text
    through the medallion layers, maintains incremental gold from a
    stream, then curates a fresh corpus snapshot (IVF trained anew).
    Its op samples are the stream's micro-batches, one kind of op; the
    medallion and curation steps count in ``pass_s``."""

    name = "batch"
    OP_KIND = "micro-batch"
    MIN_PASSES = 1
    #: Python workers run much of a pass (the synthgen source, the
    #: curation UDFs), and a Python-UDF job tracks its speed better than
    #: a SQL one.
    REFERENCE = "python_udf"

    def __init__(self, seed: int) -> None:
        self.parts = (Ingest(seed), Curation(seed))

    def prepare(self, ctx) -> None:
        for p in self.parts:
            p.prepare(ctx)

    def warm(self, ctx) -> None:
        for p in self.parts:
            p.warm(ctx)

    def check(self, ctx) -> None:
        for p in self.parts:
            p.check(ctx)

    def timed_pass(self, ctx) -> float:
        return sum(p.timed_pass(ctx) for p in self.parts)

    def pass_s(self, ctx) -> float:
        return median(ctx.pass_times)


WORKLOADS = {w.name: w for w in (BiMix, Batch)}
