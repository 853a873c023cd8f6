"""Benchmark entry point.

    python3 perfbench/run.py --workload {bi_mix,batch,all} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One process per
workload: it makes the seeded inputs, starts a ``local[<cores>]``
session, runs one untimed warm-up pass, checks that pass's outputs,
then measures a closed loop (one client) of whole passes for at least
``--seconds`` and at least the workload's floor of passes. The last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Everything the run writes lives in a
temporary directory under ``.perfbench_runs/`` in the checkout and is
removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

#: Spark task threads: ``local[<cores>]``.
CORES = os.cpu_count() or 4

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from tracing import (  # noqa: E402
    PACKAGE,
    RssSampler,
    SparkProbe,
    Tracer,
    cpu_times,
    descendants,
    running,
)

END_TO_END = {
    "setup_s": "s",
    "op_p50_x": "x",
    "pass_x": "x",
    "peak_rss_mb": "MB",
}

#: The reference jobs: plain Spark that calls nothing in the program,
#: run in their own SQL session with these confs pinned, so a change to
#: the program (its queries, operators or session settings) does not
#: move them. Each workload names the one whose work is most like its
#: own: a short SQL job, or a Python UDF (Python workers). See README
#: "The reference job".
REF_CONFS = {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "1"}
REFERENCES = {
    "sql": lambda ref: ref._jsparkSession.sql(
        f"SELECT sum(id % 7) FROM range(0, 3000000, 1, {CORES})"
    ).collect(),
    "python_udf": lambda ref: ref.range(0, 20000, 1, CORES).selectExpr(
        "sum(perfbench_mod7(id))"
    ).collect(),
}

PER_LAYER = {
    "session.start_s": "s",
    "catalog.self_s": "s",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.input_mb": "MB",
    "spark.ref_s": "s",
    "operators.relational_s": "s",
    "operators.anomaly_s": "s",
    "operators.timeseries_s": "s",
    "operators.text_s": "s",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "sources.artifacts.train_s": "s",
    "plans.medallion.bronze_s": "s",
    "plans.medallion.silver_s": "s",
    "plans.gold.build_s": "s",
    "plans.gold.write_s": "s",
    "sources.io.bytes_written_mb": "MB",
    "sources.io.files_written": "count",
    "sources.io.write_amp": "ratio",
    "sources.text_formats.rejected_rows": "count",
    "streaming.incremental.sink_s": "s",
    "streaming.plan_s": "s",
    "streaming.wal_s": "s",
    "sources.synthgen.batch_s": "s",
    "streaming.state_mb": "MB",
    "streaming.state_rewrite_ratio": "ratio",
    "host.cpu_util": "ratio",
    "host.steal_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


class Ctx:
    """Per-run state shared by the harness and the workload."""

    def __init__(self, args, run_dir: str) -> None:
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.spark = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.op_times: list[float] = []
        self.op_kinds: list[str] = []  # what each op sample was
        self.pass_times: list[float] = []
        self.write_amp: list[float] = []
        self.input_bytes = 0
        self.layer: dict[str, float] = defaultdict(float)
        self.build_groups: list[str] = []
        self.probe_s = 0.0
        self.check_s = 0.0  # harness time spent checking outputs
        self.ref_times: list[float] = []  # reference-job latencies, timed loop
        self.ref_s = 0.0  # harness time spent in reference jobs
        self.timed = False
        self._ref = None  # (the reference job, its session)
        self.reference_kind = "sql"

    def log(self, op: str, dt: float, warm: bool) -> None:
        phase = "warm" if warm else "timed"
        print(f"perfbench: {phase} {op} {dt:.3f}s", file=sys.stderr, flush=True)

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)

    def reference(self) -> None:
        """Run the reference job once (after every step, warm-up
        included, so its JIT state keeps pace with the program's)."""
        if self._ref is None:
            session = self.spark.newSession()
            for k, v in REF_CONFS.items():
                session.conf.set(k, v)
            session.udf.register("perfbench_mod7", lambda x: x % 7, "long")
            self._ref = (REFERENCES[self.reference_kind], session)
        job, session = self._ref
        t0 = time.perf_counter()
        job(session)
        dt = time.perf_counter() - t0
        self.ref_s += dt
        self.log("reference", dt, not self.timed)
        if self.timed:
            self.ref_times.append(dt)

    def timed_op(self, fn, is_op: bool = True, kind: str = "") -> float:
        """Run one timed step; an exception is a failure, not a crash.
        ``is_op``: its latency is one of the run's op samples."""
        self.attempted += 1
        if self.tracer:
            self.tracer.reset_touched()
        try:
            dt = fn()
        except Exception as exc:  # noqa: BLE001
            self.fail(f"{type(exc).__name__}: {str(exc)[:300]}")
            return 0.0
        finally:
            self.reference()
        if is_op:
            self.op_times.append(dt)
            self.op_kinds.append(kind)
        if self.tracer:
            # Attribute the op to the operator modules it called.
            ops = [t for t in self.tracer.touched if t.startswith("operators.")]
            for t in ops:
                self.layer[f"{t}_s"] += dt / len(ops)
        return dt


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temporary location of Spark, the JVM, Python workers
    and the program at ``run_dir``; returns session confs to pass."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse", "artifacts", "checkpoints"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = os.path.join(run_dir, "artifacts")
    # Python workers (UDFs, the synthgen DataSource) import the program.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    heap = driver_heap()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
        # A fixed-size heap (-Xms = -Xmx) keeps peak RSS from following
        # the collector's heap-growth decisions from run to run; no
        # perf-data file, which the JVM would write under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def driver_heap() -> str:
    """An eighth of available memory, rounded down to 512 MiB steps
    (so small swings in free memory do not change it) and between 1 and
    2 GiB."""
    avail_kb = 8 * 1024 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
    except OSError:
        pass
    return f"{max(1024, min(2048, avail_kb // 8 // 1024 // 512 * 512))}m"


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def seconds(ctx: Ctx, wl) -> dict[str, float]:
    """The run's latencies in seconds: op median, pass, reference job."""
    return {
        "op_p50_s": stats.median(ctx.op_times),
        "pass_s": wl.pass_s(ctx),
        "ref_s": stats.median(ctx.ref_times),
    }


def stop_children() -> None:
    """Stop every process this one started that still runs (a JVM whose
    start was interrupted has no session to stop it), then wait for each
    to end: SIGTERM, and SIGKILL after 10 s."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants(os.getpid())
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10
        while pids and time.monotonic() < end:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if running(p)]
            time.sleep(0.1)
        if not pids:
            return


def end_to_end(ctx: Ctx, wl, setup_s: float, peak_rss: int) -> dict[str, float]:
    sec = seconds(ctx, wl)
    return {
        "setup_s": setup_s,
        "op_p50_x": sec["op_p50_s"] / sec["ref_s"],
        "pass_x": sec["pass_s"] / sec["ref_s"],
        "peak_rss_mb": peak_rss / 1e6,
    }


def host_use(cpu0, cpu1) -> dict[str, float]:
    """Host CPU busy and steal shares between two :func:`cpu_times`."""
    tot, idle, steal = (b - a for a, b in zip(cpu0, cpu1))
    return {
        "host.cpu_util": (tot - idle - steal) / max(1, tot),
        "host.steal_frac": steal / max(1, tot),
    }


def per_layer(ctx: Ctx, probe: SparkProbe, ex0, ex1, ref_cost, cpu0, cpu1, start_s, loop_s) -> dict:
    """Per-layer metrics, normalised to one pass of the workload.
    ``ref_cost``: what one reference job adds to the executor totals,
    taken out of the loop's deltas (GC time is not: it is not the
    reference job's own)."""
    n = max(1, len(ctx.pass_times))
    L = ctx.layer
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in L.items():
        if k in out:
            out[k] = v / n
    t = ctx.tracer
    out["catalog.self_s"] = t.self_s.get("catalog", 0.0) / n
    # The GoldPipeline build inside the gold_* registry queries (bi_mix);
    # batch adds its medallion gold step through ctx.layer.
    out["plans.gold.build_s"] += t.outer_s("plans.gold") / n
    out["streaming.incremental.sink_s"] = t.func_s.get("streaming.incremental.sink", 0.0) / n
    out["session.start_s"] = start_s
    d = {k: ex1[k] - ex0[k] - ref_cost[k] * len(ctx.ref_times) for k in ex0 if k != "gc_ms"}
    d["gc_ms"] = ex1["gc_ms"] - ex0["gc_ms"]
    out["spark.tasks"] = d["tasks"] / n
    out["spark.task_s"] = d["task_ms"] / 1000.0 / n
    out["spark.gc_s"] = d["gc_ms"] / 1000.0 / n
    out["spark.shuffle_read_mb"] = d["shuffle_read_b"] / 1e6 / n
    out["spark.shuffle_write_mb"] = d["shuffle_write_b"] / 1e6 / n
    out["spark.input_mb"] = d["input_b"] / 1e6 / n
    out["spark.ref_s"] = stats.median(ctx.ref_times)
    exec_s = L["spark.exec_s"]
    out["spark.core_util"] = d["task_ms"] / 1000.0 / max(1e-9, exec_s * CORES)
    out["queries.eager_jobs"] = sum(probe.jobs_in_group(g) for g in ctx.build_groups) / n
    if ctx.write_amp:
        out["sources.io.write_amp"] = stats.median(ctx.write_amp)
    out.update(host_use(cpu0, cpu1))
    out["trace.overhead_frac"] = (ctx.probe_s + t.overhead_s) / loop_s
    return out


def write_spans(ctx: Ctx, args, t_loop: float) -> None:
    """Write the in-memory spans of the measured loop and their totals
    next to the run directories (kept after the run;
    ``.perfbench_runs/``). Span times are seconds from the loop start."""
    t = ctx.tracer
    path = os.path.join(ROOT, ".perfbench_runs", f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as f:
        json.dump(
            {
                "passes": len(ctx.pass_times),
                "layer_self_s": dict(sorted(t.self_s.items())),
                "layer_calls": dict(sorted(t.calls.items())),
                "function_s": dict(sorted(t.func_s.items())),
                "spans": [
                    [name, round(t0 - t_loop, 6), round(t1 - t_loop, 6), parent]
                    for name, t0, t1, parent in t.spans
                ],
            },
            f,
        )
    print(f"perfbench: spans written to {os.path.relpath(path, ROOT)}", flush=True)


def run_workload(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(
        os.path.join(ROOT, "tests")
    ):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, closed_loop

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    ctx = Ctx(args, run_dir)
    spark = sampler = None
    try:
        confs = isolate(run_dir)
        sys.path.insert(0, ROOT)
        wl = WORKLOADS[args.workload](args.seed)
        ctx.reference_kind = wl.REFERENCE
        t_gen = time.perf_counter()
        wl.prepare(ctx)
        gen_s = time.perf_counter() - t_gen

        # ---- set-up: program imports, session start, warm-up pass ----
        t_setup = time.perf_counter()
        import climate_anomaly_bigdata_pipeline_spark.queries  # noqa: F401
        from climate_anomaly_bigdata_pipeline_spark.session import get_spark

        if args.trace:
            ctx.tracer = Tracer()
            ctx.tracer.instrument()
        t_sess = time.perf_counter()
        spark = ctx.spark = get_spark(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=confs
        )
        start_s = time.perf_counter() - t_sess
        spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid).start()
        wl.warm(ctx)
        setup_s = time.perf_counter() - t_setup + (t_gen - T_PROCESS) - ctx.check_s - ctx.ref_s

        t_check = time.perf_counter()
        wl.check(ctx)
        ctx.check_s += time.perf_counter() - t_check

        # ---- measured closed loop ----
        probe = SparkProbe(spark)
        probe.settle()
        ex0 = probe.executor_totals()
        if args.trace:
            ctx.reference()
            probe.settle()
            ex = probe.executor_totals()
            ref_cost = {k: ex[k] - ex0[k] for k in ex}
            ex0 = ex
        cpu0 = cpu_times()
        if ctx.tracer:
            ctx.tracer.enabled = True
        ctx.timed = True
        ref0 = ctx.ref_s
        t_loop = time.perf_counter()
        closed_loop(ctx, wl)
        loop_s = time.perf_counter() - t_loop - (ctx.ref_s - ref0)
        ctx.timed = False
        if ctx.tracer:
            ctx.tracer.enabled = False
        cpu1 = cpu_times()
        probe.settle()
        ex1 = probe.executor_totals()
        sampler.stop()
        host = host_use(cpu0, cpu1)
        if not ctx.op_times or not ctx.pass_times or not ctx.ref_times:
            ctx.fail("no op completed in the measured loop")
            return 1
        print(
            f"perfbench: {args.workload} seed={args.seed} inputs={ctx.input_bytes / 1e6:.1f}MB "
            f"gen={gen_s:.2f}s setup={setup_s:.2f}s check={ctx.check_s:.2f}s "
            f"timed={loop_s:.2f}s passes={len(ctx.pass_times)} ops={len(ctx.op_times)} "
            f"error_rate={ctx.failed / max(1, ctx.attempted):.4f} "
            f"host_busy={host['host.cpu_util']:.3f} host_steal={host['host.steal_frac']:.4f}",
            flush=True,
        )
        tail_v, p, beyond = stats.tail(ctx.op_times)
        print(f"perfbench: op_tail_s = {tail_v:.6g} s (p{p} of {len(ctx.op_times)} "
              f"{wl.OP_KIND} latencies, {beyond} beyond it)", flush=True)
        for k, v in seconds(ctx, wl).items():
            print(f"perfbench: {k} = {v:.6g} s", flush=True)
        if ctx.write_amp:
            print(f"perfbench: microbatch_p50_s = {stats.median(ctx.op_times):.6g} s "
                  f"(op_p50_s of this workload)", flush=True)
            print(f"perfbench: write_amp = {stats.median(ctx.write_amp):.6g} ratio", flush=True)
        values = end_to_end(ctx, wl, setup_s, sampler.peak)
        units = END_TO_END
        if args.trace:
            # The end-to-end figures of a traced run, set against an
            # untraced run's, give the tracing overhead.
            for k, v in values.items():
                print(f"perfbench: traced {k} = {v:.6g} {units[k]}", flush=True)
            values = per_layer(ctx, probe, ex0, ex1, ref_cost, cpu0, cpu1, start_s, loop_s)
            units = PER_LAYER
            write_spans(ctx, args, t_loop)
        for k, v in values.items():
            print(f"perfbench: {k} = {v:.6g} {units[k]}", flush=True)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        try:
            if sampler is not None:
                sampler.stop()
            if spark is not None:
                stop_spark(spark)
        finally:
            stop_children()
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass


def run_all(args) -> int:
    """Every workload in turn, each in its own process."""
    from workloads import WORKLOADS

    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        print(f"perfbench: === {name} ===", flush=True)
        rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
    return rc


def main() -> int:
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bi_mix", "batch", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
