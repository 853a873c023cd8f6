"""Outside-in instrumentation for the benchmark.

Nothing here edits the program. Layers are measured at their public
boundaries:

* :class:`Tracer` wraps the public functions (and public methods of
  public classes) of each layer module in a span. Spans live in memory;
  a layer's *self* time is its span time minus the time of the spans
  nested inside it, so the layers of one call stack sum to its wall
  time instead of double counting.
* :class:`SparkProbe` reads the Spark driver's status store (executor
  summary deltas: tasks, task time, GC, shuffle and input bytes) and
  counts the jobs started under a job group.
* :class:`RssSampler` samples the resident set of the Spark driver JVM and
  every process under it (the Python workers) from ``/proc``.
* :func:`cpu_times` reads ``/proc/stat`` for host CPU use and steal.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections import defaultdict, deque

PACKAGE = "climate_anomaly_bigdata_pipeline_spark"

#: Layer name -> module, for every layer traced by span wrapping. The
#: ``queries`` layer is timed by the harness itself (it is the call the
#: benchmark makes), and ``spark``/``host`` are read from the engine
#: and the kernel.
LAYER_MODULES = {
    "session": "session",
    "catalog": "catalog",
    "operators.relational": "operators.relational",
    "operators.anomaly": "operators.anomaly",
    "operators.timeseries": "operators.timeseries",
    "operators.text": "operators.text",
    "operators.dedup": "operators.dedup",
    "operators.similarity": "operators.similarity",
    "plans.medallion": "plans.medallion",
    "plans.gold": "plans.gold",
    "sources.io": "sources.io",
    "sources.text_formats": "sources.text_formats",
    "sources.synthgen": "sources.synthgen",
    "sources.artifacts": "sources.artifacts",
    "streaming.incremental": "streaming.incremental",
}


class Tracer:
    """In-memory span recorder with per-layer self time."""

    def __init__(self) -> None:
        self.enabled = False
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.func_s: dict[str, float] = defaultdict(float)  # inclusive, per function
        self.touched: set[str] = set()  # layers entered since reset_touched()
        self.overhead_s = 0.0  # time spent in the wrappers themselves
        #: Every span recorded while enabled: [layer.function, start_s,
        #: end_s (None while open), parent span index or -1], in the
        #: order the spans started.
        self.spans: list[list] = []

    def _stack(self) -> list[list]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def reset_touched(self) -> None:
        self.touched = set()

    def outer_s(self, layer: str) -> float:
        """Time inside ``layer``'s spans not nested in another of its
        spans: its inclusive time, counted once."""
        own = [name.startswith(layer + ".") for name, *_ in self.spans]
        return sum(
            t1 - t0
            for (_, t0, t1, parent), mine in zip(self.spans, own)
            if mine and (parent < 0 or not own[parent])
        )

    def wrap(self, layer: str, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t_in = time.perf_counter()
            stack = tracer._stack()
            span = [f"{layer}.{qualname}", None, None, stack[-1][1] if stack else -1]
            with tracer._lock:  # the streaming sink runs on a py4j callback thread
                frame = [span, len(tracer.spans), 0.0]  # [span, its index, child time]
                tracer.spans.append(span)
            stack.append(frame)
            span[1] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                dt = span[2] - span[1]
                stack.pop()
                if stack:
                    stack[-1][2] += dt
                with tracer._lock:
                    tracer.self_s[layer] += dt - frame[2]
                    tracer.calls[layer] += 1
                    tracer.func_s[span[0]] += dt
                    tracer.touched.add(layer)
                    # The wrapper's own bookkeeping, before and after the call.
                    tracer.overhead_s += span[1] - t_in + time.perf_counter() - span[2]

        traced.__perfbench_wrapped__ = fn
        return traced

    def instrument(self) -> None:
        """Wrap every public function/method of the layer modules, and
        rebind each wrapped function wherever a loaded module of the
        package imported it by name (``from x import f``)."""
        swaps: dict[int, object] = {}
        for layer, rel in LAYER_MODULES.items():
            mod = importlib.import_module(f"{PACKAGE}.{rel}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped = self.wrap(layer, name, obj)
                    swaps[id(obj)] = wrapped
                    setattr(mod, name, wrapped)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if mname.startswith("_") or not inspect.isfunction(meth):
                            continue
                        setattr(obj, mname, self.wrap(layer, f"{name}.{mname}", meth))
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PACKAGE) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = swaps.get(id(obj))
                if w is not None and obj is not w:
                    setattr(mod, name, w)


class SparkProbe:
    """Executor-summary deltas and job-group job counts from the
    driver's status store (updated by the listener bus; call
    :meth:`settle` before a final read)."""

    FIELDS = ("tasks", "task_ms", "gc_ms", "input_b", "shuffle_read_b", "shuffle_write_b")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def executor_totals(self) -> dict[str, float]:
        lst = self._store.executorList(True)
        tot = dict.fromkeys(self.FIELDS, 0.0)
        for i in range(lst.size()):
            e = lst.apply(i)
            tot["tasks"] += e.totalTasks()
            tot["task_ms"] += e.totalDuration()
            tot["gc_ms"] += e.totalGCTime()
            tot["input_b"] += e.totalInputBytes()
            tot["shuffle_read_b"] += e.totalShuffleRead()
            tot["shuffle_write_b"] += e.totalShuffleWrite()
        return tot

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    #: Longest wait for running jobs in :meth:`settle`.
    SETTLE_TIMEOUT_S = 5.0

    def settle(self) -> None:
        """Wait until no job is active, then a short grace so the
        status listener has folded the last task-end events in."""
        end = time.monotonic() + self.SETTLE_TIMEOUT_S
        while self.sc.statusTracker().getActiveJobsIds() and time.monotonic() < end:
            time.sleep(0.05)
        time.sleep(0.3)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids[ppid].append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def descendants(root_pid: int) -> list[int]:
    """Every process under ``root_pid``, not counting itself."""
    kids = _proc_children()
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` plus all its descendants."""
    return sum(_rss_bytes(pid) for pid in [root_pid, *descendants(root_pid)])


class RssSampler:
    """Background sampler of the sustained peak tree RSS under
    ``root_pid``: the highest level held for a whole :data:`WINDOW_S`
    (the max over time of a sliding-window min), so a Python worker
    that lives for one sample does not set the figure."""

    PERIOD_S = 0.2
    WINDOW_S = 1.0

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self._window: deque[int] = deque(maxlen=round(self.WINDOW_S / self.PERIOD_S))
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._window.append(tree_rss_bytes(self.root_pid))
            if len(self._window) == self._window.maxlen:
                self.peak = max(self.peak, min(self._window))
            self._stop.wait(self.PERIOD_S)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join()


def cpu_times() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from the first /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal
