"""Layer tracing from outside the program.

Two halves, both installed only for a traced run (``--trace 1``):

* :class:`Tracer` wraps the public functions of the Python layers
  (``session``, ``sources.io``, ``parity``, ``operators.*``) and records a
  span per call: name, start, end, parent, key and pass. A layer's self
  time is its span's duration minus the time its child spans cover. It
  also counts py4j round trips made by the driver thread.
* :class:`SparkProbe` reads Spark's own status stores after each key:
  jobs and stages from the app status store, per-node SQL metrics from
  the SQL status store, Catalyst phase times from a query-execution
  listener, streaming progress from a streaming listener and cached
  blocks from ``getRDDStorageInfo``.

Spark-side durations summed over tasks (executor run, CPU, GC, Python
worker time, scan time) are labelled ``task-summed``: on 4 cores they can
exceed wall time and are never a share of it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import threading
import time

# Layers wrapped by module; every public function defined in a module of
# the "all public" list is wrapped under the layer name.
NAMED = [
    ("session.get_spark", "trireme_spark.session", "get_spark"),
    ("session.prep", "trireme_spark.session", "prep"),
    ("io.table", "trireme_spark.sources.io", "table"),
    ("parity.dsum", "trireme_spark.parity", "dsum"),
    ("parity.dsum", "trireme_spark.parity", "dsum_wide"),
]
# Layers whose calls also count the Spark jobs they start.
JOB_COUNTED = {"io.table"}
ALL_PUBLIC = [
    ("operators.similarity", "trireme_spark.operators.similarity"),
    ("operators.graph", "trireme_spark.operators.graph"),
    ("operators.clustering", "trireme_spark.operators.clustering"),
]


class _Traced:
    """Callable stand-in for a wrapped function.

    Pickles as the original function looked up by module and name, so a
    UDF closure that references a wrapped function ships the original to
    Python workers, never the tracer.
    """

    def __init__(self, tracer: "Tracer", name: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._name = name
        self._fn = fn

    def __call__(self, *args, **kwargs):
        tracer = self._tracer
        if threading.get_ident() != tracer.main_thread:
            return self._fn(*args, **kwargs)
        if self._name not in JOB_COUNTED or tracer.job_counter is None:
            with tracer.span(self._name):
                return self._fn(*args, **kwargs)
        with tracer.paused():
            before = tracer.job_counter()
        try:
            with tracer.span(self._name):
                return self._fn(*args, **kwargs)
        finally:
            with tracer.paused():
                started = tracer.job_counter() - before
            tracer.jobs_in[tracer.pass_no] = (
                tracer.jobs_in.get(tracer.pass_no, 0) + started
            )

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    """In-memory span recorder; spans are lists
    ``[name, start, end, parent_index, key, pass]``."""

    def __init__(self):
        self.main_thread = threading.get_ident()
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.key: str | None = None
        self.pass_no: int | None = None
        self.py4j_calls = 0
        self.job_counter = None   # () -> jobs started so far, when attached
        self.jobs_in: dict = {}   # pass -> jobs started inside JOB_COUNTED
        self._paused = 0
        self._undo: list = []

    @contextlib.contextmanager
    def paused(self):
        """Context in which the probe's own py4j calls go uncounted."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            [name, time.perf_counter(), None, parent, self.key, self.pass_no]
        )
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self.spans[self._stack.pop()][2] = time.perf_counter()

    # -- installation -------------------------------------------------
    def install(self) -> None:
        """Wrap every layer function and rebind by-name imports.

        ``from trireme_spark.sources.io import table`` copies the function
        into the importing module, and ``registry.register`` closes over
        ``session.prep``; both copies are replaced, or wrapped calls made
        through them would go unseen.
        """
        import importlib

        targets = []
        for name, mod_name, attr in NAMED:
            mod = importlib.import_module(mod_name)
            targets.append((name, getattr(mod, attr)))
        for name, mod_name in ALL_PUBLIC:
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                    and not attr.startswith("_")
                ):
                    targets.append((name, fn))
        # Keyed by id(): the originals stay referenced here, so no other
        # live object can share an id with one of them.
        swap = {id(fn): _Traced(self, name, fn) for name, fn in targets}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("trireme_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in swap:
                    setattr(mod, attr, swap[id(val)])
                    self._undo.append((mod, attr, val))
        from trireme_spark import registry

        for fn in registry.QUERIES.values():
            for cell in fn.__closure__ or ():
                val = cell.cell_contents
                if id(val) in swap:
                    cell.cell_contents = swap[id(val)]
                    self._undo.append((cell, None, val))
        self._count_py4j()

    def _count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if not tracer._paused and threading.get_ident() == tracer.main_thread:
                tracer.py4j_calls += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command
        self._undo.append((ClientServerConnection, "send_command", orig))

    def uninstall(self) -> None:
        for owner, attr, val in reversed(self._undo):
            if attr is None:
                owner.cell_contents = val
            else:
                setattr(owner, attr, val)
        self._undo.clear()

    # -- analysis -----------------------------------------------------
    def self_times(self, pass_no: int) -> dict[str, tuple[float, int]]:
        """``{layer: (self seconds, calls)}`` over one pass's spans."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None and s[2] is not None:
                child_time[s[3]] += s[2] - s[1]
        out: dict[str, list] = {}
        for i, s in enumerate(self.spans):
            if s[5] != pass_no or s[2] is None:
                continue
            acc = out.setdefault(s[0], [0.0, 0])
            acc[0] += (s[2] - s[1]) - child_time[i]
            acc[1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s[0], "start": s[1], "end": s[2],
                    "parent": s[3], "key": s[4], "pass": s[5],
                }) + "\n")


# ---------------------------------------------------------------------
# Spark status stores

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}

SCAN_METRICS = {
    "size of files read": "scan.bytes",
    "number of output rows": "scan.rows",
    "scan time": "scan.s",
}
PYTHON_METRICS = {
    "data sent to Python workers": "arrow.bytes_to_python",
    "data returned from Python workers": "arrow.bytes_from_python",
    "time to run Python workers": "arrow.python_s",
}


def parse_metric(text: str) -> float:
    """Parse one value of ``SQLAppStatusStore.executionMetrics``:
    ``"1,000"``, ``"304.3 KiB"``, ``"1.2 s"`` or the multi-task form
    ``"total (min, med, max ...)\\n1.6 s (299 ms, ...)"``."""
    line = text.strip().split("\n")[-1]
    token = line.split(" (")[0].strip()
    num, _, unit = token.partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit.strip(), 1.0)


class SparkProbe:
    """Per-key readings from Spark's status stores and listeners."""

    def __init__(self, spark, cores: int):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.cores = cores
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._lock = threading.Lock()
        self._phases: list[tuple[float, float, float]] = []
        self._progress: list[dict] = []
        gateway = spark.sparkContext._gateway
        ensure_callback_server_started(gateway)
        self._qe_listener = _PhaseListener(self)
        spark._jsparkSession.listenerManager().register(self._qe_listener)
        self._stream_listener = _make_stream_listener(self)
        spark.streams.addListener(self._stream_listener)
        self._last_exec = self._max_execution_id()

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
        self.spark.streams.removeListener(self._stream_listener)

    def flush(self) -> None:
        """Wait until listeners have seen every event posted so far."""
        self.sc.listenerBus().waitUntilEmpty(60_000)

    def jobs_started(self) -> int:
        return int(self.sc.dagScheduler().numTotalJobs())

    def _max_execution_id(self) -> int:
        n = int(self.sql.executionsCount())
        if n == 0:
            return -1
        return int(self.sql.executionsList(n - 1, 1).apply(0).executionId())

    def job_seconds(self, first: int, end: int) -> float:
        total = 0.0
        for job_id in range(first, end):
            try:
                job = self.store.job(job_id)
            except Exception:  # evicted or never registered
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                total += (done.get().getTime() - sub.get().getTime()) / 1e3
        return total

    def harvest(
        self, first_job: int, end_job: int
    ) -> tuple[dict[str, float], list[float]]:
        """Stage, SQL-node, Catalyst, streaming and cache readings for
        jobs ``[first_job, end_job)`` and every SQL execution and listener
        event since the previous harvest; also each trigger's seconds."""
        self.flush()
        m: dict[str, float] = {}

        def add(name: str, v: float) -> None:
            m[name] = m.get(name, 0.0) + v

        stage_ids: set[int] = set()
        for job_id in range(first_job, end_job):
            try:
                job = self.store.job(job_id)
            except Exception:
                continue
            add("compute.jobs", 1)
            seq = job.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() != "COMPLETE":
                continue
            add("compute.stages", 1)
            add("compute.tasks", st.numCompleteTasks())
            add("compute.executor_run_s", st.executorRunTime() / 1e3)
            add("compute.executor_cpu_s", st.executorCpuTime() / 1e9)
            add("compute.gc_s", st.jvmGcTime() / 1e3)
            add("compute.spill_bytes",
                st.memoryBytesSpilled() + st.diskBytesSpilled())
            add("shuffle.write_bytes", st.shuffleWriteBytes())
            add("shuffle.read_bytes", st.shuffleReadBytes())
            add("shuffle.fetch_wait_s", st.shuffleFetchWaitTime() / 1e3)

        last = self._max_execution_id()
        for exec_id in range(self._last_exec + 1, last + 1):
            self._node_metrics(exec_id, add)
        self._last_exec = last

        with self._lock:
            phases, self._phases = self._phases, []
            progress, self._progress = self._progress, []
        for analysis, optimization, planning in phases:
            add("catalyst.analysis_ms", analysis)
            add("catalyst.optimization_ms", optimization)
            add("catalyst.planning_ms", planning)
        for p in progress:
            add("streaming.triggers", 1)
            add("streaming.commit_s", p["commit_ms"] / 1e3)
            add("streaming.state_rows", p["state_rows"])
            m["streaming.state_mem_bytes"] = max(
                m.get("streaming.state_mem_bytes", 0.0), p["state_mem"]
            )

        infos = self.sc.getRDDStorageInfo()
        for i in range(len(infos)):
            info = infos[i]
            add("cache.fill_bytes", info.memSize() + info.diskSize())
            add("cache.blocks", info.numCachedPartitions())
        return m, [p["trigger_ms"] / 1e3 for p in progress]

    def _node_metrics(self, exec_id: int, add) -> None:
        opt = self.sql.execution(exec_id)
        if not opt.isDefined():
            return
        wanted: list[tuple[int, str]] = []
        nodes = self.sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if name.startswith("Scan "):
                table = SCAN_METRICS
            elif "Python" in name or "Pandas" in name or "Arrow" in name:
                table = PYTHON_METRICS
            else:
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                metric = metrics.apply(j)
                layer = table.get(metric.name())
                if layer:
                    wanted.append((metric.accumulatorId(), layer))
        if not wanted:
            return
        values = self.sql.executionMetrics(exec_id)
        for acc_id, layer in wanted:
            v = values.get(acc_id)
            if v.isDefined():
                add(layer, parse_metric(v.get()))


class _PhaseListener:
    """``QueryExecutionListener`` implemented over the py4j callback
    server; records each action's Catalyst phase times in ms."""

    def __init__(self, probe: SparkProbe):
        self._probe = probe

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            phases = qe.tracker().phases()

            def ms(phase: str) -> float:
                opt = phases.get(phase)
                return float(opt.get().durationMs()) if opt.isDefined() else 0.0

            row = (ms("analysis"), ms("optimization"), ms("planning"))
        except Exception:  # a callback must never raise into the bus
            return
        with self._probe._lock:
            self._probe._phases.append(row)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _make_stream_listener(probe: SparkProbe):
    from pyspark.sql.streaming import StreamingQueryListener

    class _StreamListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            dur = p.durationMs or {}
            ops = p.stateOperators or []
            row = {
                "trigger_ms": float(dur.get("triggerExecution", 0)),
                "commit_ms": float(
                    dur.get("commitOffsets", 0) + dur.get("commitBatch", 0)
                ),
                "state_rows": float(sum(o.numRowsTotal for o in ops)),
                "state_mem": float(sum(o.memoryUsedBytes for o in ops)),
            }
            with probe._lock:
                probe._progress.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _StreamListener()
