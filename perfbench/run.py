"""Benchmark command for trireme_spark.

    python3 perfbench/run.py --workload sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload as a single
caller on ``local[<cores>]``: it calls one registered key, collects its
result with ``toPandas()`` as ``scripts/driver_sim.py`` does, then calls
the next key. A run is:

1. the workload's input tables staged from ``fixtures/`` (stage.py) and
   the JVM launched, both reported and not in ``setup_s``; then seven
   set-ups, each a new SparkSession on that JVM and ``session.prep``
   (ships the package to Python workers). ``setup_s`` is their median.
2. the cold pass: every key once in the fresh session (``cold_pass_s``).
   Its outputs are checked, untimed, against the DuckDB oracles.
3. one untimed warm-up pass; rows-only keys must hash the same on it as
   on the cold pass.
4. timed passes until ``--seconds`` have passed, at least two, whole
   passes only (``pass_s``, ``query_s_p50``, ``query_s_tail``).

Between keys the run calls ``spark.catalog.clearCache()`` and
``gc.collect()``, untimed for the key but inside the pass.

With ``--trace 1`` the timed region alternates untraced and traced passes,
starting and ending untraced, and the run reports the per-layer metrics
of tracing.py instead of the end-to-end ones. Human-readable lines come
first; the last line of stdout is one JSON object. The run works in
``.perfbench/run-<pid>/`` under the checkout (working directory, temp
files, Spark local dirs) and deletes it at exit; a traced run also leaves
its spans in ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import stage
from workloads import WORKLOADS, pass_order

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 7
SHUFFLE_PARTITIONS = 32
DRIVER_MEMORY = "4g"

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
    "query_s_p50": "s", "query_s_tail": "s", "peak_rss_mb": "MB",
}
# Printed every run; the result line carries only the steady ones, which
# BENCHMARK.json gates. One run has too few key calls for a tail or a
# stable median key (four keys of very different cost in dup10), and the
# JVM's heap growth makes peak RSS move with GC timing.
UNGATED = ("query_s_p50", "query_s_tail", "peak_rss_mb")
# "task-s": summed over Spark tasks; on several cores it can exceed the
# wall time, so it is never a share of wall time.
PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.prep_s": "s",
    "session.prep_calls": "count",
    "queries.build_s": "s", "queries.build_py_s": "s",
    "queries.build_jobs": "count", "queries.build_job_s": "s",
    "queries.build_py4j_calls": "count",
    "io.table_calls": "count", "io.table_s": "s", "io.schema_jobs": "count",
    "parity.dsum_calls": "count", "parity.dsum_s": "s",
    "operators.similarity_s": "s", "operators.graph_s": "s",
    "operators.clustering_s": "s",
    "streaming.triggers": "count", "streaming.trigger_s_p50": "s",
    "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "compute.jobs": "count", "compute.stages": "count",
    "compute.tasks": "count",
    "scan.bytes": "B", "scan.rows": "count", "scan.s": "task-s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.fetch_wait_s": "task-s", "compute.spill_bytes": "B",
    "compute.executor_run_s": "task-s", "compute.executor_cpu_s": "task-s",
    "compute.gc_s": "task-s", "compute.core_utilization": "ratio",
    "arrow.bytes_to_python": "B", "arrow.bytes_from_python": "B",
    "arrow.python_s": "task-s",
    "cache.fill_bytes": "B", "cache.blocks": "count",
    "sink.s": "s", "sink.rows": "count",
    "trace.overhead_ratio": "ratio",
}
COUNTS = [k for k, u in PER_LAYER_UNITS.items() if u == "count"]


def tail_percentile(n: int) -> int:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    it; p50 when fewer than 20 samples support no tail at all."""
    best = 50
    for p in (75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(1, -(-p * len(ordered) // 100)) - 1]


def canon_hash(pdf) -> str:
    """Order-insensitive value hash of scripts/driver_sim.py: sorted
    columns, sorted row reprs."""
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(r)) for r in pdf[cols].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def host_cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat; field 7 is steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def peak_rss_mb() -> float:
    """VmHWM of this process plus every java process descending from it
    (the driver JVM), from /proc."""
    parents, names = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                text = f.read()
        except OSError:  # the process ended meanwhile
            continue
        names[pid] = text[text.index("(") + 1:text.rindex(")")]
        parents[pid] = text[text.rindex(")") + 2:].split()[1]
    me = str(os.getpid())

    def mine(pid: str) -> bool:
        for _ in range(64):
            if pid == me:
                return True
            if pid not in parents:
                return False
            pid = parents[pid]
        return False

    total_kb = 0
    for pid in names:
        if pid == me or (names[pid] == "java" and mine(pid)):
            try:
                with open(f"/proc/{pid}/status") as f:
                    total_kb += next(
                        int(line.split()[1]) for line in f
                        if line.startswith("VmHWM:")
                    )
            except (OSError, StopIteration):
                pass
    return total_kb / 1024.0


class Bench:
    def __init__(self, args, workload):
        self.args = args
        self.wl = workload
        self.seed = args.seed
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
        self.keys = list(workload.keys)
        self.sessions: list = []
        self.spark = None
        self.data_dir = ""
        self.attempted = 0
        self.failures: list[str] = []
        self.mismatches: list[str] = []
        self.rows: dict[str, int] = {}
        self.notes: list[str] = []
        self.tracer = None
        self.probe = None

    # -- environment --------------------------------------------------
    def enter(self) -> None:
        os.makedirs(self.work)
        for sub in ("spark-local", "jvm-tmp", "tmp"):
            os.makedirs(os.path.join(self.work, sub))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        tempfile.tempdir = os.environ["TMPDIR"]
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        jvm_tmp = os.path.join(self.work, "jvm-tmp")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Djava.io.tmpdir={jvm_tmp} '
            '-XX:-UsePerfData" --conf spark.ui.showConsoleProgress=false '
            "pyspark-shell"
        )
        # Run where an installed caller would: outside the package root,
        # with nothing added to the workers' PYTHONPATH.
        os.chdir(self.work)

    def exit(self) -> None:
        """Stop Spark, wait for the JVM to end, delete the work dir."""
        os.chdir(ROOT)
        try:
            from pyspark import SparkContext

            if self.spark is not None:
                self.spark.stop()
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:  # other runs' files remain
                pass

    # -- set-up -------------------------------------------------------
    def _session(self):
        from trireme_spark import session

        return session.get_spark(
            "perfbench", cpus=self.cores,
            shuffle_partitions=SHUFFLE_PARTITIONS, driver_memory=DRIVER_MEMORY,
        )

    def setup(self) -> list[float]:
        import pyarrow
        import pyspark
        from trireme_spark import session

        t0 = time.perf_counter()
        self.data_dir = stage.stage(os.path.join(self.work, "data"), self.wl.dup)
        self.notes.append(
            f"stage_s {time.perf_counter() - t0:.3f} (not in setup_s)"
        )
        t0 = time.perf_counter()
        boot = self._session()
        self.notes.append(
            f"jvm_start_s {time.perf_counter() - t0:.3f} (not in setup_s)"
        )
        java = boot.sparkContext._jvm.System.getProperty("java.version")
        self.notes.append(
            f"host: nproc {self.cores}, Spark {pyspark.__version__}, "
            f"Java {java}, pyarrow {pyarrow.__version__}, "
            f"Python {sys.version.split()[0]}"
        )
        boot.stop()
        # Every session stays referenced, so no later one can reuse the
        # id() that the package keys per-session memos on.
        self.sessions.append(boot)
        times = []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            tmp = os.path.join(self.work, f"setup{i}")
            os.makedirs(tmp)
            tempfile.tempdir = tmp  # a fresh package zip each time
            t0 = time.perf_counter()
            spark = self._session()
            session.prep(spark)
            times.append(time.perf_counter() - t0)
            self.sessions.append(spark)
            self.spark = spark
        return times

    # -- key calls ----------------------------------------------------
    def call(self, key: str, traced: bool = False) -> dict:
        """Isolate, then build and collect one key. A failure is recorded
        and counted, never raised."""
        from trireme_spark import registry

        spark = self.spark
        rec: dict = {"key": key}
        self.attempted += 1
        t0 = time.perf_counter()
        spark.catalog.clearCache()
        gc.collect()
        t1 = time.perf_counter()
        try:
            if traced:
                rec.update(self._traced_call(key))
            else:
                df = registry.QUERIES[key](spark, self.data_dir)
                t2 = time.perf_counter()
                rec["out"] = df.toPandas()
                t3 = time.perf_counter()
                rec["build_s"], rec["sink_s"] = t2 - t1, t3 - t2
        except Exception as exc:  # the loop must go on; the count shows it
            for q in spark.streams.active:
                q.stop()
            msg = f"{key}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            self.failures.append(msg)
            # A failed call still costs its time in the pass.
            rec.update(error=msg, iso_s=t1 - t0, s=time.perf_counter() - t1)
            return rec
        rec["iso_s"] = t1 - t0
        rec["s"] = rec["build_s"] + rec["sink_s"]
        self.rows[key] = len(rec["out"])
        return rec

    def _traced_call(self, key: str) -> dict:
        from trireme_spark import registry

        tracer, probe = self.tracer, self.probe
        tracer.key = key
        with tracer.paused():
            j0 = probe.jobs_started()
        c0 = tracer.py4j_calls
        t0 = time.perf_counter()
        with tracer.span("queries.build"):
            df = registry.QUERIES[key](self.spark, self.data_dir)
        t1 = time.perf_counter()
        c1 = tracer.py4j_calls
        with tracer.paused():
            j1 = probe.jobs_started()
        t2 = time.perf_counter()
        with tracer.span("queries.sink"):
            out = df.toPandas()
        t3 = time.perf_counter()
        with tracer.paused():
            j2 = probe.jobs_started()
            spark_m, triggers = probe.harvest(j0, j2)
            build_job_s = probe.job_seconds(j0, j1)
        return {
            "out": out, "build_s": t1 - t0, "sink_s": t3 - t2,
            "build_jobs": j1 - j0, "build_job_s": build_job_s,
            "build_py4j": c1 - c0, "spark": spark_m, "triggers": triggers,
        }

    def run_pass(self, pass_no: int, traced: bool = False, keep=()) -> dict:
        """One pass over the keys in this pass's seeded order, keeping the
        outputs of the keys in ``keep``."""
        if self.tracer:
            self.tracer.pass_no = pass_no if traced else None
        recs, outs = [], {}
        for key in pass_order(self.keys, self.wl.name, self.seed, pass_no):
            rec = self.call(key, traced)
            out = rec.pop("out", None)
            if key in keep and out is not None:
                outs[key] = out
            recs.append(rec)
        return {
            "no": pass_no, "traced": traced, "recs": recs, "outs": outs,
            "s": sum(r["s"] + r["iso_s"] for r in recs),
        }

    # -- correctness --------------------------------------------------
    def check_oracles(self, outs: dict) -> tuple[dict, int]:
        """Hash every output; compare keys that have an oracle with DuckDB
        on the run's own data. Returns the hashes of the keys without an
        oracle (checked again on the next pass) and the oracle count."""
        import duckdb

        from trireme_spark import registry

        con = duckdb.connect()
        for name in os.listdir(self.data_dir):
            path = os.path.join(self.data_dir, name)
            src = f"{path}/*.parquet" if os.path.isdir(path) else path
            con.sql(
                f"CREATE VIEW {name.split('.')[0]} AS "
                f"SELECT * FROM read_parquet('{src}')"
            )
        pending: dict[str, str] = {}
        n_oracle = 0
        try:
            for key in sorted(outs):
                got = canon_hash(outs[key])
                if key not in registry.ORACLES:
                    pending[key] = got
                    continue
                n_oracle += 1
                want = canon_hash(con.sql(registry.ORACLES[key]).df())
                if got != want:
                    self.mismatches.append(f"{key}: hash {got} != oracle {want}")
        finally:
            con.close()
        return pending, n_oracle

    def check_repeats(self, pending: dict, outs: dict) -> None:
        """Keys without an oracle must be declared rows-only in
        ROWS_ONLY.json, return rows, and hash the same on both passes."""
        with open(os.path.join(ROOT, "ROWS_ONLY.json")) as f:
            rows_only = set(json.load(f)["keys"])
        for key, first in sorted(pending.items()):
            if key not in rows_only:
                self.mismatches.append(f"{key}: no oracle and not rows-only")
            elif key not in outs:
                continue  # its second call failed and is counted as such
            elif self.rows.get(key, 0) == 0 or canon_hash(outs[key]) != first:
                self.mismatches.append(
                    f"{key}: {self.rows.get(key, 0)} rows, "
                    "hash differs between passes"
                )

    def run_probes(self) -> None:
        """Keys kept out of the loop because they fail: each traced run
        calls them once, uncounted, so the failure stays in the output."""
        from trireme_spark import registry

        for key in self.wl.probes:
            try:
                pdf = registry.QUERIES[key](self.spark, self.data_dir).toPandas()
                self.notes.append(f"probe {key}: ok, {len(pdf)} rows")
            except Exception as exc:  # the probe exists to report this
                for q in self.spark.streams.active:
                    q.stop()
                lines = str(exc).splitlines()
                cause = next(
                    (ln.strip() for ln in lines
                     if "Error:" in ln and "PYTHON" not in ln),
                    lines[0] if lines else "",
                )
                self.notes.append(
                    f"probe {key}: FAILED ({type(exc).__name__}; {cause[:160]})"
                )

    # -- the run ------------------------------------------------------
    def run(self) -> dict:
        traced = bool(self.args.trace)
        get_spark_s: list[float] = []
        if traced:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        t0 = time.perf_counter()
        setup_times = self.setup()
        self.notes.append(f"set-up phase wall {time.perf_counter() - t0:.1f} s")
        if traced:
            get_spark_s = self.tracer.durations("session.get_spark")[1:]
            self.tracer.uninstall()
        ticks0 = host_cpu_ticks()
        marks = [time.perf_counter()]
        cold = self.run_pass(0, keep=set(self.keys))
        marks.append(time.perf_counter())
        pending, n_oracle = self.check_oracles(cold.pop("outs"))
        marks.append(time.perf_counter())
        warm = self.run_pass(1, keep=set(pending))  # untimed warm-up
        self.check_repeats(pending, warm["outs"])
        marks.append(time.perf_counter())
        passes = self._timed(traced)
        marks.append(time.perf_counter())
        delta = [b - a for a, b in zip(ticks0, host_cpu_ticks())]
        # Time the host gave this machine's CPUs to other machines: wall
        # times from a run with a large share here are not comparable.
        self.notes.append(
            f"host steal {100 * delta[7] / max(1, sum(delta)):.1f}% of CPU "
            "time during the passes"
        )
        if traced:
            self.run_probes()
        marks.append(time.perf_counter())
        self.notes.append("phase wall s: " + " ".join(
            f"{name} {b - a:.1f}" for name, a, b in zip(
                ("cold", "oracles", "warm-up", "timed", "probes"),
                marks, marks[1:],
            )
        ))
        self._print_header(cold, passes, n_oracle, len(pending))
        if traced:
            metrics = self._layers(passes, get_spark_s)
        else:
            metrics = self._end_to_end(setup_times, cold, passes)
        return {
            "correct": not self.mismatches,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def _timed(self, traced: bool) -> list[dict]:
        """Whole passes until --seconds have passed, at least two; traced
        runs alternate untraced and traced passes, two of each at least."""
        from tracing import SparkProbe

        start = time.perf_counter()
        passes: list[dict] = []
        # At least two passes of each kind: a median of one pass is one
        # sample, and counts can only be seen to repeat across two.
        while time.perf_counter() - start < self.args.seconds or (
            len(passes) < (4 if traced else 2)
        ):
            passes.append(self.run_pass(len(passes) + 2))
            if traced:
                self.tracer.install()
                self.probe = SparkProbe(self.spark, self.cores)
                self.tracer.job_counter = self.probe.jobs_started
                passes.append(self.run_pass(len(passes) + 2, traced=True))
                self.probe.close()
                self.tracer.uninstall()
        return passes

    # -- reporting ----------------------------------------------------
    def _print_header(self, cold, passes, n_oracle: int, n_rows_only: int) -> None:
        wl = self.wl
        dup = f" x{wl.dup}" if wl.dup > 1 else ""
        print(f"workload {wl.name}: {len(self.keys)} keys, sf {stage.SF}{dup}, "
              f"toPandas sink, seed {self.seed}, local[{self.cores}], "
              "closed loop, 1 caller")
        print("keys " + " ".join(self.keys))
        for note in self.notes:
            print(note)
        print("cold pass per key: " + " ".join(
            f"{r['key']}={r['s']:.3f}" for r in cold["recs"] if "s" in r))
        timed = [p for p in passes if not p["traced"]]
        print("timed passes: " + " ".join(f"{p['s']:.3f}" for p in timed))
        print("timed median per key: " + " ".join(
            f"{k}={statistics.median(r['s'] for p in timed for r in p['recs'] if r['key'] == k and 's' in r):.3f}"
            for k in self.keys))
        for msg in self.mismatches:
            print(f"MISMATCH {msg}")
        for msg in self.failures:
            print(f"FAILED {msg}")
        print(f"correctness: {len(self.mismatches)} mismatches; "
              f"{n_oracle} keys against their DuckDB oracle, "
              f"{n_rows_only} rows-only keys by rows and repeat hash")

    def _end_to_end(self, setup_times, cold, passes) -> dict:
        samples = [r["s"] for p in passes for r in p["recs"] if "s" in r]
        pct = tail_percentile(len(samples))
        tail = percentile(samples, pct)
        beyond = sum(1 for s in samples if s > tail)
        short = " (n<20 supports no tail)" if len(samples) < 20 else ""
        values = {
            "setup_s": (statistics.median(setup_times),
                        f"median of {len(setup_times)} set-ups: "
                        + ", ".join(f"{t:.3f}" for t in setup_times)),
            "cold_pass_s": (cold["s"], f"{len(cold['recs'])} keys"),
            "pass_s": (statistics.median(p["s"] for p in passes),
                       f"median of {len(passes)} timed passes"),
            "query_s_p50": (statistics.median(samples),
                            f"n={len(samples)} key calls"),
            "query_s_tail": (tail, f"p{pct}, n={len(samples)}, "
                                   f"{beyond} beyond{short}"),
            "peak_rss_mb": (peak_rss_mb(), "VmHWM, python driver + JVM"),
        }
        for name, (v, note) in values.items():
            print(f"{name:<20} {v:12.4f} {END_TO_END_UNITS[name]:<6} {note}")
        failed = len(self.failures)
        print(f"{'fail_ratio':<20} {failed / self.attempted:12.4f} ratio  "
              f"{failed} failed of {self.attempted} key executions")
        print(f"{'oracle_mismatches':<20} {len(self.mismatches):12d} count")
        return {
            name: {"value": v, "unit": END_TO_END_UNITS[name]}
            for name, (v, _) in values.items() if name not in UNGATED
        }

    def _layers(self, passes, get_spark_s) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        per_pass = [self._pass_layers(p) for p in traced]
        out = {
            name: statistics.median(m[name] for m in per_pass)
            for name in PER_LAYER_UNITS
        }
        out["session.get_spark_s"] = statistics.median(get_spark_s)
        out["trace.overhead_ratio"] = (
            statistics.median(p["s"] for p in traced)
            / statistics.median(p["s"] for p in plain)
        )
        varying = [c for c in COUNTS if len({m[c] for m in per_pass}) > 1]
        print(f"per-layer: median of {len(traced)} traced passes, "
              f"{len(plain)} untraced passes around them; "
              "task-s = summed over tasks, never a share of wall time")
        print("counts that differ between traced passes: "
              + (", ".join(varying) if varying else "none"))
        for name, unit in PER_LAYER_UNITS.items():
            print(f"{name:<28} {out[name]:16.4f} {unit}")
        self.tracer.dump(os.path.join(
            ROOT, ".perfbench",
            f"spans-{self.wl.name}-seed{self.seed}-{os.getpid()}.jsonl",
        ))
        return {
            name: {"value": out[name], "unit": unit}
            for name, unit in PER_LAYER_UNITS.items()
        }

    def _pass_layers(self, p: dict) -> dict:
        """Per-layer figures of one traced pass."""
        m = {name: 0.0 for name in PER_LAYER_UNITS}
        selfs = self.tracer.self_times(p["no"])

        def layer(span: str) -> tuple[float, int]:
            return selfs.get(span, (0.0, 0))

        m["session.prep_s"], m["session.prep_calls"] = layer("session.prep")
        m["io.table_s"], m["io.table_calls"] = layer("io.table")
        m["parity.dsum_s"], m["parity.dsum_calls"] = layer("parity.dsum")
        for op in ("similarity", "graph", "clustering"):
            m[f"operators.{op}_s"] = layer(f"operators.{op}")[0]
        m["io.schema_jobs"] = self.tracer.jobs_in.get(p["no"], 0)
        triggers: list[float] = []
        for r in p["recs"]:
            if "error" in r:
                continue
            m["queries.build_s"] += r["build_s"]
            m["queries.build_jobs"] += r["build_jobs"]
            m["queries.build_job_s"] += r["build_job_s"]
            m["queries.build_py4j_calls"] += r["build_py4j"]
            m["sink.s"] += r["sink_s"]
            m["sink.rows"] += self.rows.get(r["key"], 0)
            for name, v in r["spark"].items():
                m[name] += v
            triggers += r["triggers"]
        m["queries.build_py_s"] = m["queries.build_s"] - m["queries.build_job_s"]
        if triggers:
            m["streaming.trigger_s_p50"] = statistics.median(triggers)
        m["compute.core_utilization"] = (
            m["compute.executor_run_s"] / (p["s"] * self.cores)
        )
        return m


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "trireme_spark")):
        print(f"perfbench: no trireme_spark package in {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the program, importable as if installed
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    # A termination request unwinds through bench.exit() like an error.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, WORKLOADS[args.workload])
    bench.enter()
    try:
        result = bench.run()
    except Exception:  # report, clean up, exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        bench.exit()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
