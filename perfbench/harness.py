"""Shared benchmark plumbing: environment pinning, the Spark session,
spans, Spark counters read from outside the program, and result output.

Nothing here reaches into the engine's private helpers: counters come from
Spark's own status store (job → stage ids → ``lastStageAttempt``), spans
wrap calls the benchmark makes, and the session comes from the public
``session.get_spark`` factory.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pin_environment() -> dict:
    """Pin the knobs the engine reads at import time, before it is
    imported: shuffle partitions follow the core count, Python workers find
    the package, and the JVM heap stays modest on a shared machine."""
    ncpu = os.cpu_count() or 1
    try:
        ncpu = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "cpus": ncpu,
        "jvm_heap": os.environ["SPARK_DRIVER_MEMORY"],
        "python": sys.version.split()[0],
        "loadavg_start": list(os.getloadavg()),
    }


def start_session():
    from postgres_cdc_example_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()  # first job: executor and codegen warm
    return spark, time.perf_counter() - t0


def progress_listener():
    """The engine's ``ProgressListener``, also keeping the wall time each
    progress event arrived (its micro-batch's end)."""
    from postgres_cdc_example_spark.streaming.monitor import ProgressListener

    class Timed(ProgressListener):
        def onQueryProgress(self, event):  # noqa: N802
            super().onQueryProgress(event)
            self.progress[-1]["received"] = time.time()

    return Timed()


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# --- memory -----------------------------------------------------------------


def _proc_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus the Spark JVM (and any other
    descendant), summed over the process tree."""
    seen, stack, total = set(), [os.getpid()], 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _proc_hwm_kb(pid)
        stack += _children(pid)
    return total / 1024.0


# --- spans ------------------------------------------------------------------


class Tracer:
    """Nested wall-clock spans recorded around the benchmark's own calls
    into each layer.  Disabled tracers cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, unit: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "unit": unit,
                "parent": stack[-1] if stack else None,
                "start": time.time(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, unit=None, parent=None, **attrs):
        """Record a span measured elsewhere (progress events, Spark jobs);
        returns its id for use as a parent."""
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "unit": unit, "parent": parent,
                               "start": start, "end": end, **attrs})
        return sid

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)


# --- Spark counters ---------------------------------------------------------

_STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",
    "inputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "diskBytesSpilled",
    "memoryBytesSpilled",
)


def _opt(o):
    return o.get() if o is not None and o.isDefined() else None


class SparkCounters:
    """Job and stage counters from Spark's status store, read from outside.

    The store keeps only the most recent jobs and stages (1000 by default),
    so callers read right after each unit of work.
    """

    def __init__(self, spark):
        self.read_s = 0.0  # time spent reading counters: the trace's own cost
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, since_job_id: int = -1) -> list[dict]:
        """Every job with id > ``since_job_id``: id, description, group,
        call site, submit/complete times (epoch s) and stage ids."""
        t0 = time.perf_counter()
        seq = self.store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = int(j.jobId())
            if jid <= since_job_id:
                continue
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            stages = j.stageIds()
            out.append(
                {
                    "id": jid,
                    "name": str(j.name()),
                    "description": _opt(j.description()),
                    "group": _opt(j.jobGroup()),
                    "submitted": sub.getTime() / 1000.0 if sub is not None else None,
                    "completed": done.getTime() / 1000.0 if done is not None else None,
                    "stages": [int(stages.apply(k)) for k in range(stages.size())],
                }
            )
        out.sort(key=lambda r: r["id"])
        self.read_s += time.perf_counter() - t0
        return out

    def stage(self, stage_id: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            s = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # skipped stages never ran and have no attempt
            return None
        return {f: int(getattr(s, f)()) for f in _STAGE_FIELDS}

    def totals(self, stage_ids) -> dict:
        t0 = time.perf_counter()
        tot = {f: 0 for f in _STAGE_FIELDS}
        n = 0
        for sid in set(stage_ids):
            d = self.stage(sid)
            if d is None:
                continue
            n += 1
            for f in _STAGE_FIELDS:
                tot[f] += d[f]
        tot["stages"] = n
        self.read_s += time.perf_counter() - t0
        return tot

    def last_job_id(self) -> int:
        jobs = self.jobs()
        return jobs[-1]["id"] if jobs else -1


# --- results ----------------------------------------------------------------


class Result:
    """Collects metrics and the correctness verdict, prints the summary."""

    def __init__(self, workload: str, seed: int, trace: bool, env: dict):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.env = env
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.e2e: dict[str, tuple[float, str]] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.valid = True
        self.notes: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks[name] = bool(ok)
        if not ok:
            self.notes.append(f"check {name} failed {detail}".strip())
        return bool(ok)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(self.checks.values()) and self.valid

    def emit(self, declared_e2e, declared_layer, e2e_units, layer_units) -> None:
        env = dict(self.env, loadavg_end=list(os.getloadavg()))
        print(
            json.dumps(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "trace": int(self.trace),
                    "env": env,
                    "valid": self.valid,
                    "checks": self.checks,
                    "notes": self.notes,
                    "named": {k: {"value": v, "unit": u} for k, (v, u) in self.named.items()},
                }
            ),
            flush=True,
        )
        src = self.layer if self.trace else self.e2e
        names = declared_layer if self.trace else declared_e2e
        units = layer_units if self.trace else e2e_units
        metrics = {}
        for n in names:
            v = src.get(n, (0.0, None))[0]  # 0: layer not exercised here
            metrics[n] = {"value": float(v), "unit": units[n]}
        print(
            json.dumps(
                {
                    "correct": self.correct,
                    "attempted": max(int(self.attempted), 1),
                    "failed": int(self.failed),
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
