"""``cdc_replicate``: the reference's replication job in pubsub mode.

Snapshot backfill, then ONE ``processingTime=2s`` query drains a
pre-written backlog of change files (catch-up) and then serves an
open-loop publisher at a low and a high event rate while the 5 s monitor
reads lag and target count beside the stream's writes.  The final state
must equal an independent serial fold of the generated log.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time

import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import median, percentile, progress_listener

TRIGGER_S = 2.0
MONITOR_S = 5.0
FILE_PERIOD_S = 0.25  # 8 files per trigger: maxFilesPerTrigger (16) never binds
MAX_FILES_PER_TRIGGER = 16
LOW_RATE = 100
HIGH_RATE = 10_000
# share of the measured seconds spent at the low rate: 10 of 12 s gives
# the low-rate p99 ten samples beyond it
LOW_SHARE = 5 / 6
WARM_BATCHES = 2  # micro-batches of the set-up warm-up drain
# unmeasured low-rate lead-in (one trigger): the first small micro-batch
# after the catch-up plans fresh code paths
WARM_S = 2.0

# The backlog spans four full 16-file micro-batches, each taking about one
# 2 s trigger interval on 4 cores, so the micro-batches run back to back.
FULL = {"state_rows": 20_000, "backlog_files": 64, "backlog_file_events": 500, "setup_reps": 3}
TINY = {"state_rows": 2_000, "backlog_files": 32, "backlog_file_events": 10, "setup_reps": 2}


# --- the independent oracle ---------------------------------------------------


def serial_fold(snapshot: dict[int, tuple], lines: list[str], even_only: bool):
    """Replay the change log one event at a time, as ``replicator/main.go``
    does: upsert I (``created_at`` kept on conflict), update-if-present U,
    delete D; malformed lines and other tables are skipped.  With
    ``even_only`` the publication filter ``score % 2 = 0`` applies, with
    its U→D/I transform.  Returns (source_table, target_table)."""
    source = dict(snapshot)
    target = {k: v for k, v in snapshot.items() if not even_only or v[2] % 2 == 0}
    for line in lines:
        try:
            ev = json.loads(line)
        except ValueError:
            continue
        if ev.get("table") != "person" or not ev.get("action"):
            continue
        act = ev["action"]
        cols = {c["name"]: c["value"] for c in ev.get("columns") or []}
        ident = {c["name"]: c["value"] for c in ev.get("identity") or []}
        key = int(cols.get("id") or ident.get("id"))
        row = None
        if cols:
            row = (cols["name"], cols["uid"], int(cols["score"]), cols.get("created_at"))
        for table, filtered in ((source, False), (target, even_only)):
            a = act
            if filtered and a in ("I", "U"):
                passes = row[2] % 2 == 0
                if a == "U":
                    a = "I" if passes else "D"
                elif not passes:
                    continue
            if a == "D":
                table.pop(key, None)
            elif a == "I":
                old = table.get(key)
                created = old[3] if old is not None else _to_us(row[3])
                table[key] = (row[0], row[1], row[2], created)
            elif a == "U" and key in table:
                old = table[key]
                table[key] = (row[0], row[1], row[2], old[3])
    return source, target


def state_diff(got: dict, want: dict) -> set:
    """Keys whose rows differ between two id -> row tables."""
    return {k for k in set(got) | set(want) if got.get(k) != want.get(k)}


def _to_us(text):
    if text is None:
        return None
    import numpy as np

    return int(np.datetime64(text.replace(" ", "T"), "us").astype("int64"))


# --- the run ------------------------------------------------------------------


def _on_grid(t: float) -> float:
    """The first trigger-grid instant at or after ``t``."""
    return math.ceil(t / TRIGGER_S) * TRIGGER_S


def _write(path: str, lines: list[str], mtime: float | None = None) -> None:
    """Write a change file atomically.  The file source takes files oldest
    first by modification time, so the log's order across micro-batches is
    carried by strictly increasing mtimes."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def _batch_files(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(p)
        if not base.split(".")[0].isdigit():
            continue
        try:
            with open(p) as f:
                rows = f.read().splitlines()[1:]
        except OSError:
            continue
        for r in rows:
            try:
                d = json.loads(r)
            except ValueError:
                continue
            out[os.path.basename(d["path"])] = int(d["batchId"])
    return out


def _commit_end(state_root: str, batch_id: int) -> float | None:
    p = os.path.join(state_root, f"v{batch_id + 1:08d}", "_SUCCESS")
    try:
        return os.stat(p).st_mtime
    except OSError:
        return None


def _wait_applied(pipe, names, q, timeout) -> tuple[dict, float]:
    """Block until every file in ``names`` is in a micro-batch whose state
    version is committed (data written and ``_LATEST`` advanced); returns
    (file→batch map, latest commit end among them)."""
    ckpt, state_root = pipe.checkpoint_dir, pipe.store.root
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        fb = _batch_files(ckpt)
        if all(n in fb for n in names):
            last = max(fb[n] for n in names)
            ends = [_commit_end(state_root, fb[n]) for n in names]
            if all(e is not None for e in ends) and (pipe.store.latest_version() or 0) > last:
                return fb, max(ends)
        time.sleep(0.05)
    raise TimeoutError("stream did not apply its input in time")


class _Monitor(threading.Thread):
    """The pubsub monitor loop: every 5 s from ``first_tick``, replication
    lag and target count read from the state beside the stream's writes."""

    def __init__(self, pipe, tracer, first_tick: float):
        super().__init__(daemon=True)
        self.pipe, self.tracer, self.next_tick = pipe, tracer, first_tick
        self.stop_evt = threading.Event()
        self.calls: list[dict] = []
        self.error: Exception | None = None

    def run(self):
        from pyspark.sql import functions as F

        from postgres_cdc_example_spark.streaming.monitor import replication_lag_seconds

        self.pipe.spark.sparkContext.setJobGroup("perfbench-monitor", "lag monitor")
        while not self.stop_evt.wait(max(self.next_tick - time.time(), 0.0)):
            self.next_tick += MONITOR_S
            try:
                with self.tracer.span("streaming.monitor.call"):
                    t0 = time.perf_counter()
                    state = self.pipe.state()
                    t1 = time.perf_counter()
                    row = replication_lag_seconds(state, "created_at").crossJoin(
                        state.agg(F.count(F.lit(1)).alias("n"))
                    ).collect()[0]
                    t2 = time.perf_counter()
                self.calls.append(
                    {"read_ms": (t1 - t0) * 1e3, "call_ms": (t2 - t0) * 1e3,
                     "lag_s": row["lag_seconds"], "rows": row["n"]}
                )
            except Exception as e:  # reported, never fatal to the stream
                self.error = e


def run(ctx, res) -> None:
    from pyspark.sql import functions as F

    from postgres_cdc_example_spark.streaming.monitor import sync_check
    from postgres_cdc_example_spark.streaming.pipeline import CdcPipeline

    spark, tracer, seed = ctx.spark, ctx.tracer, ctx.seed
    size = TINY if ctx.tiny else FULL
    work = ctx.work_dir
    pred = F.col("score") % 2 == 0

    # inputs (not timed): snapshot table + backlog files
    snap = datagen.person_snapshot(size["state_rows"], seed)
    snap_path = os.path.join(work, "snapshot.parquet")
    pq.write_table(datagen.snapshot_table(snap), snap_path)
    gen = datagen.PersonChangeGenerator(snap, seed)
    all_lines: list[str] = []
    backlog: list[tuple[str, list[str]]] = []
    file_lines: dict[str, list[str]] = {}  # every change file, in log order
    virt = datagen.SNAPSHOT_CREATED_US + 10**12
    for i in range(size["backlog_files"]):
        n = size["backlog_file_events"]
        lines = gen.lines(n, [virt + (i * n + j) * 1000 for j in range(n)])
        backlog.append((f"b{i:05d}.jsonl", lines))
        file_lines[backlog[-1][0]] = lines
        all_lines += lines

    # setup (timed): snapshot backfill, repeated into fresh stores
    setup = []
    pipes = []
    for r in range(size["setup_reps"]):
        d = os.path.join(work, f"rep{r}")
        with tracer.span("setup.backfill", unit=f"rep{r}"):
            t0 = time.perf_counter()
            pipe = CdcPipeline(
                spark,
                source_dir=os.path.join(d, "src"),
                state_root=os.path.join(d, "state"),
                checkpoint_dir=os.path.join(d, "ckpt"),
                predicate=pred,
                trigger_interval=f"{int(TRIGGER_S)} seconds",
            )
            pipe.backfill(spark.read.parquet(snap_path))
            setup.append(time.perf_counter() - t0)
        pipes.append(pipe)
    ctx.setup_work_s = median(setup)

    # warm-up (timed into set-up): drain two micro-batches of an unrelated
    # log, shaped like the backlog, through the first throwaway store, so
    # the catch-up does not time the JVM's compilation of the apply path
    warm = pipes[0]
    os.makedirs(warm.source_dir)
    wgen = datagen.PersonChangeGenerator(snap, seed + 1)
    n = size["backlog_file_events"]
    for i in range(WARM_BATCHES * MAX_FILES_PER_TRIGGER):
        _write(os.path.join(warm.source_dir, f"w{i:05d}.jsonl"), wgen.lines(n, [virt] * n),
               mtime=time.time() - 3600 + i * 0.01)
    with tracer.span("setup.warm_drain"):
        t0 = time.perf_counter()
        warm.start(available_now=True).awaitTermination(120)
        ctx.warmup_s = time.perf_counter() - t0

    pipe = pipes[-1]
    src, ckpt, state_root = pipe.source_dir, pipe.checkpoint_dir, pipe.store.root
    os.makedirs(src, exist_ok=True)
    past = time.time() - 3600
    for i, (name, lines) in enumerate(backlog):
        _write(os.path.join(src, name), lines, mtime=past + i * 0.01)

    listener = progress_listener()
    spark.streams.addListener(listener)
    q = monitor = None
    first_job = ctx.counters.last_job_id() if ctx.counters else -1
    try:
        # --- catch-up ---------------------------------------------------
        # The query starts just past a trigger-grid instant, so the catch-up
        # runs on the same poll schedule in every run.
        time.sleep(_on_grid(time.time()) + 0.05 - time.time())
        with tracer.span("phase.catchup"):
            t_start = time.time()
            q = pipe.start()
            fb, catchup_end = _wait_applied(pipe, [n for n, _ in backlog], q, 150)
        catchup_batches = sorted({fb[n] for n, _ in backlog})
        first_end = _commit_end(state_root, catchup_batches[0])

        # --- steady phase: open-loop publisher at two rates --------------
        # Files are generated first (untimed, the query idles meanwhile);
        # each event's created_at is its scheduled creation instant, evenly
        # spaced inside its file's 0.25 s slot.
        files = []  # (phase, file name, slot offset from t0, events)
        phases = (("warm", LOW_RATE, WARM_S), ("low", LOW_RATE, ctx.seconds * LOW_SHARE),
                  ("high", HIGH_RATE, ctx.seconds * (1 - LOW_SHARE)))
        for phase, rate, secs in phases:
            for _ in range(max(int(round(secs / FILE_PERIOD_S)), 1)):
                files.append((phase, f"s{len(files):05d}.jsonl",
                              len(files) * FILE_PERIOD_S, max(int(rate * FILE_PERIOD_S), 1)))
        staging = os.path.join(work, "staging")
        os.makedirs(staging)
        # Idle triggers fire on the epoch grid of the trigger interval; files
        # are published 0.125 s + k × 0.25 s past a trigger instant, so no
        # file races a trigger's directory listing.
        t0 = _on_grid(time.time() + 1.0 + sum(f[3] for f in files) * 2e-5) - FILE_PERIOD_S / 2
        created: dict[str, list[float]] = {}
        for phase, name, off, per_file in files:
            ts = [t0 + off + FILE_PERIOD_S * (j + 1) / per_file for j in range(per_file)]
            lines = gen.lines(per_file, [int(t * 1e6) for t in ts])
            created[name] = ts
            file_lines[name] = lines
            all_lines += lines
            _write(os.path.join(staging, name), lines)
        # if generation overran its estimate, the whole schedule moves later
        # by whole trigger intervals; latency is measured from the schedule
        # actually used
        delta = _on_grid(time.time() + 0.3 - t0) if time.time() + 0.3 > t0 else 0.0
        t0 += delta
        lateness = []
        # the monitor ticks from a fixed offset to the trigger grid, so its
        # reads overlap the same micro-batches in every run
        monitor = _Monitor(pipe, tracer, first_tick=t0 + FILE_PERIOD_S / 2 + 1.0)
        monitor.start()
        with tracer.span("phase.steady"):
            for phase, name, off, per_file in files:
                due = t0 + off + FILE_PERIOD_S
                d = due - time.time()
                if d > 0:
                    time.sleep(d)
                staged = os.path.join(staging, name)
                os.utime(staged)  # published now: newer than every file before it
                os.replace(staged, os.path.join(src, name))
                lateness.append(time.time() - due)
            fb, _ = _wait_applied(pipe, [f[1] for f in files], q, 60)
            q.processAllAvailable()
    finally:
        if monitor is not None:
            monitor.stop_evt.set()
            monitor.join(30)
        if q is not None:
            q.stop()
            q.awaitTermination(30)
        spark.streams.removeListener(listener)

    # --- latency per event: scheduled creation -> its batch's state commit
    lat = {"warm": [], "low": [], "high": []}
    files_per_batch: dict[int, int] = {}
    for phase, name, off, per_file in files:
        b = fb[name]
        files_per_batch[b] = files_per_batch.get(b, 0) + 1
        end = _commit_end(state_root, b)
        lat[phase] += [end - (t + delta) for t in created[name]]
    steady_batches = sorted({fb[name] for phase, name, _, _ in files if phase != "warm"})

    res.attempted = len(all_lines)
    # --- correctness gate: independent serial fold ----------------------
    with tracer.span("check.fold"):
        source, target = serial_fold(snap, all_lines, even_only=True)
        got = {}
        for r in pipe.state().toPandas().itertuples(index=False):
            c = r.created_at
            got[int(r.id)] = (r.name, r.uid, int(r.score), None if c is None else int(c.value // 1000))
        bad = state_diff(got, target)
        res.failed = len(bad)
        sample = [(k, got.get(k), target.get(k)) for k in sorted(bad)[:3]]
        res.check("state_equals_serial_fold", not bad,
                  f"{len(bad)} keys differ, e.g. {sample}; state version "
                  f"{pipe.store.latest_version()} after micro-batch {max(fb.values())}")
        src_rows = [(k, *v[:3], None) for k, v in source.items()]
        source_df = spark.createDataFrame(src_rows, "id long, name string, uid string, score int, created_at timestamp_ntz")
        verdict = sync_check(source_df, pipe.state(), pred).collect()[0]
        res.check("sync_check_in_sync", verdict["in_sync"] == 1)
    dead = sum(1 for ln in all_lines if not ln.endswith("}"))  # the truncated lines
    res.check("monitor_reads_ok", monitor.error is None, str(monitor.error))
    res.check("dead_letters_counted", pipe.dead_letter_count == dead,
              f"{pipe.dead_letter_count} != {dead}")

    # --- run validity ----------------------------------------------------
    late_max = max(lateness) if lateness else 0.0
    backlog_max = max(files_per_batch.values()) if files_per_batch else 0
    if late_max > 1.0:
        res.valid = False
        res.notes.append(f"invalid run: publisher fell behind by {late_max:.2f} s")
    if backlog_max >= MAX_FILES_PER_TRIGGER:
        res.valid = False
        res.notes.append("invalid run: a steady micro-batch hit maxFilesPerTrigger (backlog grew)")

    # catch-up rate: backlog lines over the time from query start to the
    # commit that consumed the last backlog file, on the 2 s poll schedule
    eps = sum(len(lines) for _, lines in backlog) / (catchup_end - t_start)
    p = {ph: (percentile(v, 50), percentile(v, 99)) for ph, v in lat.items()}
    res.e2e.update(
        {
            "throughput_per_s": (eps, "1/s"),
            "latency_p50_s": (p["low"][0], "s"),
            "latency_p99_s": (p["low"][1], "s"),
        }
    )
    res.named.update(
        {
            "cdc_catchup_eps": (eps, "1/s"),
            "cdc_first_batch_s": (first_end - t_start, "s"),
            "cdc_lat_p50_s": (p["low"][0], "s"),
            "cdc_lat_p99_s": (p["low"][1], "s"),
            "cdc_lat_high_p50_s": (p["high"][0], "s"),
            "cdc_lat_high_p99_s": (p["high"][1], "s"),
            "cdc_lat_p99_within_4s": (float(p["low"][1] <= 2 * TRIGGER_S), "bool"),
            "cdc_lat_high_p99_within_4s": (float(p["high"][1] <= 2 * TRIGGER_S), "bool"),
        }
    )

    if ctx.trace:
        _layer_metrics(ctx, res, listener.progress, monitor.calls, fb, file_lines,
                       catchup_batches, steady_batches, [n for ph, n, _, _ in files if ph == "low"],
                       lateness, state_root, first_job, dead / len(all_lines))


def _layer_metrics(ctx, res, progress, calls, fb, file_lines, catchup_batches,
                   steady_batches, low_files, lateness, state_root, first_job, dead_frac):
    from perfbench import layers

    batch_lines: dict[int, list[str]] = {}
    for name, lines in file_lines.items():
        batch_lines.setdefault(fb[name], []).extend(lines)
    files_per_batch: dict[int, int] = {}
    for name in file_lines:
        files_per_batch[fb[name]] = files_per_batch.get(fb[name], 0) + 1
    prog = {p["batchId"]: p for p in progress}
    steady = [prog[b] for b in steady_batches if b in prog]
    low = [prog[b] for b in sorted({fb[n] for n in low_files}) if b in prog]

    def dur(ps, *keys):
        return [sum(p["durationMs"].get(k, 0) for k in keys) for p in ps]

    L = res.layer
    # streaming.pipeline: trigger breakdown from the progress events
    L["cdc.trigger_ms.p50"] = (percentile(dur(steady, "triggerExecution"), 50), "ms")
    L["cdc.trigger_ms.p95"] = (percentile(dur(steady, "triggerExecution"), 95), "ms")
    L["cdc.add_batch_ms.p50"] = (percentile(dur(steady, "addBatch"), 50), "ms")
    L["cdc.planning_ms.p50"] = (percentile(dur(low, "queryPlanning", "getBatch"), 50), "ms")
    L["cdc.offsets_ms.p50"] = (
        percentile(dur(low, "latestOffset", "walCommit", "commitOffsets"), 50), "ms")
    L["cdc.backlog_files.max"] = (
        float(max((files_per_batch[b] for b in steady_batches), default=0)), "count")
    L["gen.late_s.max"] = (max(lateness, default=0.0), "s")

    # sources.changelog: input rows the micro-batch scans per wire line
    wire = sum(len(v) for v in batch_lines.values())
    scanned = sum(prog[b]["numInputRows"] for b in batch_lines if b in prog)
    L["changelog.scans_per_line"] = (scanned / wire if wire else 0.0, "ratio")
    L["changelog.dead_letter_frac"] = (dead_frac, "ratio")

    # operators.cdc_apply: events per changed key (median over batches)
    keys = {b: layers.person_keys(ls) for b, ls in batch_lines.items()}
    L["apply.events_per_key"] = (
        median([n / len(k) for b, (n, k) in keys.items() if k]), "ratio")

    # Spark counters per micro-batch, attributed by the streaming job
    # description ("batch = N") read from the status store
    per_batch = layers.stream_batch_counters(ctx.counters, first_job)
    layers.spark_per_batch(L, "spark", [per_batch[b] for b in sorted(per_batch) if b in batch_lines])
    L["apply.shuffle_bytes_per_batch"] = (
        median([per_batch[b]["shuffleWriteBytes"] for b in catchup_batches if b in per_batch]),
        "bytes")

    # streaming.state: the commit job, bytes and rows each version rewrites
    commits, written, rows_per_key = [], [], []
    for b in steady_batches:
        vdir = os.path.join(state_root, f"v{b + 1:08d}")
        if b in per_batch:
            c = layers.commit_ms(per_batch[b], _commit_end(state_root, b))
            if c is not None:
                commits.append(c)
        written.append(layers.dir_bytes(vdir))
        if keys.get(b) and keys[b][1]:
            rows_per_key.append(layers.parquet_rows(vdir) / len(keys[b][1]))
    L["state.commit_ms.p50"] = (median(commits), "ms")
    L["state.bytes_written_per_batch"] = (median(written), "bytes")
    L["state.rows_rewritten_per_changed_key"] = (median(rows_per_key), "ratio")

    # streaming.monitor: the read beside the writes
    L["state.read_ms.p50"] = (median([c["read_ms"] for c in calls]), "ms")
    L["monitor.call_ms.p50"] = (median([c["call_ms"] for c in calls]), "ms")
    L["monitor.lag_s.max"] = (float(max((c["lag_s"] or 0 for c in calls), default=0)), "s")

    for b, p in sorted(prog.items()):
        end = p["received"]
        sid = ctx.tracer.add("stream.batch", end - p["durationMs"].get("triggerExecution", 0) / 1e3,
                             end, unit=f"batch{b}", durations=p["durationMs"])
        for j in per_batch.get(b, {}).get("job_list", []):
            ctx.tracer.add("spark.job", j["submitted"], j["completed"], unit=f"batch{b}",
                           parent=sid, job=j["id"])
