"""Per-layer measurement helpers shared by the workloads: attribute Spark
jobs to micro-batches or queries, fold their stage counters, and read
what a state commit left on disk."""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq

from perfbench.harness import median

_BATCH_RE = re.compile(r"batch = (\d+)")


def person_keys(lines: list[str]) -> tuple[int, set]:
    """(person change events, distinct keys they touch) in wire lines."""
    n, keys = 0, set()
    for ln in lines:
        try:
            ev = json.loads(ln)
        except ValueError:
            continue
        if ev.get("table") != "person":
            continue
        img = {c["name"]: c["value"] for c in (ev.get("columns") or ev.get("identity") or [])}
        n += 1
        keys.add(img.get("id"))
    return n, keys


def fold(counters, jobs: list[dict]) -> dict:
    """Stage totals over ``jobs`` plus job/stage counts."""
    stages = [s for j in jobs for s in j["stages"]]
    tot = counters.totals(stages)
    tot["jobs"] = len(jobs)
    tot["job_list"] = jobs
    return tot


def stream_batch_counters(counters, first_job: int) -> dict[int, dict]:
    """Counters per micro-batch for every job after ``first_job`` whose
    description carries the streaming batch id."""
    by_batch: dict[int, list] = {}
    for j in counters.jobs(first_job):
        m = _BATCH_RE.search(j["description"] or "")
        if m and j["group"] != "perfbench-monitor":
            by_batch.setdefault(int(m.group(1)), []).append(j)
    return {b: fold(counters, js) for b, js in by_batch.items()}


def spark_per_batch(L: dict, prefix: str, batches: list[dict]) -> None:
    """Median per-batch engine counters, plus total spill."""
    def med(k):
        return median([b[k] for b in batches])

    L[f"{prefix}.jobs_per_batch"] = (med("jobs"), "count")
    L[f"{prefix}.stages_per_batch"] = (med("stages"), "count")
    L[f"{prefix}.tasks_per_batch"] = (med("numTasks"), "count")
    L[f"{prefix}.executor_run_ms_per_batch"] = (med("executorRunTime"), "ms")
    L[f"{prefix}.spill_bytes"] = (
        float(sum(b["diskBytesSpilled"] + b["memoryBytesSpilled"] for b in batches)), "bytes")


def commit_ms(batch: dict, end: float | None) -> float | None:
    """The state write: from the submission of the batch's last job (the
    result stage that writes the version's files) to the version's
    ``_SUCCESS`` marker.  Streaming jobs all carry the query's call site,
    so the order of jobs is what identifies the write."""
    last = batch["job_list"][-1] if batch["job_list"] else None
    if last is None or end is None or last["submitted"] is None:
        return None
    return (end - last["submitted"]) * 1e3


def dir_bytes(path: str) -> float:
    total = 0
    for dp, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
    return float(total)


def parquet_rows(path: str) -> int:
    n = 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            n += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return n
