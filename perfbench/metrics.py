"""The benchmark's metric declarations — the single source the runner
prints from and ``BENCHMARK.json`` must agree with (``selftest.py``
checks both directions).

Every run prints every declared metric of its mode.  An end-to-end metric
has one meaning per workload (see ``METRICS.md``); a per-layer metric of a
layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import json

# The workloads BENCHMARK.json lists, with why each exists (one run of
# each fits the per-run budget)
WORKLOADS = {
    "cdc_replicate": "CDC stream: catch-up stresses decode/compact/apply; 2 s-trigger latency at 100 and 10k events/s stresses the full-state rewrite and job floor. Touches no queries.* or dedup",
    "query_mix": "batch surface: 11 registered queries from six families (cdc, tpch, pairs, composition, embedding, relational); exercises queries.* and similarity, none of the stream layers",
}
# Runnable with the same command but not listed: one run takes 65-85 s
# on 4 cores, mostly fixed per-micro-batch cost, which the per-run budget
# of a listed workload cannot hold.
EXTRA_WORKLOADS = {
    "curation_drain": "LLM-data stream: wal2json documents through the 9-stage curation pipeline, available-now",
}

RUN_SECONDS = 12  # cdc_replicate: 10 s at the low rate, 2 s at the high rate

# name, unit, better, bound.  On a shared 4-core VM, ten seeds of the same
# code spread (IQR / median) 5% (cdc_replicate throughput) to 18%
# (query_mix latency), mostly whole-run slowdowns of the host (session
# start alone ranged 8-15 s), so every bound is the largest allowed.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
]

_CDC = [
    ("cdc.trigger_ms.p50", "ms"),
    ("cdc.trigger_ms.p95", "ms"),
    ("cdc.add_batch_ms.p50", "ms"),
    ("cdc.planning_ms.p50", "ms"),
    ("cdc.offsets_ms.p50", "ms"),
    ("cdc.backlog_files.max", "count"),
    ("gen.late_s.max", "s"),
    ("changelog.scans_per_line", "ratio"),
    ("changelog.dead_letter_frac", "ratio"),
    ("apply.events_per_key", "ratio"),
    ("apply.shuffle_bytes_per_batch", "bytes"),
    ("state.commit_ms.p50", "ms"),
    ("state.rows_rewritten_per_changed_key", "ratio"),
    ("state.bytes_written_per_batch", "bytes"),
    ("state.read_ms.p50", "ms"),
    ("monitor.call_ms.p50", "ms"),
    ("monitor.lag_s.max", "s"),
    ("spark.jobs_per_batch", "count"),
    ("spark.stages_per_batch", "count"),
    ("spark.tasks_per_batch", "count"),
    ("spark.executor_run_ms_per_batch", "ms"),
    ("spark.spill_bytes", "bytes"),
]

CURATION_STORES = ("totals", "pairs", "bands", "mixture", "packs", "quota", "seen")
CURATION_STAGES = (
    "wire_lines", "decode_dead_letter", "drift_dead_letter", "schema_clean", "exact_dedup",
    "neardup_candidates", "decontam_gate", "quality_gate", "quota_admitted",
)
_CURATION = (
    [
        ("curation.batch_ms.p50", "ms"),
        ("curation.jobs_per_batch", "count"),
        ("curation.shuffle_bytes_per_batch", "bytes"),
        ("curation.executor_run_ms_per_batch", "ms"),
        ("curation.scans_per_line", "ratio"),
        ("curation.novel_frac", "ratio"),
        ("curation.admit_frac", "ratio"),
    ]
    + [(f"curation.commit_ms.{s}", "ms") for s in CURATION_STORES]
    + [(f"curation.stage_units.{s}", "count") for s in CURATION_STAGES]
    + [(f"curation.state_rows.{s}", "count") for s in ("bands", "pairs", "seen")]
)

FAMILIES = ("cdc", "tpch", "pairs", "composition", "embedding", "relational")
_MIX = [
    (f"mix.{fam}.{m}", u)
    for fam in FAMILIES
    for m, u in (("exec_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"), ("executor_run_s", "s"))
] + [("mix.build_ms", "ms"), ("mix.plan_ms", "ms"), ("mix.exec_ms", "ms")]

_COMMON = [
    # Run-level numbers whose run-to-run spread is too wide for an
    # end-to-end bound: the latency tail (set by the slowest micro-batch or
    # query of the run) and peak RSS (JVM heap growth, ~18%)
    ("run.latency_p99_s", "s"),
    ("run.peak_rss_mb", "MB"),
    ("run.failed_frac", "ratio"),
    ("trace.counter_read_s", "s"),
    ("trace.overhead_frac", "ratio"),
]

PER_LAYER = _CDC + _MIX + _COMMON
CURATION_LAYER = _CURATION  # printed in addition by curation_drain

# per-layer metrics where a larger value is the better one (others: lower)
HIGHER = {"apply.events_per_key", "curation.novel_frac", "curation.admit_frac"}


def better(name: str) -> str:
    return "higher" if name in HIGHER else "lower"


E2E_UNITS = {n: u for n, u, _, _ in END_TO_END}
LAYER_UNITS = dict(PER_LAYER + _CURATION)


def benchmark_declaration() -> dict:
    """The content of BENCHMARK.json (``python3 perfbench/metrics.py``
    prints it)."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": better(n)} for n, u in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_declaration(), indent=2))
