"""``query_mix``: a closed loop with one client over registered batch
queries, up to two per family, on a generated fixture set.

One untimed warm pass (part of set-up), then one timed pass in a
seed-shuffled order.  Each result is checked against a fingerprint of its
DuckDB oracle's answer on the same generated data (``fingerprints.json``,
regenerated by ``make_fingerprints.py``).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import random
import time

from perfbench import datagen, layers
from perfbench.harness import median, percentile

# The six families the benchmark's metrics group queries by.  The first
# two queries of each family (one for `composition`, whose queries take
# seconds each) are timed in the mix: the whole list does not fit one
# run's budget.  The rest are listed so that a query's family is defined
# in one place and their fingerprints stay ready.
FAMILY_QUERIES = {
    "cdc": ["cdc_apply_full", "monitor_sync_check", "cdc_compaction", "cdc_apply_idempotence",
            "cdc_schema_drift_audit", "cdc_gap_detection", "cdc_tombstone_retention"],
    "tpch": ["q9_product_type_profit", "q3_top_orders", "q1_pricing_summary",
             "q5_local_supplier_volume", "q10_returned_items", "q18_large_volume_customers",
             "q21_waiting_suppliers"],
    "pairs": ["dedup_minhash_lsh", "dedup_containment_pairs", "dedup_simhash",
              "dedup_minhash_calibration", "dedup_oph_calibration", "dedup_simhash_calibration",
              "lsh_recall_audit", "dedup_prefix_filter_pairs", "dedup_sorted_neighborhood"],
    "composition": ["pipeline_end_to_end", "dedup_mixture_shift", "corpus_dedup_summary"],
    "embedding": ["embedding_intrinsic_dim", "ann_cosine_topk", "ann_probe_recall_curve",
                  "dedup_embedding_cosine"],
    "relational": ["event_sessionization", "text_quality", "tfidf_keywords", "event_time_tumbling",
                   "rollup_region_revenue", "basket_part_pairs"],
}
MIX = {q: fam for fam, qs in FAMILY_QUERIES.items() for q in qs[: 1 if fam == "composition" else 2]}
DATA_SEED = 42  # the fixture set is fixed so its fingerprints can be committed
FULL_SF = 0.01
TINY_SF = 0.001
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


# --- result fingerprints (the tests' oracle normalization) -------------------


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive digest of a result: columns sorted by name, values
    normalized, rows sorted by repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr((sorted(columns), norm)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as f:
        return json.load(f)


def run(ctx, res) -> None:
    from postgres_cdc_example_spark import queries as Q

    spark, tracer = ctx.spark, ctx.tracer
    sf = TINY_SF if ctx.tiny else FULL_SF
    sf_dir = datagen.write_fixture_tables(os.path.join(ctx.work_dir, "sf"), sf, DATA_SEED)
    expected = load_fingerprints()[str(sf)]
    registry = Q.queries()
    names = list(MIX)
    family = MIX

    # set-up: one untimed warm pass in declared order
    t0 = time.perf_counter()
    with tracer.span("setup.warm_pass"):
        for name in names:
            registry[name](spark, sf_dir).collect()
    ctx.warmup_s = time.perf_counter() - t0

    order = names[:]
    random.Random(ctx.seed).shuffle(order)
    timings, results = {}, {}
    splits = {}
    t_pass = time.perf_counter()
    for name in order:
        group = f"perfbench:{name}"
        spark.sparkContext.setJobGroup(group, name)
        before = ctx.counters.last_job_id() if ctx.counters else -1
        with tracer.span("query", unit=name, family=family[name]):
            t0 = time.perf_counter()
            with tracer.span("query.build", unit=name):
                df = registry[name](spark, sf_dir)
            t1 = time.perf_counter()
            if ctx.trace:
                with tracer.span("query.plan", unit=name):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tracer.span("query.exec", unit=name):
                rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
        timings[name] = t3 - t0
        splits[name] = (t1 - t0, t2 - t1, t3 - t2)
        results[name] = (list(df.columns), rows)
        if ctx.counters:  # read right away: the status store keeps the last 1000 jobs
            jobs = [j for j in ctx.counters.jobs(before) if j["group"] == group]
            splits[name] += (layers.fold(ctx.counters, jobs),)
    mix_s = time.perf_counter() - t_pass
    spark.sparkContext.setJobGroup("perfbench:idle", "idle")

    res.attempted = len(order)
    bad = []
    for name in order:
        got = fingerprint(*results[name])
        if got != expected.get(name):
            bad.append(name)
    res.failed = len(bad)
    res.check("results_match_oracle_fingerprints", not bad, f"mismatch: {bad}")

    lat = list(timings.values())
    res.e2e.update(
        {
            "throughput_per_s": (len(order) / mix_s, "1/s"),
            "latency_p50_s": (percentile(lat, 50), "s"),
            "latency_p99_s": (percentile(lat, 99), "s"),
        }
    )
    res.named.update(
        {
            "query_mix_s": (mix_s, "s"),
            "query_p50_s": (percentile(lat, 50), "s"),
            "warmup_s": (ctx.warmup_s, "s"),
            **{f"query_s.{n}": (t, "s") for n, t in timings.items()},
        }
    )
    if ctx.trace:
        _layer_metrics(ctx, res, splits, family)


def _layer_metrics(ctx, res, splits, family):
    L = res.layer
    for fam in FAMILY_QUERIES:
        for k, u in (("exec_s", "s"), ("jobs", "count"), ("shuffle_bytes", "bytes"),
                     ("executor_run_s", "s")):
            L[f"mix.{fam}.{k}"] = (0.0, u)
    for name, (b, p, e, stats) in splits.items():
        fam = family[name]

        def add(k, v, u):
            L[f"mix.{fam}.{k}"] = (L[f"mix.{fam}.{k}"][0] + v, u)

        add("exec_s", b + p + e, "s")  # the family's share of query_mix_s
        add("jobs", float(stats["jobs"]), "count")
        add("shuffle_bytes", float(stats["shuffleWriteBytes"]), "bytes")
        add("executor_run_s", stats["executorRunTime"] / 1e3, "s")
    L["mix.build_ms"] = (median([s[0] for s in splits.values()]) * 1e3, "ms")
    L["mix.plan_ms"] = (median([s[1] for s in splits.values()]) * 1e3, "ms")
    L["mix.exec_ms"] = (median([s[2] for s in splits.values()]) * 1e3, "ms")
