#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--quick]

1. ``BENCHMARK.json`` and ``metrics.py`` declare the same workloads and
   metrics (names, units, bounds).
2. Negative tests: the correctness gates reject a dropped change event, a
   perturbed query result and a perturbed curation total.
3. Unless ``--quick``: every workload runs at tiny size, untraced and
   traced, prints every declared metric with its declared unit, and passes
   its gate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, harness, metrics, wl_cdc, wl_query  # noqa: E402

FAILURES: list[str] = []


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        FAILURES.append(what)


def check_declaration() -> None:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        bj = json.load(f)
    expect(bj == metrics.benchmark_declaration(), "BENCHMARK.json == metrics.benchmark_declaration()")
    expect(all(len(w["why"]) <= 200 for w in bj["workloads"]), "workload reasons fit 200 characters")
    expect(all(m["bound"] <= 0.25 for m in bj["end_to_end"]), "end-to-end bounds at most 0.25")


def negative_tests() -> None:
    # cdc: a log with one state-changing event dropped folds to another state
    snap = datagen.person_snapshot(200, 5)
    gen = datagen.PersonChangeGenerator(snap, 5)
    lines = gen.lines(400, [datagen.SNAPSHOT_CREATED_US + i for i in range(400)])
    _, want = wl_cdc.serial_fold(snap, lines, even_only=True)
    dropped = None
    for i, ln in enumerate(lines):
        _, got = wl_cdc.serial_fold(snap, lines[:i] + lines[i + 1:], even_only=True)
        if got != want:
            dropped = wl_cdc.state_diff(got, want)
            break
    expect(bool(dropped), f"cdc gate: dropping one event leaves {len(dropped or ())} keys differing")
    expect(not wl_cdc.state_diff(want, dict(want)), "cdc gate: identical states pass")

    # query_mix: the oracle's own answer matches its fingerprint; a
    # perturbed value does not
    from perfbench.make_fingerprints import oracle_rows
    from postgres_cdc_example_spark import queries as Q

    with tempfile.TemporaryDirectory(dir=harness.ROOT, prefix=".perfbench_selftest_") as tmp:
        d = datagen.write_fixture_tables(tmp, wl_query.TINY_SF, wl_query.DATA_SEED)
        cols, rows = oracle_rows(d, Q.oracle_sql()["q9_product_type_profit"])
    fp = wl_query.load_fingerprints()[str(wl_query.TINY_SF)]["q9_product_type_profit"]
    expect(wl_query.fingerprint(cols, rows) == fp, "query gate: oracle answer matches its fingerprint")
    first = list(rows[0])
    first[-1] = f"{first[-1]}x" if isinstance(first[-1], str) else first[-1] + 1
    bumped = [tuple(first)] + rows[1:]
    expect(wl_query.fingerprint(cols, bumped) != fp, "query gate: a perturbed value fails")
    expect(wl_query.fingerprint(cols, rows[1:]) != fp, "query gate: a dropped row fails")

    # curation: any stage total off by one fails
    from perfbench.wl_curation import totals_diff

    want_t = {k: (10 * k + 5, k) for k in range(9)}
    expect(not totals_diff(dict(want_t), want_t), "curation gate: equal totals pass")
    expect(bool(totals_diff({**want_t, 4: (44, 4)}, want_t)), "curation gate: a perturbed total fails")


def run_tiny(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(harness.ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "3", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    expect(p.returncode == 0 and len(lines) >= 2, f"{tag}: exits 0 with a result")
    if p.returncode != 0 or len(lines) < 2:
        print(p.stderr[-3000:])
        return
    out = json.loads(lines[-1])
    expect(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys")
    expect(out["correct"] is True and out["failed"] == 0, f"{tag}: gate passes {json.loads(lines[-2])['notes']}")
    if trace:
        want = list(metrics.PER_LAYER)
        if workload == "curation_drain":
            want += metrics.CURATION_LAYER
    else:
        want = [(n, u) for n, u, _, _ in metrics.END_TO_END]
    got = [(k, v["unit"]) for k, v in out["metrics"].items()]
    expect(got == want, f"{tag}: every declared metric printed with its unit")
    if not trace:
        expect(all(v["value"] > 0 for v in out["metrics"].values()), f"{tag}: end-to-end metrics nonzero")


def main() -> int:
    harness.pin_environment()
    check_declaration()
    negative_tests()
    if "--quick" not in sys.argv:
        for w in list(metrics.WORKLOADS) + list(metrics.EXTRA_WORKLOADS):
            for trace in (0, 1):
                run_tiny(w, trace)
    print(f"{len(FAILURES)} failure(s)")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
