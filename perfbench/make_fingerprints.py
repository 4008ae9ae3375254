#!/usr/bin/env python3
"""Regenerate ``fingerprints.json``: the DuckDB oracle answer of every
query in ``wl_query.FAMILY_QUERIES`` on the benchmark's generated fixture
set, at the full and the tiny scale.

    python3 perfbench/make_fingerprints.py [--check-spark]

``--check-spark`` also runs each query on the engine and reports any
query whose result differs from its oracle (the benchmark would then fail
its correctness gate on that query).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, harness, wl_query  # noqa: E402


def oracle_rows(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    """(columns, rows) of one oracle query over a fixture directory."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            t = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')")
        r = con.sql(sql)
        return list(r.columns), [tuple(x) for x in r.fetchall()]
    finally:
        con.close()


def main() -> int:
    harness.pin_environment()
    from postgres_cdc_example_spark import queries as Q

    names = [q for qs in wl_query.FAMILY_QUERIES.values() for q in qs]
    osql = Q.oracle_sql()
    fps, bad = {}, []
    spark = None
    with tempfile.TemporaryDirectory(dir=harness.ROOT, prefix=".perfbench_fp_") as tmp:
        for sf in (wl_query.FULL_SF, wl_query.TINY_SF):
            d = datagen.write_fixture_tables(os.path.join(tmp, str(sf)), sf, wl_query.DATA_SEED)
            fps[str(sf)] = {n: wl_query.fingerprint(*oracle_rows(d, osql[n])) for n in names}
            if "--check-spark" in sys.argv:
                if spark is None:
                    spark, _ = harness.start_session()
                reg = Q.queries()
                for n in names:
                    df = reg[n](spark, d)
                    got = wl_query.fingerprint(list(df.columns), [tuple(r) for r in df.collect()])
                    ok = got == fps[str(sf)][n]
                    print(f"{sf} {n}: {'OK' if ok else 'MISMATCH'} rows={got['rows']}", flush=True)
                    if not ok:
                        bad.append((sf, n))
    if spark is not None:
        spark.stop()
    with open(wl_query.FINGERPRINTS, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {wl_query.FINGERPRINTS}; spark mismatches: {bad or 'none'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
