"""``curation_drain``: wal2json document change lines through
``StreamingCurationPipeline`` with the frozen decontamination bitmap, in
``available_now`` mode.

The input spans full 16-file micro-batches, one per 5 measured seconds
(at least two), in ascending ``doc_id`` (the quota gate's ordering
contract).  The gate: the pipeline's stage
totals must equal the batch members composed over the same lines, and no
quota ordering violation may surface.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from perfbench import datagen, layers
from perfbench.harness import median, percentile, progress_listener
from perfbench.metrics import CURATION_STAGES, CURATION_STORES

FILES_PER_BATCH = 16
DOCS_PER_BATCH = 160
SETUP_REPS = 3


def _write_files(src: str, lines: list[str], n_files: int) -> list[str]:
    """Split lines into ``n_files`` files whose modification times ascend
    with the lines' order, so the file source takes them in doc_id order."""
    if len(lines) < n_files:
        raise ValueError("every file must hold at least one line")
    os.makedirs(src, exist_ok=True)
    names = []
    base = time.time() - 10 * n_files
    for i in range(n_files):
        name = f"d{i:05d}.jsonl"
        path = os.path.join(src, name)
        lo, hi = i * len(lines) // n_files, (i + 1) * len(lines) // n_files
        with open(path, "w") as f:
            f.write("\n".join(lines[lo:hi]) + "\n")
        os.utime(path, (base + i, base + i))
        names.append(name)
    return names


def batch_twin_totals(spark, lines: list[str], bitmap, quota_tokens: int) -> dict[int, tuple]:
    """Stage totals (n_units, total_tokens) of the batch members composed
    over the same wire lines: decode → dead letters → drift split →
    keeper rule → MinHash/LSH bands → decontamination gate → quality gate
    → per-source quota in doc_id order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from postgres_cdc_example_spark.operators import dedup
    from postgres_cdc_example_spark.operators.text import quality_score
    from postgres_cdc_example_spark.sources.changelog import (
        decode_change_lines,
        drift_split,
        flatten_changes,
        split_corrupt,
    )
    from postgres_cdc_example_spark.streaming.curation import DOC_COLUMNS, DOC_DECLARED, QUALITY_GATE
    from postgres_cdc_example_spark.streaming.gates import decontamination_gate

    def nt(df):
        r = df.agg(F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("n_toks"), F.lit(0)).alias("t")).collect()[0]
        return int(r.n), int(r.t)

    ldf = spark.createDataFrame([(ln,) for ln in lines], "value string")
    valid, corrupt = split_corrupt(decode_change_lines(ldf))
    clean, drifted = drift_split(valid, "documents", DOC_DECLARED)
    flat = flatten_changes(clean, "documents", DOC_COLUMNS, key="doc_id", key_type="long")
    bdocs = flat.select(
        "doc_id", "text", "source",
        F.size(dedup.word_tokens(F.col("text"))).cast("long").alias("n_toks"),
    ).persist()
    hashed = bdocs.select("doc_id", F.md5(dedup.normalized(F.col("text"))).alias("h"), "n_toks")
    keepers = (
        hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
        .join(hashed.select("doc_id", "n_toks"), "doc_id")
    )
    kdocs = keepers.select("doc_id", "n_toks").join(bdocs.select("doc_id", "text", "source"), "doc_id")
    bands = dedup.minhash_bands(dedup.minhash_signatures(dedup.shingle_rows(kdocs.select("doc_id", "text"))))
    n_pairs = (
        bands.alias("x").join(bands.alias("y"), ["band_idx", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct().count()
    )
    dgate = decontamination_gate(kdocs, bitmap)
    qdocs = (
        dgate.join(quality_score(dgate).select("doc_id", "quality"), "doc_id")
        .filter(F.col("quality") >= QUALITY_GATE)
    )
    wq = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    adm = qdocs.withColumn("cum", F.sum("n_toks").over(wq)).filter(F.col("cum") <= quota_tokens)
    out = {
        0: (len(lines), 0),
        1: (corrupt.count(), 0),
        2: (drifted.count(), 0),
        3: nt(bdocs),
        4: nt(keepers),
        5: (n_pairs, 0),
        6: nt(dgate),
        7: nt(qdocs),
        8: nt(adm),
    }
    bdocs.unpersist()
    return out


def totals_diff(got: dict, want: dict) -> dict:
    """Stages whose (n_units, total_tokens) differ: stage -> (got, want)."""
    return {k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]}


def run(ctx, res) -> None:
    from postgres_cdc_example_spark.streaming.curation import StreamingCurationPipeline
    from postgres_cdc_example_spark.streaming.gates import benchmark_bitmap

    spark, tracer = ctx.spark, ctx.tracer
    work = ctx.work_dir

    # inputs (not timed): the documents table and its change lines
    n_batches = 2 if ctx.tiny else max(2, round(ctx.seconds / 5))
    n_docs = (20 if ctx.tiny else DOCS_PER_BATCH) * n_batches
    # per-source token quota at about half of a source's tokens (20 sources,
    # ~55 tokens a document), so the quota gate binds
    quota = n_docs * 27 // 20
    docs = datagen.documents_table(n_docs, 7)
    sf_dir = os.path.join(work, "sf")
    os.makedirs(sf_dir)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    lines = datagen.document_change_log(docs, ctx.seed, n_docs)
    n_files = FILES_PER_BATCH * n_batches

    # set-up (timed): the frozen bitmap, built repeatedly; then a drain of
    # one file through throwaway stores warms the pipeline's code path
    reps = []
    bitmap = None
    for r in range(1 if ctx.tiny else SETUP_REPS):
        with tracer.span("setup.bitmap", unit=f"rep{r}"):
            t0 = time.perf_counter()
            bitmap = benchmark_bitmap(spark, sf_dir)
            reps.append(time.perf_counter() - t0)
    ctx.setup_work_s = median(reps)
    with tracer.span("setup.warm_drain"):
        t0 = time.perf_counter()
        wdir = os.path.join(work, "warm")
        _write_files(os.path.join(wdir, "src"), lines[: FILES_PER_BATCH], 1)
        warm = StreamingCurationPipeline(
            spark, os.path.join(wdir, "src"), os.path.join(wdir, "store"),
            os.path.join(wdir, "ckpt"), decontam_bitmap_words=bitmap, quota_tokens=quota,
        )
        warm.start(available_now=True).awaitTermination(120)
        ctx.warmup_s = time.perf_counter() - t0

    src, store, ckpt = (os.path.join(work, d) for d in ("src", "store", "ckpt"))
    _write_files(src, lines, n_files)
    pipe = StreamingCurationPipeline(
        spark, src, store, ckpt, decontam_bitmap_words=bitmap, quota_tokens=quota
    )
    listener = progress_listener()
    spark.streams.addListener(listener)
    first_job = ctx.counters.last_job_id() if ctx.counters else -1
    q = None
    try:
        with tracer.span("phase.drain"):
            t0 = time.perf_counter()
            q = pipe.start(available_now=True)
            q.awaitTermination(170)
            drain_s = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    finally:
        if q is not None:
            q.stop()
        for _ in range(50):  # progress events arrive asynchronously
            if len(listener.progress) >= n_batches:
                break
            time.sleep(0.1)
        spark.streams.removeListener(listener)

    ran = len({p["batchId"] for p in listener.progress})
    res.attempted = ran + 1
    with tracer.span("check.batch_twin"):
        got = {int(r.stage_no): (int(r.n_units), int(r.total_tokens)) for r in pipe.totals().collect()}
        want = batch_twin_totals(spark, lines, bitmap, quota)
        diff = totals_diff(got, want)
        ok = res.check("stage_totals_equal_batch_twin", not diff, str(diff))
        ok &= res.check("quota_order_violations_zero", pipe.quota_order_violations() == 0)
        ok &= res.check("drain_spans_all_batches", ran == n_batches, f"{ran} micro-batches")
        res.failed = 0 if ok else 1

    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in listener.progress]
    docs_per_s = len(lines) / drain_s
    res.e2e.update(
        {
            "throughput_per_s": (docs_per_s, "1/s"),
            "latency_p50_s": (percentile(trig, 50), "s"),
            "latency_p99_s": (percentile(trig, 99), "s"),
        }
    )
    res.named.update(
        {
            "curation_docs_per_s": (docs_per_s, "1/s"),
            "curation_drain_s": (drain_s, "s"),
            "curation_batches": (float(ran), "count"),
            "warmup_s": (ctx.warmup_s, "s"),
        }
    )
    if ctx.trace:
        _layer_metrics(ctx, res, listener.progress, got, store, first_job, len(lines))


def _success_mtime(store: str, name: str, version: int) -> float | None:
    try:
        return os.stat(os.path.join(store, name, f"v{version:08d}", "_SUCCESS")).st_mtime
    except OSError:
        return None


def _layer_metrics(ctx, res, progress, got, store, first_job, n_lines):
    L = res.layer
    prog = {p["batchId"]: p for p in progress}
    L["curation.batch_ms.p50"] = (
        median([p["durationMs"].get("triggerExecution", 0) for p in progress]), "ms")
    L["curation.scans_per_line"] = (sum(p["numInputRows"] for p in progress) / n_lines, "ratio")
    per_batch = layers.stream_batch_counters(ctx.counters, first_job)
    batches = [per_batch[b] for b in sorted(per_batch) if b in prog]
    L["curation.jobs_per_batch"] = (median([b["jobs"] for b in batches]), "count")
    L["curation.shuffle_bytes_per_batch"] = (median([b["shuffleWriteBytes"] for b in batches]), "bytes")
    L["curation.executor_run_ms_per_batch"] = (median([b["executorRunTime"] for b in batches]), "ms")
    layers.spark_per_batch(L, "spark", batches)

    # store commits run in a fixed order; each one's time is the gap to the
    # previous store's _SUCCESS marker (the first: from its own job's start)
    per_store = {s: [] for s in CURATION_STORES}
    for b in sorted(per_batch):
        ends = [_success_mtime(store, s, b + 1) for s in CURATION_STORES]
        if None in ends:
            continue
        first = [j for j in per_batch[b]["job_list"]
                 if j["completed"] is not None and j["completed"] <= ends[0] + 0.005]
        if first:
            per_store[CURATION_STORES[0]].append((ends[0] - first[-1]["submitted"]) * 1e3)
        for k in range(1, len(ends)):
            per_store[CURATION_STORES[k]].append((ends[k] - ends[k - 1]) * 1e3)
    for s in CURATION_STORES:
        L[f"curation.commit_ms.{s}"] = (median(per_store[s]), "ms")

    for no, stage in enumerate(CURATION_STAGES):
        L[f"curation.stage_units.{stage}"] = (float(got.get(no, (0, 0))[0]), "count")
    clean = got.get(3, (0, 0))[0]
    L["curation.novel_frac"] = (got.get(4, (0, 0))[0] / clean if clean else 0.0, "ratio")
    L["curation.admit_frac"] = (got.get(8, (0, 0))[0] / clean if clean else 0.0, "ratio")
    for s in ("bands", "pairs", "seen"):
        root = os.path.join(store, s)
        with open(os.path.join(root, "_LATEST")) as f:
            v = int(f.read().strip())
        L[f"curation.state_rows.{s}"] = (float(layers.parquet_rows(os.path.join(root, f"v{v:08d}"))), "count")

    for b, p in sorted(prog.items()):
        end = p["received"]
        sid = ctx.tracer.add("stream.batch", end - p["durationMs"].get("triggerExecution", 0) / 1e3,
                             end, unit=f"batch{b}", durations=p["durationMs"])
        for j in per_batch.get(b, {}).get("job_list", []):
            ctx.tracer.add("spark.job", j["submitted"], j["completed"], unit=f"batch{b}",
                           parent=sid, job=j["id"])
