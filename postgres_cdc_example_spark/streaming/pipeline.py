"""The end-to-end CDC pipeline — the reference's replicator + pubsub as ONE
Structured Streaming query (SURVEY.md §3.3: "this is literally one streaming
query").

Reference shape (``replicator/main.go`` / ``pubsub/main.go``):

    slot create ──► snapshot copy ──► poll wal2json every 2 s ──► parse
    ──► filter table ──► [row filter] ──► apply I/U/D per event ──► target

Spark shape::

    backfill batch (snapshot_copy)            # T3 snapshot+stream handoff
    readStream (JSON lines)                   # S5 — file source in tests,
                                              #      Kafka/Debezium in prod
      → decode_change_lines, dead flag        # S6 + T7 dead-letter
      → flat_change_columns (person)          # P2/P7; other tables'
                                              # values NULL, never cast
      → predicate U→D/I transform             # P4 publication row filter
                                              # (action NULL = not replicated)
      → foreachBatch (planned once, above):
          replay guard                        # no Spark action yet
          observe(count_if(dead_letter))      # T7 count, filled by the write
          filter(action IS NOT NULL)
          apply_changes(state, changes)       # P3/J1-J4: one exchange on id
          commit                              # T5 versioned state
    checkpointLocation                        # S7 — the "replication slot":
                                              # offset tracking, drop dir =
                                              # drop slot

A steady micro-batch is two Spark jobs: the shuffle-map stage (lines and
state into the apply's hash exchange) and the state write, which also
fills in the dead-letter count. Each line is read and parsed once.

Delivery: checkpointed offsets + idempotent per-version state commit =
exactly-once state (strictly stronger than the reference's at-most-once slot
consumption, T2 — deliberate divergence documented in SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from postgres_cdc_example_spark.operators.cdc_apply import apply_changes
from postgres_cdc_example_spark.schemas import PERSON_SCHEMA
from postgres_cdc_example_spark.sources.changelog import (
    PERSON_COLUMNS,
    PERSON_TABLE,
    decode_change_lines,
    flat_change_columns,
    is_dead_letter,
)
from postgres_cdc_example_spark.sources.snapshot import snapshot_copy
from postgres_cdc_example_spark.streaming.state import VersionedStateStore


class CdcPipeline:
    """Filtered CDC replication: change-log JSON lines → person state table.

    Parameters mirror the reference's deployment knobs:

    - ``predicate``: the publication row filter (``WHERE (score %% 2 = 0)``,
      ``pubsub/main.go:79``) — None replicates everything (replicator mode).
    - ``trigger_interval``: the 2 s poll cadence
      (``time.NewTicker(2*time.Second)``, ``replicator/main.go:154``);
      ``available_now=True`` drains the backlog and stops (tests).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        state_root: str,
        checkpoint_dir: str,
        predicate: Column | None = None,
        trigger_interval: str = "2 seconds",
        bucketed: bool = False,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.checkpoint_dir = checkpoint_dir
        self.predicate = predicate
        self.trigger_interval = trigger_interval
        if bucketed:
            # scale path: O(changed buckets) per batch instead of O(state)
            from postgres_cdc_example_spark.streaming.bucket_state import (
                BucketedStateStore,
            )

            self.store = BucketedStateStore(
                spark, state_root, PERSON_SCHEMA, n_buckets=n_buckets
            )
        else:
            self.store = VersionedStateStore(spark, state_root, PERSON_SCHEMA)
        self.dead_letter_count = 0  # observability counter (T7)

    # --- T3: snapshot + stream handoff ------------------------------------
    def backfill(self, source_snapshot: DataFrame) -> None:
        """Initial copy (Phase B, ``replicator/main.go:95-140``): filtered
        insert-if-absent into state version 0.  Like the reference (slot
        created *before* copy), the stream's checkpoint starts at offset 0,
        so events concurrent with the copy are replayed and deduped by the
        idempotent apply."""
        snap = source_snapshot
        if self.predicate is not None:
            snap = snap.filter(self.predicate)
        merged = snapshot_copy(self.store.read(), snap)
        if hasattr(self.store, "commit_full"):
            self.store.commit_full(merged)
        else:
            self.store.commit(merged, version=0)

    # --- the per-micro-batch apply (P3/J1-J4/T5) ---------------------------
    def _decode(self, lines: DataFrame) -> DataFrame:
        """Raw JSON lines → one typed person-change row per line, with a
        ``dead_letter`` flag. ``action`` is NULL on every line that does not
        replicate (dead letters, other tables' events, and inserts that fail
        the publication filter), so the batch can count each line before it
        drops them. Off the person table every column but the flag is NULL
        and no value is cast, so another table's ``id`` of "a-1" cannot
        fail the batch under ANSI casts. Projections only: a filter here would be pushed below
        the decode and re-parse each line once per field it reads. Works on
        the streaming frame (``start`` plans it once) and on a batch of
        lines alike."""
        dead = is_dead_letter()
        person = (F.col("change.table") == PERSON_TABLE) & ~dead
        rows = decode_change_lines(lines).select(
            dead.alias("dead_letter"),
            *flat_change_columns(PERSON_COLUMNS, when=person),
        )
        if self.predicate is None:
            return rows
        a = F.col("action")
        # Publication row filter on the event's new image, with
        # Postgres's filter-crossing UPDATE transform (UPDATE docs,
        # "publication row filters"): an UPDATE whose new image leaves
        # the filter becomes a DELETE on the key (else the stale row
        # lingers in the target), and one whose new image satisfies it
        # is applied as an upsert I (the old image may have failed the
        # filter, so the key can be absent — plain U would no-op).
        # Deletes carry no image and always replicate.
        passes = F.coalesce(self.predicate, F.lit(False))
        return rows.withColumn(
            "action",
            F.when(a == "U", F.when(passes, F.lit("I")).otherwise(F.lit("D"))).when(
                (a == "D") | passes, a
            ),
        )

    def _apply_rows(self, rows: DataFrame, batch_id: int) -> None:
        """Apply one micro-batch of :meth:`_decode` rows and commit it."""
        target = batch_id + 1
        versioned = not hasattr(self.store, "apply_and_commit")
        # version = batch_id + 1 (0 is the backfill). A crash between commit
        # and checkpoint ack replays this batch: without the guard the replay
        # would read v{batch_id+1} and overwrite the same directory — Spark
        # refuses ("Cannot overwrite a path that is also being read from")
        # and the pipeline wedges. An already-committed version makes the
        # replay a no-op, which is exactly the exactly-once contract (T2).
        # Checked before any Spark action, so a skipped replay counts no
        # dead letters either.
        if versioned:
            latest = self.store.latest_version()
            if latest is not None and latest >= target:
                return
        # the count rides on the batch's first action instead of a job of
        # its own; the reference logs & skips dead letters (T7)
        dead = Observation()
        rows = rows.observe(dead, F.count_if("dead_letter").alias("n"))
        changes = rows.filter(F.col("action").isNotNull()).drop("dead_letter")
        if versioned:
            state = self.store.read()
            new_state = apply_changes(state, changes)
            self.store.commit(new_state.select(*state.columns), version=target)
        else:
            # incremental path: read + rewrite only the changed buckets;
            # replay after crash re-applies idempotently (merge semantics)
            self.store.apply_and_commit(changes)
        self.dead_letter_count += dead.get["n"]

    def _apply_batch(self, lines: DataFrame, batch_id: int) -> None:
        """One micro-batch of raw lines, exactly as the stream applies it."""
        self._apply_rows(self._decode(lines), batch_id)

    def start(self, available_now: bool = False) -> StreamingQuery:
        lines = (
            self.spark.readStream.format("text")
            .option("maxFilesPerTrigger", 16)  # T8 backpressure
            .load(self.source_dir)
        )
        writer = (
            self._decode(lines)
            .writeStream.foreachBatch(self._apply_rows)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("update")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.trigger_interval)
        return writer.start()

    def state(self) -> DataFrame:
        return self.store.read()
