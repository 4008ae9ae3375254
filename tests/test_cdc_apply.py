"""apply_changes must equal the reference's serial per-event fold
(replicator/main.go:175-270) on randomized change logs — including
insert-after-delete recreation, U-on-absent no-ops, and created_at
preservation across upserts."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from postgres_cdc_example_spark.operators.cdc_apply import apply_changes, compact_changes

STATE_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("status", StringType(), True),
        StructField("amount", DoubleType(), True),
        StructField("created_at", TimestampNTZType(), True),
    ]
)
CHANGE_SCHEMA = StructType(
    [
        StructField("seq", LongType(), False),
        StructField("action", StringType(), False),
        StructField("id", LongType(), False),
        StructField("status", StringType(), True),
        StructField("amount", DoubleType(), True),
        StructField("created_at", TimestampNTZType(), True),
    ]
)


def serial_fold(state_rows, events):
    """The reference's apply loop, literally."""
    state = {r[0]: {"status": r[1], "amount": r[2], "created_at": r[3]} for r in state_rows}
    for seq, action, id_, status, amount, created in sorted(events):
        if action == "I":
            if id_ in state:  # ON CONFLICT DO UPDATE — created_at untouched
                state[id_]["status"] = status
                state[id_]["amount"] = amount
            else:
                state[id_] = {"status": status, "amount": amount, "created_at": created}
        elif action == "U":
            if id_ in state:  # UPDATE WHERE id — absent row = no-op
                state[id_]["status"] = status
                state[id_]["amount"] = amount
        elif action == "D":
            state.pop(id_, None)
    return {
        i: (v["status"], v["amount"], v["created_at"]) for i, v in state.items()
    }


def run_case(spark, state_rows, events):
    state = spark.createDataFrame(state_rows, STATE_SCHEMA)
    changes = spark.createDataFrame(events, CHANGE_SCHEMA)
    got = {
        r["id"]: (r["status"], r["amount"], r["created_at"])
        for r in apply_changes(
            state, changes, value_cols=["status", "amount"], created_col="created_at"
        ).collect()
    }
    want = serial_fold(state_rows, events)
    assert got == want


TS = lambda d: datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)  # noqa: E731


def test_explicit_edge_cases(spark):
    state = [(1, "old", 10.0, TS(0)), (2, "old", 20.0, TS(0)), (3, "old", 30.0, TS(0))]
    events = [
        # upsert on existing key: values change, created_at preserved
        (1, "I", 1, "upserted", 11.0, TS(5)),
        # update then delete: row gone
        (2, "U", 2, "updated", 21.0, TS(5)),
        (3, "D", 2, None, None, None),
        # delete then re-insert: created_at is the NEW insert's
        (4, "D", 3, None, None, None),
        (5, "I", 3, "reborn", 33.0, TS(7)),
        # U on absent key: no-op (row must not appear)
        (6, "U", 99, "ghost", 0.0, TS(9)),
        # I then U on brand-new key: values from U, created_at from I
        (7, "I", 50, "new", 50.0, TS(3)),
        (8, "U", 50, "new2", 55.0, TS(4)),
        # I, D, I, U chain: final = last U values, created from 2nd I
        (9, "I", 60, "a", 1.0, TS(1)),
        (10, "D", 60, None, None, None),
        (11, "I", 60, "b", 2.0, TS(2)),
        (12, "U", 60, "c", 3.0, TS(6)),
        # only-D on absent key: nothing
        (13, "D", 77, None, None, None),
    ]
    run_case(spark, state, events)


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_randomized_logs_match_serial_fold(spark, seed):
    rng = random.Random(seed)
    keys = list(range(25))
    state = [
        (k, f"s{k}", float(k * 10), TS(rng.randint(0, 3)))
        for k in keys
        if rng.random() < 0.6
    ]
    events = []
    for seq in range(1, 250):
        k = rng.choice(keys)
        a = rng.choices(["I", "U", "D"], weights=[3, 4, 2])[0]
        if a == "D":
            events.append((seq, "D", k, None, None, None))
        else:
            events.append(
                (seq, a, k, f"{a}{seq}", round(rng.uniform(0, 100), 2), TS(rng.randint(4, 30)))
            )
    run_case(spark, state, events)


def test_empty_changes_is_identity(spark):
    state = [(1, "x", 1.0, TS(0))]
    run_case(spark, state, [])


def test_empty_state(spark):
    events = [
        (1, "I", 5, "a", 1.0, TS(1)),
        (2, "U", 6, "nope", 2.0, TS(2)),  # U before any I: no-op
        (3, "I", 6, "b", 3.0, TS(3)),
    ]
    run_case(spark, [], events)


def test_null_key_changes_are_dropped(spark):
    """A change row with a NULL key matches no state row and creates none
    (a Postgres primary key is never NULL); the keyed events around it
    still apply."""
    nullable = StructType(
        [StructField(f.name, f.dataType, True) for f in CHANGE_SCHEMA.fields]
    )
    state = spark.createDataFrame([(1, "old", 10.0, TS(0))], STATE_SCHEMA)
    changes = spark.createDataFrame(
        [
            (1, "I", None, "ghost", 1.0, TS(1)),
            (2, "U", 1, "new", 11.0, TS(2)),
            (3, "D", None, None, None, None),
            (4, "I", 5, "five", 5.0, TS(3)),
        ],
        nullable,
    )
    got = sorted(
        map(tuple, apply_changes(state, changes, value_cols=["status", "amount"]).collect())
    )
    assert got == [(1, "new", 11.0, TS(0)), (5, "five", 5.0, TS(3))]


def test_other_actions_change_nothing(spark):
    """Events whose action is not I/U/D (a wal2json ``T`` truncate marker
    here) are no-ops, even as a key's last event."""
    state = [(1, "old", 10.0, TS(0))]
    events = [
        (1, "U", 1, "new", 11.0, TS(1)),
        (2, "T", 1, None, None, None),
        (3, "T", 2, None, None, None),
        (4, "I", 3, "three", 3.0, TS(2)),
        (5, "T", 3, None, None, None),
    ]
    state_df = spark.createDataFrame(state, STATE_SCHEMA)
    changes = spark.createDataFrame(events, CHANGE_SCHEMA)
    got = sorted(
        map(tuple, apply_changes(state_df, changes, value_cols=["status", "amount"]).collect())
    )
    assert got == [(1, "new", 11.0, TS(0)), (3, "three", 3.0, TS(2))]


def test_apply_without_created_col(spark):
    """``created_col=None``: the state carries no insert timestamp, so an
    upsert, a re-insert after delete and a fresh insert differ only in
    their values and liveness — output is key + value columns."""
    state = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "id long, status string, amount double",
    )
    changes = spark.createDataFrame(
        [
            (1, "I", 1, "a2", 1.5),  # upsert on existing key
            (2, "D", 2, None, None),  # delete
            (3, "D", 3, None, None),  # delete then re-insert
            (4, "I", 3, "c2", 3.5),
            (5, "U", 9, "ghost", 0.0),  # U on absent key: no-op
            (6, "I", 7, "g", 7.0),  # fresh insert, then update
            (7, "U", 7, "g2", 7.5),
        ],
        "seq long, action string, id long, status string, amount double",
    )
    out = apply_changes(state, changes, value_cols=["status", "amount"], created_col=None)
    assert out.columns == ["id", "status", "amount"]
    assert sorted(map(tuple, out.collect())) == [
        (1, "a2", 1.5), (3, "c2", 3.5), (7, "g2", 7.5)
    ]


def test_materialized_view_kwargs_match_serial_fold(spark):
    """The keyword set ``StreamingAggView`` applies with (explicit
    ``value_cols`` subset plus ``created_col``) over person-shaped frames:
    equals the serial fold, output in key + value + created order."""
    from postgres_cdc_example_spark.schemas import PERSON_SCHEMA
    from postgres_cdc_example_spark.streaming.materialized_view import _APPLY_KW

    state_rows = [(1, "a", "u1", 10, TS(0)), (2, "b", "u2", 20, TS(0))]
    events = [
        (1, "U", 1, "a2", "u1", 11, TS(5)),
        (2, "D", 2, None, None, None, None),
        (3, "I", 2, "b2", "u2b", 21, TS(6)),
        (4, "I", 3, "c", "u3", 30, TS(7)),
        (5, "I", 3, "c2", "u3", 31, TS(8)),  # upsert keeps the first created_at
        (6, "U", 4, "ghost", "u4", 40, TS(9)),
    ]
    changes = spark.createDataFrame(
        events,
        "seq long, action string, id long, name string, uid string, score int, "
        "created_at timestamp_ntz",
    )
    out = apply_changes(
        spark.createDataFrame(state_rows, PERSON_SCHEMA), changes, key="id", **_APPLY_KW
    )
    assert out.columns == ["id", "name", "uid", "score", "created_at"]
    assert sorted(map(tuple, out.collect())) == [
        (1, "a2", "u1", 11, TS(0)),
        (2, "b2", "u2b", 21, TS(6)),
        (3, "c2", "u3", 31, TS(7)),
    ]


def test_compact_changes_last_write_wins(spark):
    changes = spark.createDataFrame(
        [
            (1, "I", 1, "a", 1.0, TS(1)),
            (3, "U", 1, "c", 3.0, TS(3)),
            (2, "U", 1, "b", 2.0, TS(2)),
            (4, "I", 2, "x", 9.0, TS(4)),
        ],
        CHANGE_SCHEMA,
    )
    got = {r["id"]: r["status"] for r in compact_changes(changes).collect()}
    assert got == {1: "c", 2: "x"}  # seq order, not insertion order


# --- incremental aggregate maintenance ------------------------------------------


def test_maintain_agg_multi_batch_equals_recompute(spark, sf_dir):
    """Fold maintain_agg over 3 sequential change batches; after each batch
    the maintained aggregate must equal a from-scratch recompute over the
    applied state — the materialized-view invariant, exercised across batch
    boundaries (group churn: event-type groups appear, order-status groups
    drain)."""
    from postgres_cdc_example_spark.operators import incremental
    from postgres_cdc_example_spark.queries.cdc import _cents, _changes, _state

    state = _state(spark, sf_dir)
    changes = _changes(spark, sf_dir)
    cuts = [int(q * 1000) for q in (0.2, 0.6)]
    batches = [
        changes.filter(F.col("seq") < cuts[0]),
        changes.filter((F.col("seq") >= cuts[0]) & (F.col("seq") < cuts[1])),
        changes.filter(F.col("seq") >= cuts[1]),
    ]
    agg = incremental.agg_snapshot(state, "status", _cents())
    kw = dict(
        seq="seq", action="action", value_cols=["status", "amount"],
        created_col="created_at",
    )
    for batch in batches:
        agg = incremental.maintain_agg(
            agg, state, batch, group_col="status", cents=_cents(), key="id", **kw
        ).localCheckpoint()
        state = apply_changes(state, batch, key="id", **kw).localCheckpoint()
        expect = {
            (r.status, r.n_rows, r.sum_cents)
            for r in incremental.agg_snapshot(state, "status", _cents()).collect()
        }
        got = {(r.status, r.n_rows, r.sum_cents) for r in agg.collect()}
        assert got == expect


def test_maintain_agg_only_reads_touched_slice(spark, sf_dir):
    """The state-side input to the maintenance plan is the semi-joined
    touched-key slice — row count proportional to the delta, not the state."""
    from postgres_cdc_example_spark.operators import incremental
    from postgres_cdc_example_spark.queries.cdc import _cents, _changes, _state

    state = _state(spark, sf_dir)
    changes = _changes(spark, sf_dir).filter(F.col("id") < 10)
    touched = changes.select("id").distinct()
    pre = state.join(touched, "id", "left_semi")
    assert pre.count() <= 10 < state.count()


@pytest.mark.parametrize("seed", [11, 99])
def test_maintain_agg_randomized_logs(spark, seed):
    """Randomized I/U/D logs split into 3 batches: the maintained aggregate
    must equal a recompute after every batch — including group churn,
    delete-then-reinsert chains, and U-on-absent no-ops."""
    from postgres_cdc_example_spark.operators import incremental

    rng = random.Random(seed)
    keys = list(range(20))
    state_rows = [
        (k, f"g{k % 3}", float(k), TS(rng.randint(0, 3)))
        for k in keys
        if rng.random() < 0.5
    ]
    events = []
    for seq in range(1, 150):
        k = rng.choice(keys)
        a = rng.choices(["I", "U", "D"], weights=[3, 4, 2])[0]
        if a == "D":
            events.append((seq, "D", k, None, None, None))
        else:
            events.append(
                (seq, a, k, f"g{rng.randint(0, 4)}",
                 round(rng.uniform(0, 100), 2), TS(rng.randint(4, 30)))
            )
    state = spark.createDataFrame(state_rows, STATE_SCHEMA)
    cents = F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")
    agg = incremental.agg_snapshot(state, "status", cents)
    kw = dict(seq="seq", action="action", value_cols=["status", "amount"],
              created_col="created_at")
    cuts = [0, 50, 100, 150]
    for lo, hi in zip(cuts, cuts[1:]):
        batch = spark.createDataFrame(
            [e for e in events if lo < e[0] <= hi], CHANGE_SCHEMA
        )
        agg = incremental.maintain_agg(
            agg, state, batch, group_col="status", cents=cents, key="id", **kw
        ).localCheckpoint()
        state = apply_changes(state, batch, key="id", **kw).localCheckpoint()
        expect = sorted(
            map(tuple, incremental.agg_snapshot(state, "status", cents).collect())
        )
        assert sorted(map(tuple, agg.collect())) == expect


def test_maintain_agg_empty_batch_is_identity(spark):
    from postgres_cdc_example_spark.operators import incremental

    state = spark.createDataFrame(
        [(1, "a", 10.0, TS(0)), (2, "b", 20.0, TS(0))], STATE_SCHEMA
    )
    cents = F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")
    agg = incremental.agg_snapshot(state, "status", cents)
    empty = spark.createDataFrame([], CHANGE_SCHEMA)
    out = incremental.maintain_agg(
        agg, state, empty, group_col="status", cents=cents, key="id",
        seq="seq", action="action", value_cols=["status", "amount"],
        created_col="created_at",
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, agg.collect()))


def test_schema_evolution_mid_stream(spark):
    """ALTER TABLE mid-stream: a new column appears in the change feed —
    align the state (old rows get NULL), apply the new-schema batch, and
    verify old rows keep NULL while new/updated rows carry values. Then
    drop a column and verify the projection contract."""
    from pyspark.sql.types import StringType, StructField

    from postgres_cdc_example_spark.operators.cdc_apply import align_to_schema

    state = spark.createDataFrame(
        [(1, "a", 10.0, TS(0)), (2, "b", 20.0, TS(0))], STATE_SCHEMA
    )
    evolved_schema = StructType(
        STATE_SCHEMA.fields + [StructField("email", StringType(), True)]
    )
    evolved_state = align_to_schema(state, evolved_schema)
    assert evolved_state.columns == ["id", "status", "amount", "created_at", "email"]
    assert all(r.email is None for r in evolved_state.collect())

    change_schema = StructType(
        CHANGE_SCHEMA.fields + [StructField("email", StringType(), True)]
    )
    changes = spark.createDataFrame(
        [
            (1, "U", 1, "a2", 11.0, TS(1), "a@x.io"),
            (2, "I", 3, "c", 30.0, TS(2), "c@x.io"),
        ],
        change_schema,
    )
    new_state = apply_changes(
        evolved_state, changes, key="id", seq="seq", action="action",
        value_cols=["status", "amount", "email"], created_col="created_at",
    )
    rows = {r.id: r for r in new_state.collect()}
    assert rows[1].email == "a@x.io" and rows[1].status == "a2"
    assert rows[2].email is None and rows[2].status == "b"  # untouched old row
    assert rows[3].email == "c@x.io"

    # DROP COLUMN: projecting back to the original schema removes it
    back = align_to_schema(new_state, STATE_SCHEMA)
    assert back.columns == ["id", "status", "amount", "created_at"]
    assert back.count() == 3


def test_scd2_current_versions_match_apply(spark, sf_dir):
    """Reconciliation: for every key whose LAST event is I/U, the SCD2
    current version's values must equal the overwrite-semantics state from
    apply_changes — two different formulations of 'latest value wins'."""
    from postgres_cdc_example_spark.operators.cdc_apply import scd2_history
    from postgres_cdc_example_spark.queries.cdc import _changes, _state

    changes = _changes(spark, sf_dir)
    hist = scd2_history(
        changes, value_cols=["status", "amount"],
        state_keys=_state(spark, sf_dir).select("id"),
    )
    current = {
        r.id: (r.status, r.amount) for r in hist.filter("is_current").collect()
    }
    applied = apply_changes(
        _state(spark, sf_dir), changes, key="id", seq="seq", action="action",
        value_cols=["status", "amount"], created_col="created_at",
    )
    applied_vals = {r.id: (r.status, r.amount) for r in applied.collect()}
    assert current, "changelog must produce open versions"
    for k, vals in current.items():
        assert applied_vals[k] == vals, f"key {k}: scd2 {vals} != applied {applied_vals[k]}"



# --- property-based: hypothesis drives the event-log space -----------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:
    _KEYS = st.integers(min_value=0, max_value=7)  # tiny pool -> dense chains
    _EVENT = st.tuples(_KEYS, st.sampled_from("IUD"), st.integers(0, 30))

    @settings(
        max_examples=12,  # each example is a full Spark round-trip
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
        derandomize=True,  # CI-stable corpus; hypothesis still shrinks failures
    )
    @given(
        state_keys=st.sets(_KEYS, max_size=8),
        raw=st.lists(_EVENT, max_size=40),
    )
    def test_property_logs_match_serial_fold(spark, state_keys, raw):
        """For ANY interleaving of I/U/D over colliding keys, the closed-form
        apply equals the reference's serial fold — hypothesis explores the
        corners the seeded random logs may miss (all-D prefixes, I-after-D
        at log start, single-event logs, empty everything) and shrinks any
        counterexample to a minimal log."""
        state = [(k, f"s{k}", float(k), TS(0)) for k in sorted(state_keys)]
        events = []
        for seq, (k, a, day) in enumerate(raw, start=1):
            if a == "D":
                events.append((seq, "D", k, None, None, None))
            else:
                events.append((seq, a, k, f"{a}{seq}", float(seq), TS(4 + day)))
        run_case(spark, state, events)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
        derandomize=True,
    )
    @given(
        state_keys=st.sets(_KEYS, max_size=8),
        raw=st.lists(_EVENT, max_size=30),
    )
    def test_property_scd2_current_matches_serial_fold(spark, state_keys, raw):
        """For ANY log, the SCD2 view's open (is_current) versions must be
        exactly the serially-folded end state restricted to keys the log
        touched — alive keys have one open version with the latest values,
        dead or never-created keys have none."""
        from postgres_cdc_example_spark.operators.cdc_apply import scd2_history

        state = [(k, f"s{k}", float(k), TS(0)) for k in sorted(state_keys)]
        events = []
        for seq, (k, a, day) in enumerate(raw, start=1):
            if a == "D":
                events.append((seq, "D", k, None, None, None))
            else:
                events.append((seq, a, k, f"{a}{seq}", float(seq), TS(4 + day)))
        changes = spark.createDataFrame(events, CHANGE_SCHEMA)
        ids = spark.createDataFrame([(k,) for k in sorted(state_keys)], "id long")
        hist = scd2_history(changes, value_cols=["status", "amount"], state_keys=ids)
        current = {
            r["id"]: (r["status"], r["amount"])
            for r in hist.filter("is_current").collect()
        }
        fold = serial_fold(state, events)
        touched = {e[2] for e in events}
        expected = {
            k: (v[0], v[1]) for k, v in fold.items() if k in touched
        }
        assert current == expected
