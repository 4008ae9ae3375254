"""Batch CDC apply core — set-wise replacement for the reference's per-event
imperative loop.

Reference semantics (``replicator/main.go:175-270``), applied strictly in WAL
order, one event at a time:

- ``I`` → ``INSERT … ON CONFLICT (id) DO UPDATE SET name,uid,score`` —
  **created_at intentionally not updated** on conflict
  (``replicator/main.go:204-217``);
- ``U`` → ``UPDATE … WHERE id=$1`` (no-op when the row is absent;
  created_at untouched, ``replicator/main.go:234-243``);
- ``D`` → ``DELETE … WHERE id=$1`` (``replicator/main.go:252-268``).

Instead of replaying events one at a time, we compute the *closed form* of
that fold per key. State rows join the change log as pseudo-events at
seq = -inf, and ONE ``groupBy(key)`` over ``changes ∪ state`` folds both —
a single hash-exchange on the key (no window, no join) regardless of how
many events a key has: the idiomatic-Spark answer to "apply the log in
order" that scales to 100 TB where a per-row loop cannot.

Let, per key:
  d_max   = max seq among D events (None if no D)
  i_first = min seq among I events with seq > coalesce(d_max, -inf)
            (= the event that *created* the row's current incarnation)
  last    = the max-seq row among I/U events and the state pseudo-event

Then the final row exists iff
  (no D and the key was in state)  OR  i_first is not NULL,
its value columns come from ``last``, and its created_at is
  state.created_at        if no D and the key was in state   (upsert keeps it)
  created_at @ i_first    otherwise                           (fresh insert).

This reproduces the serial fold exactly, including insert-after-delete
re-creation and "U on absent key is a no-op". Rows with a NULL key, on
either side, are dropped: a primary key is never NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# seq of the state rows' pseudo-events: below every WAL position
NEG_INF = -(1 << 62)


def compact_changes(
    changes: DataFrame,
    key: str = "id",
    seq: str = "seq",
) -> DataFrame:
    """Last-write-wins compaction: keep only each key's latest event.

    One shuffle on the key; ties broken deterministically by the highest
    ``seq`` (WAL order — never arrival order, SURVEY.md §7.4 hard part 2).
    """
    w = Window.partitionBy(key).orderBy(F.col(seq).desc())
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    state: DataFrame,
    changes: DataFrame,
    key: str = "id",
    seq: str = "seq",
    action: str = "action",
    value_cols: list[str] | None = None,
    created_col: str | None = "created_at",
) -> DataFrame:
    """Apply a flat I/U/D change log to a state DataFrame; returns new state.

    ``changes`` columns: key, seq, action ("I"/"U"/"D"), value columns, and
    (optionally) ``created_col`` carried on insert events.
    ``state`` columns: key, value columns, optional ``created_col``.

    Built from SQL-expression strings: a handful of plan-building calls
    instead of one per Column operator, which is what a micro-batch pays
    on every trigger.
    """
    if value_cols is None:
        reserved = {key, seq, action, created_col}
        value_cols = [c for c in changes.columns if c not in reserved]
    q = lambda c: f"`{c}`"  # noqa: E731
    cols = [q(c) for c in value_cols]
    # without a created column, a typed NULL keeps one aggregate shape
    created = q(created_col) if created_col else "CAST(NULL AS INT)"
    rows = changes.selectExpr(
        q(key), f"{q(seq)} AS __seq", f"{q(action)} AS __a", *cols, f"{created} AS __c"
    ).unionByName(
        state.selectExpr(
            q(key), f"{NEG_INF} AS __seq", "'S' AS __a", *cols, f"{created} AS __c"
        )
    )
    aggs = [
        # `last`: the latest row carrying an image (an I/U event or the
        # state row); other actions (e.g. a wal2json T) change nothing
        f"max_by(struct({', '.join(cols)}), IF(__a IN ('I', 'U', 'S'), __seq, NULL)) AS __v",
        "max(IF(__a = 'D', __seq, NULL)) AS __d",
        # the state row is the min-seq row
        "min(struct(__seq, __c)) AS __m",
        # candidates for i_first; array_min orders the structs by seq
        "collect_list(IF(__a = 'I', struct(__seq, __c), NULL)) AS __is",
    ]
    # no D and the key was in state / the i_first event (NULL if none)
    kept = f"(__d IS NULL AND __m.__seq = {NEG_INF})"
    born = f"array_min(filter(__is, e -> e.__seq > coalesce(__d, {NEG_INF})))"
    out = [q(key), "__v.*"]
    if created_col:
        out.append(f"IF({kept}, __m.__c, {born}.__c) AS {q(created_col)}")
    return (
        rows.groupBy(key)
        .agg(*[F.expr(e) for e in aggs])
        .where(f"{q(key)} IS NOT NULL AND ({kept} OR {born} IS NOT NULL)")
        .selectExpr(*out)
    )


def align_to_schema(df: DataFrame, target: "StructType") -> DataFrame:
    """Schema evolution for the state table (the ALTER TABLE the reference
    never faces, every long-lived CDC pipeline does):

    - columns missing from ``df`` are added as typed NULLs (ADD COLUMN —
      existing rows get NULL, exactly Postgres' default-less semantics);
    - columns present in both are cast to the target type (widening, e.g.
      int→bigint when a SERIAL overflows to BIGSERIAL);
    - columns absent from ``target`` are DROPPED.

    Pure projection — no shuffle, no data rewrite; the versioned store
    materializes the new shape at the next commit. Column ORDER follows the
    target schema so parquet footers stay uniform across versions.
    """
    from pyspark.sql import functions as F

    have = {f.name for f in df.schema.fields}
    cols = [
        (F.col(f.name).cast(f.dataType) if f.name in have
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in target.fields
    ]
    return df.select(*cols)


def scd2_history(
    changes: DataFrame,
    key: str = "id",
    seq: str = "seq",
    action: str = "action",
    value_cols: list[str] | None = None,
    state_keys: DataFrame | None = None,
) -> DataFrame:
    """SCD Type-2 view of a change log: instead of overwriting state (the
    reference's semantics), KEEP every version with its validity interval —
    the shape dimension history, auditing, and point-in-time training
    snapshots need.

    Versioning replicates the reference's replay EXACTLY (the subtle part is
    aliveness): an I always opens a version; a U opens one only if the row
    is alive at that point (U on a deleted/never-inserted row is a no-op,
    ``replicator/main.go:234-243``); a D on an alive row closes the open
    version and opens nothing; no-op events close nothing. Initial
    aliveness comes from ``state_keys`` (keys present in the snapshot);
    without it, only I-rooted lineages version.

    Aliveness is one ``last(ignorenulls)`` window over the key's log order
    (the last prior I/D boundary decides), and closing is one ``lead`` over
    the *effective* events only — two window passes sharing a single shuffle
    on the key, no joins, no recursion. ``is_current`` marks versions still
    open at end-of-log; the current set provably equals ``apply_changes``
    output values (tests/test_cdc_apply.py reconciliation).
    """
    if value_cols is None:
        value_cols = [c for c in changes.columns if c not in {key, seq, action}]
    ch = changes
    if state_keys is not None:
        ch = ch.join(
            F.broadcast(state_keys.select(F.col(key)).distinct().withColumn(
                "__in_state", F.lit(True)
            )),
            key,
            "left",
        ).withColumn("__in_state", F.coalesce(F.col("__in_state"), F.lit(False)))
    else:
        ch = ch.withColumn("__in_state", F.lit(False))
    w_order = Window.partitionBy(key).orderBy(seq)
    # the most recent I/D at-or-before each event; for the event itself a U
    # contributes null, so a U row sees the PRIOR boundary
    boundary = F.last(
        F.when(F.col(action).isin("I", "D"), F.col(action)), ignorenulls=True
    ).over(w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # for a U row the inclusive-window boundary equals the PRIOR boundary
    # (U contributes null), so: alive iff last prior boundary is I, or no
    # boundary yet and the key was in the snapshot
    alive_for_u = (boundary == "I") | (boundary.isNull() & F.col("__in_state"))
    opens = (F.col(action) == "I") | ((F.col(action) == "U") & alive_for_u)
    # a D is effective (closes something) iff the row was alive: its
    # boundary-before is I, or no boundary and the key was in the snapshot
    prior_boundary = F.last(
        F.when(F.col(action).isin("I", "D"), F.col(action)), ignorenulls=True
    ).over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    d_effective = (F.col(action) == "D") & (
        (prior_boundary == "I") | (prior_boundary.isNull() & F.col("__in_state"))
    )
    marked = ch.select(
        F.col(key), F.col(seq), F.col(action), *value_cols,
        opens.alias("__opens"), d_effective.alias("__closes"),
    ).filter(F.col("__opens") | F.col("__closes"))
    w_eff = Window.partitionBy(key).orderBy(seq)
    v = marked.withColumn("__next_seq", F.lead(seq).over(w_eff))
    return v.filter(F.col("__opens")).select(
        F.col(key),
        F.col(seq).alias("version_seq"),
        *value_cols,
        F.col("__next_seq").alias("valid_to_seq"),
        F.col("__next_seq").isNull().alias("is_current"),
    )
