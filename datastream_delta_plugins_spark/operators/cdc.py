"""CDC materialization — the reference's core semantics (SURVEY §2.4 O4),
Spark-first.

The reference emits an ordered stream of DML events; the downstream
target merges them by primary key using the per-event sort keys, keeping
deleted PKs as soft-deleted rows
(reference: DatastreamDeltaSource.java:101-105,
docs/OracleDatastream-cdcSource.md:117-119). Here that merge is a native
Spark aggregation:

    groupBy(pk).agg(max_by(struct(payload..., _op), struct(_sk1.._sk4)))

`max_by` over the sort-key struct picks the latest event per PK with
**map-side partial aggregation** — each input partition first reduces
locally, so the shuffle carries at most one row per (partition, pk)
instead of every change event. At 100 TB with long change histories this
is strictly less shuffle than the window/row_number formulation (which
must shuffle every event to sort it); the window strategy is kept for
when the full ordered history per PK is needed downstream.

Folding a batch into an existing state (`merge_batch`) is one pass: the
batch's winners (that same `max_by`, one row per PK) full-outer-join the
state on the PK, and each output row takes the side whose sort-key
struct is greater — the batch on a tie. One scan of the state, two
exchanges (the batch aggregate and the state side of the join).

Plans are built from SQL expression strings (`selectExpr`/`F.expr` over
backtick-quoted names): one py4j round trip per operator instead of one
per column, which is most of a small batch's driver-side planning time.

Requires sort keys to totally order events within a PK (the reference
guarantees this: Oracle [source_timestamp, scn, rs_id, ssn]).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..envelope import SORT_KEY_COLS
from ..sources.changes import META_COLS, normalize_ops

_NON_PAYLOAD = set(META_COLS) | set(SORT_KEY_COLS) | {
    "_op", "_is_snapshot", "_source_file", "_previous"}

DELETE = "DELETE"


def payload_columns(changes: DataFrame) -> list[str]:
    return [c for c in changes.columns if c not in _NON_PAYLOAD]


def _q(name: str) -> str:
    """`name` quoted for a SQL expression string."""
    return "`" + name.replace("`", "``") + "`"


def _value_columns(df: DataFrame, pk_cols: Sequence[str],
                   sort_cols: Sequence[str],
                   keep_sort_keys: bool) -> list[str]:
    """The non-PK columns a materialized row carries."""
    out = [c for c in payload_columns(df) if c not in set(pk_cols)]
    if keep_sort_keys:
        # a sort col that is ALSO a payload column is already carried —
        # appending it again would make the value struct's field
        # ambiguous
        out += [c for c in sort_cols if c not in out]
    return out


def _latest_by_pk(df: DataFrame, pk_cols: Sequence[str],
                  value_cols: Sequence[str],
                  sort_cols: Sequence[str]) -> DataFrame:
    """``pk..., _latest``: per PK, struct(value_cols..., _op) of the
    event with the greatest struct(sort_cols) — the one definition of
    the merge's winner, shared by `materialize` and `merge_batch`.

    The ordering struct is the raw sort columns. Spark's struct
    ordering already ranks a NULL field below every real value of ANY
    type (the interpreted/codegen orderings compare null < non-null per
    field), so the raw struct gives exactly the null-safe semantics we
    need — no sentinel a legitimate value (e.g. a negative numeric key)
    could undercut, and no extra flag fields doubling the per-row
    comparison cost in the partial aggregate. The struct itself is
    never NULL (struct() of null fields is non-null), so max_by never
    drops a row. Verified by test_sort_key_null_ranks_below_any_value."""
    value = ", ".join(_q(c) for c in [*value_cols, "_op"])
    order = ", ".join(_q(c) for c in sort_cols)
    return df.groupBy(*pk_cols).agg(
        F.expr(f"max_by(struct({value}), struct({order})) AS _latest"))


def materialize(changes: DataFrame,
                pk_cols: Sequence[str],
                sort_cols: Sequence[str] = SORT_KEY_COLS,
                dml_blacklist: Sequence[str] = (),
                soft_delete: bool = True,
                strategy: str = "agg",
                keep_sort_keys: bool = False) -> DataFrame:
    """Latest-row state of a change stream (Q26-Q30 semantics).

    Returns one row per PK: the payload of the latest event plus
    `_is_deleted` (soft delete). With ``soft_delete=False`` deleted PKs
    are dropped. ``dml_blacklist`` filters ops (post-normalization)
    before the merge, matching P2/P3
    (reference: DatastreamEventConsumer.java:232-235,
    DatastreamEventReader.java:639-641). ``keep_sort_keys`` carries the
    winning event's sort keys into the output, which makes the state
    re-mergeable with late-arriving batches (merge_batch).
    """
    df = changes if "_op" in changes.columns else normalize_ops(changes)
    if dml_blacklist:
        df = df.where(~F.col("_op").isin([o.upper() for o in dml_blacklist]))
    out_cols = _value_columns(df, pk_cols, sort_cols, keep_sort_keys)
    is_deleted = f"_op = '{DELETE}' AS _is_deleted"

    if strategy == "agg":
        latest = _latest_by_pk(df, pk_cols, out_cols, sort_cols).selectExpr(
            *map(_q, pk_cols),
            *[f"_latest.{_q(c)} AS {_q(c)}" for c in out_cols],
            "_latest." + is_deleted)
    elif strategy == "window":
        w = W.partitionBy(*pk_cols).orderBy(*[F.desc(c) for c in sort_cols])
        latest = (df.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1)
                    .selectExpr(*map(_q, [*pk_cols, *out_cols]), is_deleted))
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    if not soft_delete:
        latest = latest.where("NOT _is_deleted").drop("_is_deleted")
    return latest


def merge_batch(state: DataFrame,
                batch_changes: DataFrame,
                pk_cols: Sequence[str],
                sort_cols: Sequence[str] = SORT_KEY_COLS) -> DataFrame:
    """Fold a change batch into a sort-key-carrying state (one produced
    with keep_sort_keys=True) in one pass.

    The batch's winners (one row per PK, `_latest_by_pk`) full-outer-
    join the state on the PK, and each row keeps the side with the
    greater sort-key struct. The batch wins a tie: equal keys mean a
    replay of the same event, which is idempotent. `_is_deleted` comes
    from the winner. Late-data correct: a state row is only replaced by
    a batch event that sorts at or after it, so an out-of-order file
    cannot overwrite newer state (the reference's 3-day rescan window
    delivers exactly such files, DatastreamEventReader.java:439-459).

    Output columns are the state's, in order, then any column only the
    batch carries; a side that lacks a column reads NULL (mergeSchema
    semantics — a drifted batch needs no ALTER of the state first).

    Cost: the state is scanned once and shuffled once (the join's state
    side); the batch is aggregated, and its exchange already partitions
    it by PK for the join. So this rewrites O(state) — both state
    backends bound it: versioned by rewriting the whole table, bucketed
    by passing only the touched buckets as `state`. Nothing is
    force-broadcast: a typical incremental batch is small, but a
    backfill batch can carry billions of PKs, and a full outer join
    cannot broadcast either side anyway. The join's reduce side is as
    wide as AQE coalesces it: a state shuffle under the advisory
    partition size (64 MB by default) is joined and written by ONE
    task. Measured on 4 cores, a 1e6-row state's batch then takes
    ~1.8x as long as a two-scan merge that writes the untouched rows
    with the state scan's parallelism (ROADMAP open item 11); at the
    1e5 rows of `perfbench` cdc-steady the one pass is ~26% faster.

    The batch is the join's LEFT side, so the result belongs to the
    batch's SparkSession. Keep it so: an `Observation` on a
    foreachBatch frame only fills when the written frame belongs to
    that frame's session (with the state on the left, Spark 4.1's
    `Observation.get` blocked forever).
    """
    missing = [c for c in sort_cols if c not in state.columns]
    if missing:  # a state built without keep_sort_keys=True would
        # join NULL sort keys, rank below every batch event, and let
        # an out-of-order batch silently overwrite newer state — fail
        # loudly instead
        raise ValueError(
            f"state is missing sort key column(s) {missing}: build it "
            f"with materialize(..., keep_sort_keys=True) so merge_batch "
            f"can rank late events against the state's remembered keys")
    df = (batch_changes if "_op" in batch_changes.columns
          else normalize_ops(batch_changes))
    pk = list(pk_cols)
    value_cols = _value_columns(df, pk, sort_cols, keep_sort_keys=True)
    batch_wins = (
        "(b._latest IS NOT NULL AND "
        f"struct({', '.join(f'b._latest.{_q(c)}' for c in sort_cols)}) >= "
        f"struct({', '.join(f's.{_q(c)}' for c in sort_cols)}))")
    # a missing state row reads as all-NULL sort keys, which rank below
    # any batch key (and tie an all-NULL one), so batch_wins needs no
    # separate "state row absent" test
    from_batch = {c: f"b._latest.{_q(c)}" for c in value_cols}
    from_batch["_is_deleted"] = f"b._latest._op = '{DELETE}'"
    in_state = set(state.columns)

    def pick(c: str) -> str:
        if c in pk:
            return f"coalesce(b.{_q(c)}, s.{_q(c)}) AS {_q(c)}"
        s_val = f"s.{_q(c)}" if c in in_state else "NULL"
        return (f"IF({batch_wins}, {from_batch.get(c, 'NULL')}, {s_val})"
                f" AS {_q(c)}")

    on = " AND ".join(f"b.{_q(c)} = s.{_q(c)}" for c in pk)
    out = [*state.columns, *[c for c in from_batch if c not in in_state]]
    return (_latest_by_pk(df, pk, value_cols, sort_cols).alias("b")
            .join(state.alias("s"), F.expr(on), "full_outer")
            .selectExpr(*map(pick, out)))


def diff_states(prev: DataFrame | None, cur: DataFrame,
                pk_cols: Sequence[str],
                ignore_cols: Sequence[str] = SORT_KEY_COLS,
                absent_is_delete: bool = False) -> DataFrame:
    """Change feed between two materialized states: one row per PK
    whose content changed, with `_change` in INSERT/UPDATE/DELETE.

    The engine consumes change streams; this re-EMITS one from state
    versions, so a downstream consumer (another replication hop, an
    incremental index) can subscribe to the materialized table the way
    the reference's targets subscribe to Datastream. Classification:
      INSERT  pk absent before (or previously soft-deleted, live now)
      DELETE  live before, soft-deleted now — and, with
              ``absent_is_delete``, live before and PHYSICALLY absent
              now (engine state tables keep tombstones so absence
              never occurs; foreign tables — sources.delta_reader.
              delta_changes — delete rows physically)
      UPDATE  live both sides, any non-pk column differing
    Comparison is one full-outer join keyed on pk (null-safe struct
    equality) — the standard CDF computation when storage keeps
    versions, not deltas. The bucketed state table narrows it to the
    buckets whose files actually changed (changes_between), so at
    scale the diff cost tracks the delta, not the table.
    """
    pk = list(pk_cols)
    # sort keys are merge BOOKKEEPING, not content: a no-op "touch"
    # event wins the merge with a new scn but identical payload, and
    # comparing the keys would feed a spurious UPDATE downstream.
    # _is_deleted is carried separately (_pdel/_cdel classification).
    skip = set(pk) | set(ignore_cols) | {"_is_deleted"}
    val_cols = [c for c in cur.columns if c not in skip]
    if prev is None:
        return cur.where(~F.col("_is_deleted")) \
                  .select(*pk, F.lit("INSERT").alias("_change"))
    prev_cols = set(prev.columns)
    p = prev.select(
        *pk, F.struct(*[F.col(c) if c in prev_cols
                        else F.lit(None).alias(c) for c in val_cols])
        .alias("_pv"), F.col("_is_deleted").alias("_pdel"))
    c = cur.select(*pk, F.struct(*val_cols).alias("_cv"),
                   F.col("_is_deleted").alias("_cdel"))
    j = p.join(c, pk, "full_outer")
    was_live = F.col("_pdel").isNotNull() & ~F.col("_pdel")
    is_live = F.col("_cdel").isNotNull() & ~F.col("_cdel")
    dead_now = F.col("_cdel").isNotNull() & F.col("_cdel")
    if absent_is_delete:                               # physical removal
        dead_now = dead_now | F.col("_cdel").isNull()
    change = (
        F.when(~was_live & is_live, "INSERT")          # new or revived
         .when(was_live & dead_now, "DELETE")
         .when(was_live & is_live
               & ~F.col("_pv").eqNullSafe(F.col("_cv")), "UPDATE"))
    return (j.withColumn("_change", change)
             .where(F.col("_change").isNotNull())
             .select(*pk, "_change"))
