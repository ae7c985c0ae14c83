"""Change-data-capture operators: log compaction, MERGE-style upsert,
and SCD-2 (slowly-changing-dimension) interval builds.

The reference (dubovikmaster/parallel-pandas) has no storage or CDC
layer at all — like the vector store (vecstore.py) these are
extension-tier pipeline operators: a training-data corpus is rebuilt
incrementally from upstream change feeds, and the three verbs every
such pipeline needs are

- :func:`cdc_compact` — collapse a change log to the latest live row
  per key ("read-optimize the log"): one ``row_number`` window pass
  partitioned by key, so the only shuffle is the hash exchange on the
  key — the same plan a 1000-executor compaction job wants (no
  driver-side state, no sort beyond the per-key window ordering).
- :func:`merge_upsert` — apply a compacted change feed to a base
  snapshot with MERGE INTO semantics (update matched, insert new,
  delete tombstoned): ONE shuffle join on the key; when the feed is
  small relative to the snapshot, pass ``broadcast_source=True`` and
  the exchange disappears from the snapshot side entirely.
- :func:`scd2_build` — turn the log into validity intervals
  (valid_from / valid_to / version / is_current) with ``lead`` over
  the per-key ordering: one window pass, no second scan.

All three are deterministic given a total per-key ordering (order
columns + a unique tiebreaker), hence exactly SQL-replayable — the
driver battery value-checks every row against DuckDB.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _latest_window(keys: Sequence[str], order: Sequence[str]):
    """Per-key window ordering latest-first; ``order`` must end with a
    unique tiebreaker column or the compaction is non-deterministic."""
    return Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])


def cdc_compact(
    log: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
    drop_deleted: bool = True,
    salt_buckets: int | None = None,
) -> DataFrame:
    """Latest live row per key from a change log.

    Keeps the row with the greatest ``order`` tuple per ``keys`` group;
    a key whose latest op is ``delete_op`` is dropped (the tombstone
    wins) unless ``drop_deleted=False`` — a MERGE *source* feed must
    keep its tombstones so :func:`merge_upsert` can apply the deletes.
    Single hash-partitioned window pass — the 100 TB plan is one
    exchange on the key, and AQE's skew split handles a hot key the
    same way it does for the grouped aggregations.

    ``salt_buckets``: escape hatch for the whale-key shape on engines
    that execute the rn=1 filter as a full per-key window. MEASURED
    (a one-off zipfian skew study, recorded in SCALE.md): Spark 4.x
    needs no salt here —
    Catalyst rewrites ``row_number()==1`` into a PARTIAL
    WindowGroupLimit BEFORE the exchange (each map task forwards at most
    one row per key, the same map-side collapse grouped aggregation
    gets), so plain compact ran a 35 %-whale log FASTER than any salted
    variant (0.68 s vs 1.0-1.2 s on 8M rows) and is skew-immune by plan
    shape. Passing ``salt_buckets=N`` decomposes into two passes —
    latest per (key, salt = hash(order tuple) mod N), then
    latest-of-latest per key — identical by the argmax-of-maxima
    identity (``order`` ends in a unique tiebreaker), both passes
    splittable even without the group-limit rewrite.
    """
    if salt_buckets is not None and salt_buckets > 1:
        salt = F.pmod(F.hash(*[F.col(c) for c in order]), F.lit(salt_buckets))
        w1 = Window.partitionBy(*keys, "__salt").orderBy(
            *[F.col(c).desc() for c in order]
        )
        log = (
            log.withColumn("__salt", salt)
            .withColumn("__rn", F.row_number().over(w1))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__salt")
        )
    w = _latest_window(keys, order)
    out = (
        log.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if drop_deleted:
        # null-safe: a contract-violating NULL op is a non-delete (same
        # decision merge_upsert documents), not a silently-dropped row
        out = out.where(~F.col(op_col).eqNullSafe(F.lit(delete_op)))
    return out


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    op_col: str = "op",
    delete_op: str = "D",
    action_col: str = "action",
    broadcast_source: bool = False,
) -> DataFrame:
    """MERGE INTO semantics on DataFrames: rows of ``source`` (an
    already-compacted change feed — at most one row per key, op column
    present) are applied to ``target`` (a live snapshot, no op column).

    - matched + source op == ``delete_op``  -> row removed
    - matched + any other op                -> source row, action 'update'
    - source key absent from target         -> source row, action 'insert'
    - target key absent from source         -> target row, action 'keep'

    The output carries target's columns plus ``action_col``. Default
    plan: ONE full-outer shuffle join on the key. Spark cannot broadcast
    either side of a full-outer join, so ``broadcast_source=True``
    instead DECOMPOSES the merge into broadcast anti/semi joins — the
    snapshot side is scanned (twice) but NEVER shuffled, which is the
    plan a 100 TB corpus + a day-sized change feed wants: 'keep' rows
    are target LEFT ANTI broadcast(source keys); the matched key set
    (<= |source|, found by target LEFT SEMI broadcast(source)) splits
    the live source rows into 'update' (semi) and 'insert' (anti); the
    three legs union narrowly. Outputs are row-identical to the
    full-outer plan (pinned in tests, incl. NULL keys) — both plans
    match keys NULL-SAFELY (NULL == NULL matches, as a MERGE ON clause
    with <=> does), and row existence is probed through injected marker
    columns so neither key NULLs nor data NULLs can masquerade as a
    missing side.
    """
    data_cols = [c for c in target.columns if c not in keys]
    key_list = list(keys)

    def _nullsafe(la: str, ra: str):
        cond = None
        for k in key_list:
            c = F.col(f"{la}.{k}").eqNullSafe(F.col(f"{ra}.{k}"))
            cond = c if cond is None else cond & c
        return cond

    if broadcast_source:
        # null-safe: the full-outer plan coalesces a NULL op to non-delete
        # (line ~170); filtering live with plain != would drop NULL-op rows
        # from the update/insert legs while their keys still suppressed the
        # 'keep' leg — the key would vanish and the plans would diverge
        live = source.where(~F.col(op_col).eqNullSafe(F.lit(delete_op)))
        keep = (
            target.alias("t")
            .join(
                F.broadcast(source.select(*key_list).alias("s")),
                _nullsafe("t", "s"),
                "left_anti",
            )
            .select(*key_list, *data_cols, F.lit("keep").alias(action_col))
        )
        matched = (
            target.select(*key_list).alias("t")
            .join(
                F.broadcast(live.select(*key_list).alias("s")),
                _nullsafe("t", "s"),
                "left_semi",
            )
            .alias("m")
        )
        upd = (
            live.alias("l")
            .join(F.broadcast(matched), _nullsafe("l", "m"), "left_semi")
            .select(*key_list, *data_cols, F.lit("update").alias(action_col))
        )
        ins = (
            live.alias("l")
            .join(F.broadcast(matched), _nullsafe("l", "m"), "left_anti")
            .select(*key_list, *data_cols, F.lit("insert").alias(action_col))
        )
        return keep.unionByName(upd).unionByName(ins)
    # injected markers: key columns can be NULL and data columns can be
    # NULL, so neither is a sound existence probe after a full outer join
    # (self-review r10: the old probes made the two plans diverge on
    # NULL-key rows)
    t = target.withColumn("__t_marker", F.lit(1)).alias("t")
    s = source.withColumn("__s_marker", F.lit(1)).alias("s")
    joined = t.join(s, _nullsafe("t", "s"), "full_outer")
    s_exists = F.col("s.__s_marker").isNotNull()
    t_exists = F.col("t.__t_marker").isNotNull()
    action = (
        F.when(s_exists & ~t_exists, F.lit("insert"))
        .when(s_exists & t_exists, F.lit("update"))
        .otherwise(F.lit("keep"))
    )
    out_key = [
        F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k) for k in keys
    ]
    out_data = [
        F.when(s_exists, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in data_cols
    ]
    # coalesce: a (contract-violating) NULL op must not null the whole
    # predicate and silently drop the row — treat it as a non-delete
    is_delete = F.coalesce(
        s_exists & (F.col(f"s.{op_col}") == F.lit(delete_op)), F.lit(False)
    )
    return (
        joined.where(~is_delete)
        .select(*out_key, *out_data, action.alias(action_col))
    )


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    order: Sequence[str] | None = None,
    version_col: str = "version",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """INCREMENTAL SCD-2 maintenance: apply a day's new change rows to an
    existing dimension built by :func:`scd2_build`, touching only the
    affected keys — ``scd2_apply(scd2_build(log), new) ==
    scd2_build(log ∪ new)`` row-for-row (property-pinned in tests).

    Why it is exact: an SCD-2 dimension is a LOSSLESS encoding of its
    source log (every log row became an interval row that still carries
    all log columns, ``valid_from == ts``), and scd2_build is per-key
    independent — so the affected keys' history converts back to log
    rows, unions with their new changes, and rebuilds; every other key's
    rows pass through untouched. Closing the open interval and
    continuing the version sequence fall out of the rebuild rather than
    being hand-stitched (the hand-stitched form has edge cases this
    cannot have: multiple changes per key per day, out-of-order ts
    within the batch, a brand-new key).

    Plan shape: the standing dimension is split by one broadcast
    semi/anti pair on the feed's key set — never shuffled; only the
    affected keys' history (feed-keys-sized) enters the rebuild window.
    ``changes`` must carry exactly the log columns (keys + attributes +
    ``ts_col``). Contract: change timestamps may interleave with
    history (the rebuild re-orders); deletes are not a concept here —
    model them as an attribute (the standard SCD-2 soft-delete flag).
    """
    derived = {version_col, valid_from_col, valid_to_col, current_col}
    log_cols = [c for c in dim.columns if c not in derived]
    ck = changes.select(*keys).distinct()
    untouched = dim.join(F.broadcast(ck), on=list(keys), how="left_anti")
    history = (
        dim.join(F.broadcast(ck), on=list(keys), how="left_semi")
        .select(*log_cols)
    )
    rebuilt = scd2_build(
        history.unionByName(changes.select(*log_cols)),
        keys, ts_col, order,
        version_col, valid_from_col, valid_to_col, current_col,
    )
    return untouched.unionByName(rebuilt.select(*untouched.columns))


def scd2_build(
    log: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    order: Sequence[str] | None = None,
    version_col: str = "version",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """SCD type-2 intervals from a change log: every change row becomes
    a validity interval ``[valid_from, valid_to)`` with ``valid_to``
    the next change's timestamp (NULL = open / current). ``order``
    defaults to ``(ts_col,)`` and must be made unique with a tiebreaker
    when timestamps can collide within a key.

    One window pass (``lead`` + ``row_number`` share the frame), no
    self-join — the classic two-scan formulation (log JOIN log ON
    version+1) doubles the exchange for nothing.
    """
    ob = [F.col(c).asc() for c in (order or (ts_col,))]
    w = Window.partitionBy(*keys).orderBy(*ob)
    return (
        log.withColumn(version_col, F.row_number().over(w).cast("long"))
        .withColumn(valid_to_col, F.lead(F.col(ts_col)).over(w))
        .withColumn(valid_from_col, F.col(ts_col))
        .withColumn(current_col, F.col(valid_to_col).isNull())
    )
