"""Incremental corpus maintenance: apply a compacted CDC change feed to a
standing deduplicated corpus WITHOUT rebuilding it — the composition the
r10 pieces (cdc.py, dedup.py, rollup.py) were built for, wired end-to-end.

A corpus build (see ``corpus_build_pipeline``) maintains two artifacts:

- ``docindex`` — every LIVE, gate-passing document with its content
  fingerprint (NOT deduplicated). This is the full membership index a
  real dedup service keeps: without the suppressed duplicates, deleting
  a keeper could not resurrect the next-smallest duplicate, and the
  incrementally-maintained corpus would silently diverge from a rebuild.
- ``corpus`` — the deduplicated view: per fingerprint, the keeper row
  (smallest id among live docs), i.e. first-writer-wins.

:func:`refresh_corpus` applies a day-sized compacted change feed to both
artifacts with the invariant that the result is ROW-IDENTICAL to a
from-scratch rebuild on the changed input (driver-oracled against
exactly that recompute). The 100 TB plan shape: the snapshot side is
scanned but NEVER shuffled — the new doc index is the standing index
LEFT ANTI a broadcast of the feed's keys, unioned with the feed's live
rows, and every other join against ``docindex``/``corpus`` broadcasts a
feed-derived side (plan-fenced in tests/test_incremental_r11.py) — and
keeper recomputation touches only the fingerprints the feed affected
(feed-sized, not corpus-sized). Each feed-sized intermediate (the change
set, the affected-fingerprint set, the recomputed keepers) is evaluated
once per call, whatever number of downstream writes read it.

Rollup refresh composes via RETRACTION (rollup.negate_state): the det
fixed-point power sums are exact integers, so ``state + state(added
keepers) - state(removed keepers)`` is bit-identical to a from-scratch
state build — count/sum/mean/var/std refresh without rescanning the
corpus. (Extrema and HLL distinct sketches do not retract — deleting
the max invalidates it — so finalize(extrema=False) scopes the
incremental read-out honestly; a real pipeline recomputes extrema per
touched group, which is also feed-sized.)

The reference (dubovikmaster/parallel-pandas) has no storage or
incremental layer — extension-tier scale infrastructure like cdc.py,
rollup.py, and vecstore.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def keepers(docindex: DataFrame, fp_col: str = "fp", id_col: str = "doc_id") -> DataFrame:
    """Deduplicated view of a doc index: per fingerprint the row with the
    smallest id (first-writer-wins; id is unique so the keeper is
    deterministic). One hash exchange on the fingerprint."""
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc())
    return (
        docindex.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def refresh_corpus(
    docindex: DataFrame,
    corpus: DataFrame,
    changes: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    op_col: str = "op",
    delete_op: str = "D",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Apply a compacted change feed to the standing (docindex, corpus).

    ``changes``: at most one row per ``id_col`` (run :func:`~parallel_
    pandas_spark.operators.cdc.cdc_compact` first, ``drop_deleted=
    False``), carrying docindex's columns plus ``op_col``. A doc that no
    longer passes the corpus gate must arrive as ``delete_op`` — the
    caller owns the gate, this function owns membership.

    Returns ``(docindex2, corpus2, added, removed)`` where ``added``/
    ``removed`` are the keeper-level delta (rows entering / leaving the
    deduplicated corpus) — exactly the inputs rollup retraction needs.

    Plan contract (fenced in tests): the snapshot (docindex/corpus) is
    never shuffled. ``docindex2`` is the standing rows whose id the feed
    does not carry (a null-safe LEFT ANTI against the broadcast feed
    keys, as a MERGE ON ``<=>`` clause matches) unioned with the feed's
    live rows; the affected-fingerprint set is feed-sized and broadcast
    back; and only feed-sized intermediates (the affected docs, the
    keeper delta) ever hit an exchange. The change set, the affected
    fingerprints and the recomputed keepers are each materialised once
    (``localCheckpoint``): every consumer below reads the stored rows
    instead of re-running the caller's compaction window or the keeper
    window per subtree.
    """
    # feed-sized by contract: evaluate the caller's plan (typically a
    # cdc_compact window over a micro-batch) once for every leg below
    changes = changes.localCheckpoint(eager=False)
    live = changes.where(
        ~F.col(op_col).eqNullSafe(F.lit(delete_op))
    ).select(*docindex.columns)
    keys = F.broadcast(changes.select(id_col).alias("__ch"))
    on_key = F.col(f"__di.{id_col}").eqNullSafe(F.col(f"__ch.{id_col}"))
    keep = docindex.alias("__di").join(keys, on_key, "left_anti")
    docindex2 = keep.unionByName(live)
    # fingerprints whose keeper can change: those introduced by live feed
    # rows, plus those of standing rows the feed touched (deleted,
    # updated, or overwritten) — both feed-sized
    touched_fps = docindex.alias("__di").join(
        keys, on_key, "left_semi"
    ).select(fp_col)
    # checkpoint: aff_fps feeds three broadcast joins below; the
    # materialized set is feed-sized, and without a barrier each join
    # would re-run touched_fps's docindex scan
    aff_fps = (
        live.select(fp_col)
        .unionByName(touched_fps)
        .distinct()
        .localCheckpoint(eager=False)
    )
    # recompute keepers ONLY within affected fingerprints (feed-sized);
    # both the corpus write and the rollup delta read them
    aff_docs = docindex2.join(F.broadcast(aff_fps), on=fp_col, how="left_semi")
    new_keep = keepers(aff_docs, fp_col, id_col).localCheckpoint(eager=False)
    old_keep = corpus.join(F.broadcast(aff_fps), on=fp_col, how="left_semi")
    untouched = corpus.join(F.broadcast(aff_fps), on=fp_col, how="left_anti")
    corpus2 = untouched.unionByName(
        new_keep.select(*untouched.columns)
    )
    # keeper delta: ALL old keepers of affected fingerprints leave, ALL
    # new keepers enter. Deliberately NOT minimized by an id anti-join:
    # an UPDATED keeper (same id, changed value columns) must retract its
    # old values and add its new ones, and an id-only comparison would
    # drop it from both sides, leaving stale values in any downstream
    # retraction state. A keeper that is truly unchanged retracts and
    # re-adds the same integers — exact cancellation — so correctness
    # never depends on minimization, and the delta stays bounded by the
    # affected-fingerprint keeper count (feed-sized).
    removed = old_keep
    added = new_keep.select(*untouched.columns)
    return docindex2, corpus2, added, removed


def refresh_extrema(
    state: DataFrame,
    corpus: DataFrame,
    added: DataFrame,
    removed: DataFrame,
    keys,
    cols,
    distinct_cols=(),
    hll_lg_k: int = 12,
) -> DataFrame:
    """Close the two honest gaps a retraction merge leaves in a rollup
    state: min/max (removing the max invalidates it — negate_state NULLs
    them, and a later merge keeps the STALE extremum) and HLL distinct
    sketches (sketch union cannot retract). Recompute BOTH, but only for
    the groups the keeper delta touched, and stitch with untouched
    groups' stored values — so the read-out after a retraction is exact
    everywhere and finalize() no longer needs ``extrema=False``.

    Cost shape (the 100 TB argument, plan-fenced in tests): the touched
    group set is delta-sized and BROADCASTS — the corpus scan it gates
    never shuffles, and with map-side partial aggregation only
    |touched groups| rows leave that scan; the stitch joins broadcast
    the touched/fresh sides against the state (state-sized, itself tiny).
    Untouched groups — the overwhelming majority on any real day — are
    never read. Join keys must be non-NULL (standard grouping-key
    hygiene; a NULL key would silently miss the semi joins).

    ``cols`` is the iterable of value columns whose ``mn_``/``mx_`` to
    refresh; ``distinct_cols`` the columns whose ``hll_`` to rebuild.
    Sketch flow: delta states carry no ``hll_`` columns — union them
    into the standing state with ``allowMissingColumns=True`` so
    ``merge_state(distinct_cols=...)``'s hll_union_agg passes the STORED
    sketch through (NULLs are skipped); this function then replaces the
    (stale) sketch for touched groups only.
    """
    from parallel_pandas_spark.operators.rollup import _extrema_aggs, _hll_agg

    keys = list(keys)
    cols = list(cols)
    distinct_cols = list(distinct_cols)
    touched = (
        added.select(*keys).unionByName(removed.select(*keys)).distinct()
    )
    aggs = []
    for c in cols:
        aggs.extend(_extrema_aggs(c))
    for c in distinct_cols:
        aggs.append(_hll_agg(corpus, c, hll_lg_k))
    fresh = (
        corpus.join(F.broadcast(touched), on=keys, how="left_semi")
        .groupBy(*keys)
        .agg(*aggs)
    )
    drop = [f"{p}{c}" for p in ("mn_", "mx_") for c in cols] + [
        f"hll_{c}" for c in distinct_cols
    ]
    keep = state.join(F.broadcast(touched), on=keys, how="left_anti")
    # left join: a touched group whose rows were ALL removed has no
    # fresh row — its extrema are honestly NULL (its count is 0 too)
    upd = (
        state.drop(*drop)
        .join(F.broadcast(touched), on=keys, how="left_semi")
        .join(F.broadcast(fresh), on=keys, how="left")
        .select(*state.columns)
    )
    return keep.unionByName(upd)
