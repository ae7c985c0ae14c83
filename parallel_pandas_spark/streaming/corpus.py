"""Live incremental corpus maintenance: a Structured-Streaming CDC feed
drives :func:`~parallel_pandas_spark.operators.incremental.refresh_corpus`
per micro-batch, keeping the standing (docindex, corpus, rollup state)
artifacts current with exactly-once OBSERVABLE semantics across crashes
and restarts — the composition of the r11 pieces (streaming→rollup state
and batch CDC→corpus) into one loop.

Exactly-once story (foreachBatch is at-least-once, so every write must be
idempotent per batch id):

- **Artifacts are versioned by batch id**: applying batch *i* reads the
  snapshot at the greatest committed version *j < i* (the base artifacts
  when none) and OVERWRITES version *i*. A replay of batch *i* after a
  crash re-reads the same *j < i* snapshot — never its own partial
  output — and rewrites *i* identically. Membership application
  (anti-join + union, keeper recompute) is deterministic, so replays are
  bit-identical.
- **Rollup refresh is delta-based, not in-place**: each batch writes a
  MERGEABLE delta state (``agg_state(added) ∪ negate_state(state(
  removed))``) to ``delta/b<i>`` with overwrite — an in-place
  retract-merge would double-retract on replay; overwritten deltas
  cannot. The read-out merges base state + all deltas (exact integer
  merges, any tree) and refreshes extrema per touched group
  (:func:`~parallel_pandas_spark.operators.incremental.refresh_extrema`),
  so the final state bit-equals a from-scratch build on the final corpus
  — pinned in tests/test_streaming_corpus_r12.py with a mid-stream
  stop/restart.

Ordering contract: the stream must deliver changes in event-ts order
ACROSS micro-batches per key (the Kafka-per-key-ordered CDC-log
assumption); within a batch, :func:`cdc.cdc_compact` resolves superseded
ops by ts. No watermark is involved — foreachBatch applies complete
micro-batches and there is no event-time aggregation state to bound; a
"late" change is simply a later CDC record and applies in arrival order.

100 TB shape: every per-batch plan is the refresh_corpus plan — the
snapshot is scanned but never shuffled (broadcast anti/semi joins,
feed-sized intermediates each evaluated once; plan fences in
tests/test_incremental_r11.py and tests/test_streaming_corpus_r12.py).
Snapshot versioning here rewrites the full artifact per batch for
byte-level simplicity; visibility is SNAPSHOT-ISOLATED by a single-file
JSON manifest (r13): the atomic ``_MANIFEST.json`` rename is the commit
point for batch writes AND compactions, readers resolve versions from
it without directory listings, and a crash anywhere before the rename
leaves orphan directories no reader sees (a work dir without a manifest
is empty). A production deployment swaps this single-writer manifest
for a format with native snapshot isolation (Iceberg/Delta) without
touching the maintenance logic. Loop state is BOUNDED by
:func:`compact_corpus_artifacts` (changelog compaction): outstanding
rollup deltas fold into an exact state snapshot and superseded artifact
versions are vacuumed, so neither the read-out's merge set nor the
version directories grow with stream lifetime.

The reference (dubovikmaster/parallel-pandas) has no streaming or
storage layer (SURVEY.md §1.1) — extension-tier scale infrastructure.
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parallel_pandas_spark.operators import cdc, incremental, rollup
from parallel_pandas_spark.streaming.events import run_foreach_batch

log = logging.getLogger(__name__)

#: Schema of every docindex and corpus artifact the loop reads and
#: writes (a corpus is keeper rows of its docindex, so the two share it).
#: Artifacts are read with it, not with a parquet footer inference, which
#: costs one Spark job per read.
DOC_INDEX_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("lang", T.StringType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("fp", T.StringType()),
])

#: CDC change-record schema for the documents corpus: the docindex
#: columns plus the CDC (ts, op) pair. ``fp`` arrives precomputed — the
#: content fingerprint is part of the change record a real feed carries.
DOC_CHANGES_SCHEMA = T.StructType(DOC_INDEX_SCHEMA.fields + [
    T.StructField("ts", T.LongType()),
    T.StructField("op", T.StringType()),
])


def stream_doc_changes(
    spark: SparkSession, path_dir: str, max_files: int = 1
) -> DataFrame:
    """File-source stream of CDC change records (one slice file per
    micro-batch at ``max_files=1``). NOTE the file source orders part
    files by MODIFICATION time — slice writers must force ascending
    mtimes (see tests) or batches arrive out of ts order."""
    return (
        spark.readStream.schema(DOC_CHANGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path_dir)
    )


def _version_id(d: str) -> int:
    return int(os.path.basename(d)[1:])


# --- snapshot-isolation manifest (r13, r12 verdict #7) ------------------
# One JSON file at <work_dir>/_MANIFEST.json is the COMMIT POINT for the
# whole loop: {"txn", "docindex": [ids], "corpus": [ids], "deltas":
# [ids], "state": id|null}. It is written via temp-file + os.rename
# (atomic on one filesystem), so readers see either the old or the new
# snapshot — never a torn one — and resolve versions WITHOUT directory
# listings. Artifact directories become visible only when a manifest
# transaction references them: a crash anywhere between the Spark
# writes and the manifest rename leaves orphan directories that no
# reader resolves and the next vacuum removes. This is the hand-rolled
# step toward the Iceberg/Delta seam SCALE.md names — the maintenance
# logic reads through the same two helpers either way. A work_dir
# without a manifest has committed nothing: every artifact is empty.


def _manifest_path(work_dir: str) -> str:
    return os.path.join(work_dir, "_MANIFEST.json")


def _read_manifest(work_dir: str) -> "dict | None":
    import json

    try:
        with open(_manifest_path(work_dir)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _init_manifest(work_dir: str) -> dict:
    """The committed manifest, or the empty one of a work_dir that has
    committed nothing yet."""
    return _read_manifest(work_dir) or {
        "txn": 0, "docindex": [], "corpus": [], "deltas": [], "state": None,
    }


def _commit_manifest(work_dir: str, man: dict, expect_txn=None) -> None:
    """Atomic manifest publish. ``expect_txn`` (r14 verdict #3, the same
    fence as vecstore._commit_store_manifest): the txn the writer read
    when it began — the commit re-reads the manifest immediately before
    the rename and refuses when a concurrent writer moved it, instead of
    silently last-write-winning. Loud-failure guard, not a lock."""
    import json

    if expect_txn is not None:
        cur = _read_manifest(work_dir)
        cur_txn = 0 if cur is None else int(cur["txn"])
        if cur_txn != int(expect_txn):
            from parallel_pandas_spark.operators.vecstore import (
                ConcurrentStoreWriteError,
            )

            raise ConcurrentStoreWriteError(
                f"corpus manifest at {work_dir!r} advanced to "
                f"txn={cur_txn} while this writer (begun at "
                f"txn={expect_txn}) was staging — single-writer contract "
                "violated; re-run against the new snapshot"
            )
    os.makedirs(work_dir, exist_ok=True)
    tmp = _manifest_path(work_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(man, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, _manifest_path(work_dir))


def _live_ids(work_dir: str, art: str) -> list:
    """Committed version ids of an artifact, ascending, from the
    manifest (no directory listing)."""
    man = _init_manifest(work_dir)
    if art == "state":
        return [] if man["state"] is None else [man["state"]]
    return sorted(man["deltas" if art == "delta" else art])


def _art_dir(work_dir: str, art: str, vid: int) -> str:
    return os.path.join(work_dir, art, f"b{vid:05d}")


def _latest_dir(work_dir: str, art: str, below: int) -> "str | None":
    """Directory of the greatest committed version with id < below."""
    ids = [v for v in _live_ids(work_dir, art) if v < below]
    return _art_dir(work_dir, art, ids[-1]) if ids else None


def _batch_frames(
    di: DataFrame,
    co: DataFrame,
    batch_df: DataFrame,
    keys: list,
    spec: dict,
) -> tuple:
    """One micro-batch's plan against the snapshot ``(di, co)``: compact
    the batch's changes, apply them
    (:func:`~parallel_pandas_spark.operators.incremental.refresh_corpus`,
    which evaluates the compacted batch and its keeper recompute once),
    and build the two writes — the docindex+corpus pair FUSED into one
    frame tagged by ``__art`` (corpus rows are docindex keeper rows, so
    the pair shares a schema and is written as one partitioned job),
    and the rollup delta ``agg_state(added) ∪ negate_state(
    agg_state(removed))``. Returns ``(fused, delta, di2, co2)``."""
    cols = list(spec)
    changes = cdc.cdc_compact(
        batch_df, ["doc_id"], ["ts"], drop_deleted=False
    ).drop("ts")
    di2, co2, added, removed = incremental.refresh_corpus(di, co, changes)
    delta = rollup.agg_state(added, keys, spec).unionByName(
        rollup.negate_state(
            rollup.agg_state(removed, keys, spec), cols, keys=keys
        )
    )
    # structural: corpus rows are keeper rows OF the docindex, so the
    # column sets always match; the assert guards a future refactor
    # that would silently break the fused layout
    assert set(co2.columns) == set(di2.columns), (di2.columns, co2.columns)
    fused = di2.withColumn("__art", F.lit("di")).unionByName(
        co2.select(*di2.columns).withColumn("__art", F.lit("co"))
    )
    return fused, delta, di2, co2


def run_corpus_refresh_stream(
    spark: SparkSession,
    make_stream,
    base_docindex: str,
    base_corpus: str,
    work_dir: str,
    checkpoint_dir: str,
    spec: dict,
    keys=("lang",),
    stop_after_batches: "int | None" = None,
    timeout_secs: float = 180.0,
) -> int:
    """Drive the live maintenance loop (see module docstring): per
    micro-batch, compact the batch's changes, apply them to the snapshot
    at the greatest version below this batch id, and overwrite version
    ``b<batch_id>`` of ``<work_dir>/{docindex,corpus,delta}``. The base
    artifacts and the change records carry :data:`DOC_INDEX_SCHEMA`'s
    columns (the records add ``ts`` and ``op``). Runs to
    the drain of the changes present at start, or stops after
    ``stop_after_batches`` committed batches
    (:func:`~parallel_pandas_spark.streaming.events.run_foreach_batch`).
    Returns the number of data batches committed in this run; call
    again with the same checkpoint to resume (restart recovery is the
    point — pinned in tests with a mid-stream stop)."""
    keys = list(keys)

    def write_batch(batch_df, batch_id: int) -> None:
        t0 = time.perf_counter()
        # fence anchor (r14 verdict #3): the txn this batch resolved its
        # input snapshots at — the commit refuses if it moved meanwhile
        begun_txn = int(_init_manifest(work_dir)["txn"])
        snap_di = _latest_dir(work_dir, "docindex", batch_id) or base_docindex
        snap_co = _latest_dir(work_dir, "corpus", batch_id) or base_corpus
        fused, delta, di2, co2 = _batch_frames(
            spark.read.schema(DOC_INDEX_SCHEMA).parquet(snap_di),
            spark.read.schema(DOC_INDEX_SCHEMA).parquet(snap_co),
            batch_df, keys, spec,
        )
        # artifact writes (r16 verdict #6): the fused docindex+corpus
        # frame is written into a staging dir whose partition
        # directories are renamed into the standard layout — readers see
        # byte-identical per-artifact directories. delta has its own schema
        # and overlaps on a second driver thread (guide §2.6). The
        # commit point is still ONLY the manifest rename below: a crash
        # between renames leaves orphan directories no reader resolves.
        t1 = time.perf_counter()
        staging = os.path.join(work_dir, f".staging_b{batch_id:05d}")
        shutil.rmtree(staging, ignore_errors=True)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(
                    lambda: fused.write.mode("overwrite")
                    .partitionBy("__art").parquet(staging)
                ),
                pool.submit(
                    lambda: delta.write.mode("overwrite").parquet(
                        _art_dir(work_dir, "delta", batch_id))
                ),
            ]
            for f in futs:
                f.result()
        for part, art, frame in (
            ("di", "docindex", di2), ("co", "corpus", co2),
        ):
            src = os.path.join(staging, f"__art={part}")
            dst = _art_dir(work_dir, art, batch_id)
            shutil.rmtree(dst, ignore_errors=True)
            if os.path.isdir(src):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
            else:
                # dynamic partitioning emits no directory for an EMPTY
                # artifact (a feed that deletes every doc) — write it
                # directly, which produces an empty-but-readable parquet
                # dir
                frame.write.mode("overwrite").parquet(dst)
        shutil.rmtree(staging, ignore_errors=True)
        t2 = time.perf_counter()
        # the manifest rename is the batch's COMMIT POINT: a crash
        # anywhere above leaves orphan directories no reader resolves;
        # the foreachBatch replay rewrites them and commits then. A
        # replay of an ALREADY-committed batch (crash between manifest
        # and checkpoint) re-reads the greatest id < batch_id — its own
        # entry never shadows its input (keep_last >= 2 retains the
        # predecessor).
        man = _init_manifest(work_dir)
        for k in ("docindex", "corpus", "deltas"):
            if batch_id not in man[k]:
                man[k] = sorted(man[k] + [batch_id])
        man["txn"] += 1
        _commit_manifest(work_dir, man, expect_txn=begun_txn)
        log.debug(
            "corpus batch b%d: plan=%.3fs writes=%.3fs commit=%.3fs",
            batch_id, t1 - t0, t2 - t1, time.perf_counter() - t2,
        )

    return run_foreach_batch(
        spark, make_stream, write_batch, checkpoint_dir,
        stop_after_batches=stop_after_batches, timeout_secs=timeout_secs,
    )


def _fold_state(
    spark: SparkSession,
    base_state: DataFrame,
    work_dir: str,
    keys: list,
    cols: list,
    corpus: DataFrame,
    upto: int,
) -> tuple:
    """The rollup state as of batch ``upto``: the newest committed state
    snapshot (or ``base_state`` when none), merged with every committed
    delta newer than it up to ``upto``, extrema-refreshed for the groups
    those deltas touched against ``corpus``. One implementation serves
    both the read-out and compaction's fold so the two can never drift.
    Snapshots and deltas are rollup states of ``base_state``'s schema.
    Returns ``(state, snap_id, folded_delta_dirs)``."""
    read_state = spark.read.schema(base_state.schema).parquet
    snap = _latest_dir(work_dir, "state", 1 << 60)
    snap_id = _version_id(snap) if snap else -1
    base = read_state(snap) if snap else base_state
    fold = [
        _art_dir(work_dir, "delta", v)
        for v in _live_ids(work_dir, "delta")
        if snap_id < v <= upto
    ]
    if not fold:
        # every delta is folded into the snapshot, whose extrema the
        # fold already refreshed against this same corpus version
        return base, snap_id, []
    deltas = read_state(*fold)
    merged = rollup.merge_state(
        base.unionByName(deltas.select(*base.columns)), keys, cols
    )
    touched = deltas.select(*keys)
    state = incremental.refresh_extrema(
        merged, corpus, touched, touched, keys, cols
    )
    return state, snap_id, fold


def compact_corpus_artifacts(
    spark: SparkSession,
    base_state: DataFrame,
    work_dir: str,
    spec: dict,
    keys=("lang",),
    keep_last: int = 2,
) -> dict:
    """Bound the loop's state: fold every outstanding rollup delta into
    a STATE SNAPSHOT at ``<work_dir>/state/b<H>`` (H = newest committed
    batch) and vacuum superseded artifact versions. Without this the
    read-out merges a delta set that grows with every micro-batch and
    the versioned docindex/corpus directories grow without bound — the
    standard changelog-compaction move, expressed on the loop's own
    exactly-once artifacts.

    The snapshot is EXACT, not just mergeable: the fold runs the same
    extrema/sketch refresh as the read-out against the corpus at H, so
    a group untouched by any later delta never needs its stored
    extrema revisited (its membership — hence min/max — is unchanged
    after H by definition). Read-outs then merge only deltas newer
    than the snapshot; compaction after compaction folds nothing and
    is a no-op.

    Crash/replay safety (same single-writer assumption as the per-batch
    artifact writes — run it between stream runs, not concurrently):
    deltas are deleted only AFTER the manifest commits the snapshot
    that folds them; a crash during the snapshot write leaves a partial
    no manifest references, which version resolution ignores and the
    next compaction purges and re-folds — the fold
    source is never lost before its result is durable. Vacuum deletes
    only versions older than the ``keep_last`` newest, and ``keep_last
    >= 2`` keeps the predecessor a restart replay of batch H reads
    (foreachBatch replays at most the newest batch). A replayed batch
    may rewrite an already-folded ``delta/b<H>`` after vacuum removed
    it — harmless, because read-outs ignore deltas at or below the
    snapshot id. Returns ``{"folded_to", "deltas_folded",
    "versions_deleted"}``."""
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: a restart replay of the newest "
            "batch reads the PREVIOUS artifact version — vacuuming it "
            "would replay against the wrong snapshot"
        )
    keys = list(keys)
    cols = list(spec)
    st_dir = os.path.join(work_dir, "state")
    # fence anchor (r14 verdict #3): the txn this compaction read its
    # inputs at — the commit below refuses if a concurrent writer moved it
    begun_txn = int(_init_manifest(work_dir)["txn"])
    # purge snapshots a crashed fold left UNCOMMITTED — unreferenced by
    # the manifest — so the fold below re-runs from the still-present
    # deltas
    committed_state = set(_live_ids(work_dir, "state"))
    for d in glob.glob(os.path.join(st_dir, "b*")):
        try:
            vid = _version_id(d)
        except ValueError:
            continue
        if vid not in committed_state:
            shutil.rmtree(d)
    de_ids = _live_ids(work_dir, "delta")
    # fold up to the newest committed delta; its batch committed the
    # corpus version of the same id
    horizon = de_ids[-1] if de_ids else -1
    co = (
        spark.read.schema(DOC_INDEX_SCHEMA).parquet(
            _art_dir(work_dir, "corpus", horizon))
        if horizon >= 0
        else None
    )
    folded, snap_id, fold = _fold_state(
        spark, base_state, work_dir, keys, cols, co, horizon
    )
    if fold:
        folded.write.mode("overwrite").parquet(
            _art_dir(work_dir, "state", horizon)
        )
    new_snap_id = horizon if fold else snap_id
    # COMMIT the compaction as one manifest transaction: the new state
    # snapshot becomes visible, folded deltas and vacuumed versions
    # stop being visible — then physical deletion is mere garbage
    # collection (a crash between commit and deletion leaves orphans no
    # reader resolves; the next compaction's sweep removes them).
    man = _init_manifest(work_dir)
    man["state"] = new_snap_id if new_snap_id >= 0 else None
    man["deltas"] = [v for v in man["deltas"] if v > new_snap_id]
    for k in ("docindex", "corpus"):
        man[k] = sorted(man[k])[-keep_last:]
    man["txn"] += 1
    _commit_manifest(work_dir, man, expect_txn=begun_txn)
    deleted = 0
    live = {
        "docindex": set(man["docindex"]),
        "corpus": set(man["corpus"]),
        "delta": set(man["deltas"]),
        "state": {man["state"]} if man["state"] is not None else set(),
    }
    for art, keep in live.items():
        for d in glob.glob(os.path.join(work_dir, art, "b*")):
            try:
                vid = _version_id(d)
            except ValueError:
                continue
            if vid not in keep:
                shutil.rmtree(d)
                deleted += 1
    # a crash between the fused staging write and its renames leaves a
    # .staging_b* orphan no reader resolves — garbage-collect it here
    for d in glob.glob(os.path.join(work_dir, ".staging_b*")):
        shutil.rmtree(d, ignore_errors=True)
    return {
        "folded_to": new_snap_id if new_snap_id >= 0 else None,
        "deltas_folded": len(fold),
        "versions_deleted": deleted,
    }


def corpus_stream_readout(
    spark: SparkSession,
    base_state: DataFrame,
    work_dir: str,
    spec: dict,
    keys=("lang",),
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The loop's final (docindex, corpus, finalized rollup): the latest
    artifact versions, and the newest state snapshot (falling back to
    ``base_state`` when :func:`compact_corpus_artifacts` has never run)
    merged with every NEWER batch delta (exact integer merges — any
    tree equals a single-pass build) with extrema refreshed for the
    groups those deltas touched. The result must bit-equal a
    from-scratch rebuild on the final corpus — that equality IS the
    maintenance theorem, and the tests assert it across a mid-stream
    restart and across compaction points."""
    keys = list(keys)
    cols = list(spec)
    read_art = spark.read.schema(DOC_INDEX_SCHEMA).parquet
    di = read_art(_latest_dir(work_dir, "docindex", 1 << 60))
    co = read_art(_latest_dir(work_dir, "corpus", 1 << 60))
    state, _, _ = _fold_state(
        spark, base_state, work_dir, keys, cols, co, 1 << 60
    )
    fin = rollup.finalize(state, keys, spec)
    # a group whose members were ALL retracted cancels to a zero-count
    # state row (retraction merges never delete rows) — a from-scratch
    # rebuild has no such group. Membership is decided against the
    # corpus itself (a group exists in a rebuild iff it has >= 1 live
    # row), not by count_* > 0, which would also drop a legal group
    # whose live rows are all NULL in every spec column while the
    # rebuild keeps its n=0 row.
    # null-SAFE membership: a groupBy keeps a NULL-keyed group, so a
    # rebuild of a corpus holding NULL keys has that group — a plain
    # equi-semi-join would silently drop it from the read-out. The
    # distinct key set is group-count-sized, so the eqNullSafe
    # condition join stays a broadcast.
    alive = co.select(*keys).distinct().alias("__alive__")
    f = fin.alias("__fin__")
    cond = None
    for k in keys:
        c = F.col(f"__fin__.{k}").eqNullSafe(F.col(f"__alive__.{k}"))
        cond = c if cond is None else cond & c
    return di, co, f.join(F.broadcast(alive), cond, "left_semi")
