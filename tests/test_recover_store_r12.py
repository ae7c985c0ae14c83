"""Crash-injection coverage for vector-store rewrite recovery.

r12 introduced automatic recovery for the rename-swap protocol; r14
(r13 verdict #4) replaced that protocol with the corpus loop's
snapshot-isolation manifest (streaming/corpus.py:120): every rewrite
stages a complete ``_data-v<txn>`` version (plus ``_cents-v<txn>`` for
a rebalance) INSIDE the store and publishes it by ONE atomic
``_MANIFEST.json`` rename. The crash surface collapses to two classes,
both decided by version-id arithmetic:

- a crash anywhere BEFORE the manifest rename (staging, the staged
  quantizer write, a torn ``_MANIFEST.json.tmp``) leaves the old
  snapshot fully live — readers are untouched WITHOUT any recovery
  step, and :func:`vecstore.recover_store` reports ``rolled_back``
  after discarding the orphaned staging;
- a crash anywhere AFTER it leaves the new snapshot fully live — data,
  tombstone set, and quantizer flipped together in the one rename —
  and recovery only sweeps the superseded directories
  (``rolled_forward``).

Crashes are injected into the REAL protocol (os.rename on the manifest,
json.dump into the manifest temp file, the post-commit sweep), not into
hand-built directory states, so these tests fail if the commit ordering
ever changes in a way that breaks decidability. The file keeps its r12
name because the SCENARIOS are ports: every pre-r14 crash point maps to
one of the two classes above.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import vecstore  # noqa: E402


def _emb(spark, n=40, d=8):
    rows = [(i, [float((i * 7 + j) % 13) for j in range(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk(spark, store, queries, k=5):
    return sorted(
        map(
            tuple,
            vecstore.quantized_topk_from_store(
                spark, store, queries, "vec_id", "embedding", k=k
            ).collect(),
        )
    )


def _crash_on_manifest_commit(monkeypatch):
    """Raise ON the manifest's atomic rename — the last instant before
    the commit. Everything staged, nothing published."""
    real = os.rename

    def boom(src, dst, *a, **k):
        if str(dst).endswith("_MANIFEST.json"):
            raise RuntimeError("injected crash: manifest commit")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "rename", boom)


def _crash_on_sweep(monkeypatch):
    """Raise INSIDE the post-commit sweep — the rewrite is published,
    its garbage is not yet collected."""

    def boom(path):
        raise RuntimeError("injected crash: sweep")

    monkeypatch.setattr(vecstore, "_sweep_store", boom)


def _store_with_tombstones(spark, tmp_path, name="vs", shards=2):
    emb = _emb(spark, 40)
    store = str(tmp_path / name)
    vecstore.write_vector_store(
        emb, store, "vec_id", "embedding", dim=8, shards=shards
    )
    vecstore.delete_from_vector_store(spark, store, [3, 17], "vec_id")
    return store, emb


def test_recover_clean_store_is_noop(spark, tmp_path):
    store, emb = _store_with_tombstones(spark, tmp_path)
    q = emb.where(F.col("vec_id") < 3)
    before = _topk(spark, store, q)
    assert vecstore.recover_store(store) == "clean"
    assert _topk(spark, store, q) == before
    assert os.path.isdir(vecstore._tombs_dir(store))  # untouched


def test_recover_discards_staged_only_rewrite(spark, tmp_path):
    """A rewrite that crashed after staging, before its commit: the
    staged version is an orphan no reader resolves; recovery discards
    it and the retried rewrite goes through."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    q = emb.where(F.col("vec_id") < 3)
    before = _topk(spark, store, q)
    txn = vecstore._read_store_manifest(store)["txn"]
    staged = f"{store}/_data-v{txn + 1:05d}"
    os.makedirs(staged + "/shard=0")
    assert _topk(spark, store, q) == before  # orphan invisible
    assert vecstore.recover_store(store) == "rolled_back"
    assert not os.path.isdir(staged)
    assert _topk(spark, store, q) == before
    assert vecstore.compact_vector_store(spark, store, "vec_id") == 38


def test_recover_rolls_back_crash_before_commit(spark, tmp_path, monkeypatch):
    """Crash ON the manifest rename: the store is byte-identical to its
    pre-rewrite state (tombstones standing, scoring unchanged) and the
    retried rewrite succeeds."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    q = emb.where(F.col("vec_id") < 3)
    before = _topk(spark, store, q)
    man_before = vecstore._read_store_manifest(store)
    _crash_on_manifest_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.compact_vector_store(spark, store, "vec_id")
    monkeypatch.undo()
    # staging exists but no manifest was published
    data = [d for d in os.listdir(store) if d.startswith("_data-v")]
    assert len(data) == 2
    assert vecstore._read_store_manifest(store) == man_before
    assert _topk(spark, store, q) == before  # reader never needed recovery

    assert vecstore.recover_store(store) == "rolled_back"
    assert [d for d in os.listdir(store) if d.startswith("_data-v")] == [
        man_before["data"]]
    assert os.path.isdir(vecstore._tombs_dir(store))
    assert _topk(spark, store, q) == before
    assert vecstore.compact_vector_store(spark, store, "vec_id") == 38
    assert _topk(spark, store, q) == before


def test_recover_rolls_forward_crash_after_commit(
    spark, tmp_path, monkeypatch
):
    """Crash between the commit rename and the sweep: the new snapshot
    is already fully live (tombstones cleared IN the commit — there is
    no stale-tombstone window to replay); recovery just collects the
    superseded directories and the result bit-equals a crash-free
    compact of a replica."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    ref, _ = _store_with_tombstones(spark, tmp_path, name="ref")
    q = emb.where(F.col("vec_id") < 3)
    tombs = vecstore._tombs_dir(store)
    _crash_on_sweep(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.compact_vector_store(spark, store, "vec_id")
    monkeypatch.undo()
    man = vecstore._read_store_manifest(store)
    assert man["data"].startswith("_data-v") and man["tombs"] is None
    # the reader already serves the committed snapshot, pre-recovery:
    # the old tombstone dir still exists but the manifest says None
    assert os.path.isdir(tombs)
    assert vecstore.load_vector_store(spark, store, "vec_id").count() == 38

    assert vecstore.recover_store(store) == "rolled_forward"
    assert not os.path.isdir(tombs)
    assert vecstore.compact_vector_store(spark, ref, "vec_id") == 38
    assert _topk(spark, store, q) == _topk(spark, ref, q)


def test_torn_manifest_tmp_never_shadows_the_commit(
    spark, tmp_path, monkeypatch
):
    """Crash INSIDE the manifest json.dump: partial bytes may hit the
    temp name but never the final one — readers resolve the OLD
    snapshot, recovery rolls back, the retry completes."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    q = emb.where(F.col("vec_id") < 3)
    before = _topk(spark, store, q)
    man_before = vecstore._read_store_manifest(store)
    real_dump = json.dump

    def boom(obj, fh, *a, **k):
        if str(getattr(fh, "name", "")).endswith("_MANIFEST.json.tmp"):
            fh.write('{"txn": ')  # partial bytes hit the disk...
            raise RuntimeError("injected crash: manifest write")
        return real_dump(obj, fh, *a, **k)

    monkeypatch.setattr(json, "dump", boom)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.compact_vector_store(spark, store, "vec_id")
    monkeypatch.undo()
    # ...but never under the final name
    assert vecstore._read_store_manifest(store) == man_before
    assert os.path.isfile(vecstore._store_manifest_path(store) + ".tmp")
    assert _topk(spark, store, q) == before

    assert vecstore.recover_store(store) == "rolled_back"
    assert not os.path.isfile(vecstore._store_manifest_path(store) + ".tmp")
    assert vecstore.compact_vector_store(spark, store, "vec_id") == 38
    assert _topk(spark, store, q) == before


def test_orphan_directories_invisible_and_swept(spark, tmp_path):
    """The corpus-loop mirror (r13 verdict #4's 'done' clause): artifact
    directories a manifest transaction never referenced — crashed
    staging at a FUTURE txn, junk at a PAST name — are invisible to
    read-outs and removed by the sweep."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    q = emb.where(F.col("vec_id") < 3)
    vecstore.compact_vector_store(spark, store, "vec_id")  # -> manifest txn 1
    before = _topk(spark, store, q)
    man_before = vecstore._read_store_manifest(store)
    # orphans: uncommitted future staging and superseded past garbage
    os.makedirs(store + "/_data-v00999/shard=0")
    os.makedirs(store + "/_tombs-v00998")
    assert _topk(spark, store, q) == before  # all invisible
    assert vecstore.load_vector_store(spark, store, "vec_id").count() == 38
    assert vecstore.recover_store(store) == "rolled_back"  # future staging
    for d in ("_data-v00999", "_tombs-v00998"):
        assert not os.path.isdir(os.path.join(store, d)), d
    assert vecstore._read_store_manifest(store) == man_before
    assert _topk(spark, store, q) == before


def test_recover_never_promotes_stale_staged_quantizer(
    spark, tmp_path, monkeypatch, sf_small
):
    """A quantizer staged for a rebalance that never committed must be
    DISCARDED — in the r14 protocol it is the ``_cents-v<txn>`` orphan
    (and the commit flips cents+data together, so the old torn-pair
    promotion hazard is structurally gone)."""
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(emb, store, "vec_id", "embedding", num_centroids=8)
    before_cents = vecstore.read_ivf_centroids(store)

    def _ivf_topk():
        return sorted(
            map(
                tuple,
                vecstore.ivf_topk_from_store(
                    spark, store, q, "vec_id", "embedding", k=5, nprobe=8
                ).collect(),
            )
        )

    before = _ivf_topk()
    # a rebalance crashed ON its commit: staged data AND quantizer exist
    _crash_on_manifest_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.rebalance_ivf_store(spark, store, "vec_id", num_centroids=4)
    monkeypatch.undo()
    live = vecstore._read_store_manifest(store)["cents"]

    def _cents_dirs():
        return sorted(d for d in os.listdir(store) if d.startswith("_cents-v"))

    assert len(_cents_dirs()) == 2 and live in _cents_dirs()
    assert vecstore.read_ivf_centroids(store) == before_cents  # reader: old

    assert vecstore.recover_store(store) == "rolled_back"
    assert _cents_dirs() == [live]
    assert vecstore.read_ivf_centroids(store) == before_cents
    assert _ivf_topk() == before


def test_recover_reshard_preserves_tombstones(spark, tmp_path, monkeypatch):
    """Roll-forward of a RE-SHARD must keep the tombstone set — the
    rewrite carries shadowed rows as-is, and its manifest commit leaves
    ``tombs`` pointing at the standing set (unlike compact/rebalance,
    which clear it in theirs)."""
    emb = _emb(spark, 40)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(
        emb, store, "vec_id", "embedding", dim=8, shards=2
    )
    vecstore.delete_from_vector_store(spark, store, [3, 17], "vec_id")
    tombs = vecstore._read_store_manifest(store)["tombs"]
    feed = spark.createDataFrame(
        [(100 + i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    _crash_on_sweep(monkeypatch)  # reshard committed, sweep pending
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.append_vector_store(
            feed, store, "vec_id", "embedding", dim=8, rows_per_shard=10
        )
    monkeypatch.undo()

    assert vecstore.recover_store(store) == "rolled_forward"
    man = vecstore._read_store_manifest(store)
    assert man["tombs"] == tombs  # NOT dropped
    assert os.path.isdir(vecstore._tombs_dir(store))
    live = vecstore.load_vector_store(spark, store, "vec_id")
    assert live.count() == 43  # 40 - 2 deleted + 5 appended
    assert live.where(F.col("vec_id").isin([3, 17])).count() == 0
    assert live.where(F.col("vec_id") >= 100).count() == 5
    assert vecstore.store_shard_count(store) == 5


def test_recover_rebalance_rollback_keeps_old_quantizer(
    spark, tmp_path, monkeypatch, sf_small
):
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(
        emb, store, "vec_id", "embedding", num_centroids=8
    )
    before_cents = vecstore.read_ivf_centroids(store)
    before = sorted(
        map(
            tuple,
            vecstore.ivf_topk_from_store(
                spark, store, q, "vec_id", "embedding", k=5, nprobe=8
            ).collect(),
        )
    )
    _crash_on_manifest_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.rebalance_ivf_store(spark, store, "vec_id", num_centroids=8)
    monkeypatch.undo()

    assert vecstore.recover_store(store) == "rolled_back"
    assert vecstore.read_ivf_centroids(store) == before_cents
    after = sorted(
        map(
            tuple,
            vecstore.ivf_topk_from_store(
                spark, store, q, "vec_id", "embedding", k=5, nprobe=8
            ).collect(),
        )
    )
    assert after == before


def test_recover_rebalance_forward_has_new_quantizer_and_cells(
    spark, tmp_path, monkeypatch, sf_small
):
    """Crash after the rebalance COMMIT: the new cell layout and the new
    quantizer are both already live (they flipped in the same rename —
    the pre-r14 'new cells with old centroids' window cannot exist);
    recovery sweeps and the store bit-equals a crash-free rebalance of
    an identical replica."""
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    q = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    ref = str(tmp_path / "ivf_ref")
    for p in (store, ref):
        vecstore.write_ivf_store(
            emb, p, "vec_id", "embedding", num_centroids=8
        )
    _crash_on_sweep(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.rebalance_ivf_store(spark, store, "vec_id", num_centroids=4)
    monkeypatch.undo()
    # pre-recovery, the reader already pairs new cells with new cents
    assert len(vecstore.read_ivf_centroids(store)) == 4

    assert vecstore.recover_store(store) == "rolled_forward"
    vecstore.rebalance_ivf_store(spark, ref, "vec_id", num_centroids=4)
    assert vecstore.read_ivf_centroids(store) == vecstore.read_ivf_centroids(
        ref
    )
    got = sorted(
        map(
            tuple,
            vecstore.ivf_topk_from_store(
                spark, store, q, "vec_id", "embedding", k=5, nprobe=2
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            vecstore.ivf_topk_from_store(
                spark, ref, q, "vec_id", "embedding", k=5, nprobe=2
            ).collect(),
        )
    )
    assert got == want


def test_crashed_delete_orphan_never_rides_next_commit(
    spark, tmp_path, monkeypatch
):
    """A delete that crashed between its tombstone write and its commit
    must stay 'never happened': the NEXT delete derives the same txn
    and must CLEAR the orphan dir, not commit the crashed delete's
    tombstones alongside its own."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    vecstore.compact_vector_store(spark, store, "vec_id")  # tombs -> None
    q = emb.where(F.col("vec_id") < 3)
    _crash_on_manifest_commit(monkeypatch)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.delete_from_vector_store(spark, store, [7, 9], "vec_id")
    monkeypatch.undo()
    # the crashed delete is invisible
    assert vecstore.load_vector_store(spark, store, "vec_id").count() == 38
    # a DIFFERENT delete commits without resurrecting ids 7/9's tombstones
    vecstore.delete_from_vector_store(spark, store, [11], "vec_id")
    live = vecstore.load_vector_store(spark, store, "vec_id")
    assert live.count() == 37
    assert live.where(F.col("vec_id").isin([7, 9])).count() == 2  # NOT deleted
    assert live.where(F.col("vec_id") == 11).count() == 0
