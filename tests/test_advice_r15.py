"""Round-15 ADVICE + verdict-#3 regressions for the store manifest
protocol (operators/vecstore.py, streaming/corpus.py):

- single-writer FENCING: a commit whose manifest moved underneath it
  raises ConcurrentStoreWriteError instead of last-write-winning
  (r14 verdict #3) — vecstore rewrites AND the corpus-loop manifest;
- reader-safe RETENTION: ``retain_versions=N`` keeps superseded
  snapshots on disk for in-flight lazy plans; ``vacuum_store`` ages
  them out (r14 ADVICE, medium);
- torn-final-manifest recovery from ``_MANIFEST.json.bak``
  (r14 ADVICE, low);
- delete-after-crashed-rewrite keeps recover_store's classification
  txn-accurate: the orphan is swept BEFORE the delete's txn bump
  aliases it into "superseded" (r14 ADVICE, low);
- tune_probes' exact baseline for IVF-FLAT stores comes from the
  store's own live rows, so a drifted ``corpus`` argument cannot skew
  the measured recall (r14 ADVICE, low).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import vecstore as vs  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402


def _mk_ivf(spark, sf_small, tmp_path, name="s"):
    emb = load_table(spark, sf_small, "embeddings")
    path = str(tmp_path / name)
    vs.write_ivf_store(emb, path, "vec_id", "embedding", num_centroids=8)
    return emb, path


def _live_ids(spark, path):
    return {
        r[0]
        for r in vs.load_vector_store(spark, path).select("vec_id").collect()
    }


def test_rewrite_fence_refuses_moved_manifest(spark, sf_small, tmp_path):
    """A manifest commit whose txn moved since the rewrite began raises
    ConcurrentStoreWriteError; the interloper's snapshot stays live."""
    _emb, path = _mk_ivf(spark, sf_small, tmp_path)
    vs.compact_vector_store(spark, path)  # migrate to a manifest (txn 1)
    before = _live_ids(spark, path)

    real_stage = vs.write_partitioned
    state = {}

    def hijack(df, d, part):
        real_stage(df, d, part)
        # simulate a second writer committing between stage and commit
        man = vs._read_store_manifest(path)
        state["txn"] = int(man["txn"])
        man["txn"] = state["txn"] + 1
        vs._commit_store_manifest(path, man)

    orig = vs.write_partitioned
    vs.write_partitioned = hijack
    try:
        with pytest.raises(vs.ConcurrentStoreWriteError):
            vs.compact_vector_store(spark, path)
    finally:
        vs.write_partitioned = orig
    # the interloper's commit is the live one; the loser published nothing
    man = vs._read_store_manifest(path)
    assert int(man["txn"]) == state["txn"] + 1
    assert vs.recover_store(path) in ("rolled_back", "rolled_forward")
    assert _live_ids(spark, path) == before


def test_corpus_manifest_fence(tmp_path):
    from parallel_pandas_spark.streaming import corpus as cp

    wd = str(tmp_path / "wd")
    os.makedirs(wd)
    man = {"txn": 1, "docindex": [], "corpus": [], "deltas": [],
           "state": None}
    cp._commit_manifest(wd, man, expect_txn=0)  # fresh dir reads as txn 0
    man2 = dict(man, txn=2)
    with pytest.raises(vs.ConcurrentStoreWriteError):
        cp._commit_manifest(wd, man2, expect_txn=0)  # stale anchor
    cp._commit_manifest(wd, man2, expect_txn=1)  # fresh anchor commits


def test_retained_version_survives_rewrite_then_vacuums(
    spark, sf_small, tmp_path
):
    """retain_versions=1: an in-flight lazy reader resolved against the
    pre-rewrite manifest still collects AFTER the rewrite (its files
    were not swept); vacuum_store then reclaims the retained dirs."""
    _emb, path = _mk_ivf(spark, sf_small, tmp_path)
    vs.compact_vector_store(spark, path)  # versioned layout (v1)
    reader = vs.load_vector_store(spark, path)  # lazy plan against v1
    n_before = vs.compact_vector_store(spark, path, retain_versions=1)
    man = vs._read_store_manifest(path)
    assert len(man["retain"]) == 1
    retained = man["retain"][0]["data"]
    assert os.path.isdir(os.path.join(path, retained))
    # the in-flight plan executes AFTER the rewrite, against v1's files
    assert reader.count() == n_before
    assert vs.recover_store(path) == "clean"  # retained != garbage
    txn_before = int(vs._read_store_manifest(path)["txn"])
    assert vs.vacuum_store(path) is True
    assert not os.path.isdir(os.path.join(path, retained))
    man_after = vs._read_store_manifest(path)
    assert man_after["retain"] == []
    # the vacuum is a WRITER: its commit bumps txn so a rewrite racing
    # it trips the single-writer fence (self-review r15)
    assert int(man_after["txn"]) == txn_before + 1
    assert vs.load_vector_store(spark, path).count() == n_before


def test_torn_final_manifest_restores_from_bak(spark, sf_small, tmp_path):
    """A power loss tearing the final manifest RENAME itself (non-atomic-
    rename filesystem) dies before the post-commit sweep, so the previous
    snapshot's files are still on disk — recover_store restores the last
    committed manifest from the .bak and rolls the torn commit back."""
    _emb, path = _mk_ivf(spark, sf_small, tmp_path)
    n = vs.compact_vector_store(spark, path)
    good = dict(vs._read_store_manifest(path))
    # commit #2 whose rename tears: the .bak was written, the staged
    # version exists, the sweep never ran — simulated by no-op'ing the
    # sweep and then corrupting the final manifest in place
    real_sweep = vs._sweep_store
    vs._sweep_store = lambda p: (False, False)
    try:
        vs.compact_vector_store(spark, path)
    finally:
        vs._sweep_store = real_sweep
    mp = vs._store_manifest_path(path)
    assert os.path.isfile(mp + ".bak")
    with open(mp, "w") as fh:
        fh.write('{"txn": 2, "data"')  # torn mid-rename
    with pytest.raises(ValueError, match="recover_store"):
        vs.load_vector_store(spark, path).count()
    assert vs.recover_store(path) == "rolled_back"
    restored = vs._read_store_manifest(path)
    assert restored["txn"] == good["txn"]
    assert restored["data"] == good["data"]
    # store reads again, at the last good snapshot, all rows live
    assert vs.load_vector_store(spark, path).count() == n


def test_recover_refuses_torn_manifest_without_bak(spark, sf_small, tmp_path):
    _emb, path = _mk_ivf(spark, sf_small, tmp_path)  # one commit: no .bak
    mp = vs._store_manifest_path(path)
    assert not os.path.isfile(mp + ".bak")
    with open(mp, "w") as fh:
        fh.write("{garbage")
    with pytest.raises(ValueError, match="recover_store"):
        vs.recover_store(path)


def test_delete_after_crashed_rewrite_stays_txn_accurate(
    spark, sf_small, tmp_path
):
    """r14 ADVICE: a _data-v{txn+1} orphan from a pre-commit crash must
    not be reclassified as 'superseded' by a later delete's txn bump —
    the delete sweeps first, so recover_store never misreports
    rolled_forward for a rewrite that rolled back."""
    _emb, path = _mk_ivf(spark, sf_small, tmp_path)
    vs.compact_vector_store(spark, path)  # manifest store, tombs cleared
    man = vs._read_store_manifest(path)
    orphan = os.path.join(path, f"_data-v{int(man['txn']) + 1:05d}")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-junk.parquet"), "w") as fh:
        fh.write("x")
    live = sorted(_live_ids(spark, path))[:3]
    vs.delete_from_vector_store(spark, path, live, "vec_id")
    assert not os.path.isdir(orphan)  # swept pre-commit, while still staged
    assert vs.recover_store(path) == "clean"
    assert _live_ids(spark, path).isdisjoint(live)


def test_tune_probes_flat_baseline_is_store_live_rows(
    spark, sf_small, tmp_path
):
    """IVF-flat: the exact baseline comes from load_vector_store, so a
    drifted corpus argument changes nothing (r14 ADVICE, low)."""
    emb, path = _mk_ivf(spark, sf_small, tmp_path)
    queries = emb.where(F.col("vec_id") < 5)
    drifted = emb.where(F.col("vec_id") % 7 != 3)  # NOT the store rows
    got_drift = vs.tune_probes(
        spark, path, drifted, queries, k=5, target_recall=0.9)
    got_true = vs.tune_probes(
        spark, path, emb, queries, k=5, target_recall=0.9)
    assert got_drift == got_true


def test_tune_probes_sample_queries_bounds_the_set(spark, sf_small, tmp_path):
    emb, path = _mk_ivf(spark, sf_small, tmp_path)
    queries = emb.where(F.col("vec_id") < 40)
    capped = vs.tune_probes(
        spark, path, emb, queries, k=5, target_recall=0.9, sample_queries=5)
    direct = vs.tune_probes(
        spark, path, emb, emb.where(F.col("vec_id") < 5), k=5,
        target_recall=0.9)
    assert capped == direct
