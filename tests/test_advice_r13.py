"""Round-13 ADVICE regressions (items 1 and 3 of ADVICE.md r12; item 2
covered a one-shot study tool that has since been deleted):

1. vecstore: `_MANIFEST.json` is written write-then-rename, so a crash
   mid-write can never leave a truncated manifest (r14: the manifest is
   now the store's snapshot-isolation commit point; the torn-write
   surface is the temp name only, discarded as pre-commit staging).
3. streaming corpus read-out: the membership semi-join is null-SAFE —
   a NULL-keyed group survives the read-out exactly as a from-scratch
   groupBy rebuild keeps it.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import incremental, rollup, vecstore  # noqa: E402
from parallel_pandas_spark.streaming import corpus as sc  # noqa: E402
from tests.test_recover_store_r12 import (  # noqa: E402
    _store_with_tombstones,
    _topk,
)


# ---------------------------------------------------------------- item 1


def test_recover_classifies_torn_manifest_tmp(spark, tmp_path, monkeypatch):
    """r14 port of the r13 truncated-manifest regression: the only
    torn-write surface left is `_MANIFEST.json.tmp` (the final name is
    only ever created by an atomic rename). A crash mid json.dump
    leaves partial bytes under the temp name; readers resolve the old
    snapshot, recover_store discards the torn temp (rolled_back), and
    the retried rewrite completes."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    q = emb.where(F.col("vec_id") < 3)
    before = _topk(spark, store, q)
    man_before = vecstore._read_store_manifest(store)
    real_dump = json.dump

    def boom(obj, fh, *a, **k):
        if str(getattr(fh, "name", "")).endswith("_MANIFEST.json.tmp"):
            fh.write('{"txn": ')
            raise RuntimeError("injected crash: manifest write")
        return real_dump(obj, fh, *a, **k)

    monkeypatch.setattr(json, "dump", boom)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.compact_vector_store(spark, store, "vec_id")
    monkeypatch.undo()
    assert vecstore._read_store_manifest(store) == man_before
    assert _topk(spark, store, q) == before
    assert vecstore.recover_store(store) == "rolled_back"
    assert not os.path.isfile(vecstore._store_manifest_path(store) + ".tmp")
    assert vecstore.compact_vector_store(spark, store, "vec_id") == 38
    assert _topk(spark, store, q) == before


def test_unreadable_committed_manifest_refused_loudly(spark, tmp_path):
    """A torn file under the FINAL manifest name cannot come from this
    protocol (commits are write-then-rename from birth) — readers must
    refuse to guess rather than silently fall back to a stale layout."""
    store, emb = _store_with_tombstones(spark, tmp_path)
    os.remove(vecstore._store_manifest_path(store) + ".bak")  # none to restore
    with open(vecstore._store_manifest_path(store), "w") as fh:
        fh.write('{"txn": ')
    with pytest.raises(ValueError, match="unreadable store manifest"):
        vecstore.load_vector_store(spark, store, "vec_id")
    with pytest.raises(ValueError, match="unreadable store manifest"):
        vecstore.recover_store(store)


# ---------------------------------------------------------------- item 3


def test_readout_keeps_null_keyed_group(spark, tmp_path):
    """A corpus holding docs whose grouping key is NULL: a from-scratch
    groupBy rebuild keeps the NULL group, so the incremental read-out's
    membership join must too (eqNullSafe semi-join)."""
    spec = {"n_chars": (0, 0)}
    rows = [(1, "en", 100, "a"), (2, None, 7, "b"), (3, None, 9, "c"),
            (4, "fr", 11, "d")]
    base_di = spark.createDataFrame(
        rows, "doc_id long, lang string, n_chars long, fp string")
    base_co = incremental.keepers(base_di)
    di_p, co_p = str(tmp_path / "di"), str(tmp_path / "co")
    base_di.write.parquet(di_p)
    base_co.write.parquet(co_p)
    base_state = rollup.agg_state(spark.read.parquet(co_p), ["lang"], spec)
    feed_dir = str(tmp_path / "changes")
    # one change batch touching only 'en' — NULL group rides along
    spark.createDataFrame(
        [(5, "en", 50, "e", 10, "U")], sc.DOC_CHANGES_SCHEMA
    ).coalesce(1).write.parquet(feed_dir)
    work, ckpt = str(tmp_path / "work"), str(tmp_path / "ckpt")
    sc.run_corpus_refresh_stream(
        spark, lambda: sc.stream_doc_changes(spark, feed_dir, max_files=1),
        di_p, co_p, work, ckpt, spec)
    _, co, fin = sc.corpus_stream_readout(spark, base_state, work, spec)
    got = {r["lang"]: tuple(r)[1:] for r in fin.collect()}
    want = {
        r["lang"]: tuple(r)[1:]
        for r in rollup.finalize(
            rollup.agg_state(
                incremental.keepers(
                    base_di.unionByName(
                        spark.createDataFrame(
                            [(5, "en", 50, "e")],
                            "doc_id long, lang string, n_chars long, fp string",
                        )
                    )
                ),
                ["lang"], spec,
            ),
            ["lang"], spec,
        ).collect()
    }
    assert None in got, "NULL-keyed group dropped from the read-out"
    assert got == want
