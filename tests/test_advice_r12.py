"""Round-12 ADVICE regressions (r11 judge/advisor findings):

- high: delete issued AFTER an append on an IVF (cell-partitioned) store
  must shadow the appended rows — the tombstone epoch must come from the
  store's ACTUAL partition layout, not an assumed ``shard=*`` glob.
- medium: the re-shard rewrite must carry each row's seq, or upserted
  rows silently reset to epoch 0 and stay shadowed forever (row loss).
- low: store rewrites must be crash-safe (r14: the original aside-marker
  protocol is superseded by the snapshot manifest — an interrupted
  rewrite leaves only invisible staging and never blocks a retry).
- low: rollup.negate_state must not silently drop a grouping key whose
  name collides with a state prefix (e.g. ``n_region``).
"""

from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import rollup, vecstore  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402
from tests.conftest import fresh_store_from_quantizer  # noqa: E402


def _emb(spark, n=40, d=8):
    rows = [(i, [float((i * 7 + j) % 13) for j in range(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_delete_after_append_shadows_appended_rows(spark, sf_small, tmp_path):
    """The r11 high finding: on an IVF store _max_seq was globbed with
    part='shard' (matches nothing on a cell-partitioned layout), so a
    tombstone recorded epoch 0 and never shadowed rows appended at
    seq >= 1 — deleting an appended vector was a silent no-op."""
    emb = load_table(spark, sf_small, "embeddings")
    old = emb.where(F.col("vec_id") % 9 != 0)
    new = emb.where(F.col("vec_id") % 9 == 0)
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(old, store, "vec_id", "embedding", num_centroids=16)
    vecstore.append_ivf_store(new, store, "vec_id", "embedding")
    # delete APPENDED ids (seq 1) after the append — the tombstone must
    # record epoch >= 1 to shadow them
    dead = [r.vec_id for r in new.select("vec_id").limit(3).collect()]
    vecstore.delete_from_vector_store(spark, store, dead, "vec_id")
    live = vecstore.load_vector_store(spark, store, "vec_id")
    assert live.where(F.col("vec_id").isin(dead)).count() == 0
    got = vecstore.ivf_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=5, nprobe=16)
    assert not {r.neighbor_id for r in got.collect()} & set(dead)
    # and scoring equals a rebuild (same persisted centroids) from the
    # surviving corpus, ingested through the cell-aligned append path
    surv = old.unionByName(new.where(~F.col("vec_id").isin(dead)))
    ref = str(tmp_path / "ivf_ref")
    fresh_store_from_quantizer(store, ref)
    vecstore.append_ivf_store(surv, ref, "vec_id", "embedding")
    want = vecstore.ivf_topk_from_store(
        spark, ref, queries, "vec_id", "embedding", k=5, nprobe=16)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_reshard_merges_mixed_seq_schema_without_row_loss(spark, tmp_path):
    """The r11 medium finding: an upserted row must survive a re-shard.
    If the rewrite reset every row to epoch 0, the standing tombstone
    would permanently shadow the live upserted row."""
    emb = _emb(spark, 40)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(
        emb, store, "vec_id", "embedding", dim=8, shards=2)
    # upsert id 5: tombstone (epoch 0), then append the new row (epoch 1)
    vecstore.delete_from_vector_store(spark, store, [5], "vec_id")
    upd = spark.createDataFrame(
        [(5, [9.0] * 8)], "vec_id long, embedding array<double>")
    vecstore.append_vector_store(upd, store, "vec_id", "embedding", dim=8)
    assert vecstore.load_vector_store(spark, store, "vec_id").count() == 40
    # force a re-shard: the rewrite must carry id 5's epoch-1 row through
    feed = spark.createDataFrame(
        [(100 + i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<double>")
    shards = vecstore.append_vector_store(
        feed, store, "vec_id", "embedding", dim=8, rows_per_shard=10)
    assert shards == 5  # ceil(46/10)
    live = vecstore.load_vector_store(spark, store, "vec_id")
    assert live.count() == 45  # 39 original + upserted 5 + 5 new
    row5 = live.where(F.col("vec_id") == 5).collect()
    assert len(row5) == 1  # the upserted row SURVIVED the rewrite
    # and it carries the UPDATED codes (encode of [9.0]*8, not the original)
    import numpy as np
    want_codes = vecstore._int8_encode(
        upd, "vec_id", "embedding", 8, 8).collect()[0]["codes"]
    assert bytes(row5[0]["codes"]) == bytes(want_codes)


def test_interrupted_rewrite_never_blocks_retry(spark, tmp_path):
    """r14 update of the r12 'leftover marker blocks rewrites' guard:
    under the manifest protocol an interrupted rewrite leaves only
    orphaned staging that the retry OVERWRITES — no marker, no manual
    unblock step, and no stray staging after the retry commits."""
    emb = _emb(spark, 20)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=8, shards=2)
    staged = f"_data-v{vecstore._read_store_manifest(store)['txn'] + 1:05d}"
    os.makedirs(f"{store}/{staged}/shard=0")  # crashed staging
    assert vecstore.compact_vector_store(spark, store, "vec_id") == 20
    man = vecstore._read_store_manifest(store)
    assert man["data"] == staged
    # no orphans left behind by the committed rewrite's sweep
    assert [d for d in os.listdir(store) if d.startswith("_data-v")] == [
        staged]


def test_negate_state_raises_on_prefix_colliding_key(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "n_region string, value double")
    st = rollup.agg_state(df, ["n_region"], {"value": (6, 4)})
    with pytest.raises(ValueError, match="grouping key"):
        rollup.negate_state(st, ["value"])
    neg = rollup.negate_state(st, ["value"], keys=["n_region"])
    assert set(neg.columns) == {
        "n_region", "n_value", "s1_value", "s2_value", "mn_value", "mx_value"}
    merged = rollup.merge_state(
        st.unionByName(neg), ["n_region"], ["value"])
    assert all(r["n_value"] == 0 for r in merged.collect())


def test_negate_state_inference_unchanged_for_clean_keys(spark):
    df = spark.createDataFrame(
        [("a", 1.0, "x"), ("b", 2.0, "y")], "k string, value double, u string")
    st = rollup.agg_state(df, ["k"], {"value": (6, 4)}, distinct_cols=["u"])
    neg = rollup.negate_state(st, ["value"])  # hll_u dropped, k kept
    assert set(neg.columns) == {
        "k", "n_value", "s1_value", "s2_value", "mn_value", "mx_value"}
