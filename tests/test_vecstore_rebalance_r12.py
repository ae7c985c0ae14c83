"""Round-12: IVF store re-train/rebalance on append drift (r11 VERDICT
#5). Appends assign to FROZEN centroids, so a drifted feed piles into a
few cells and probe pruning degrades; the rebalance re-draws the
quantizer from the CURRENT live population, re-partitions, keeps deletes
effective, and post-rebalance scoring bit-matches a store rebuilt from
the surviving corpus. The measured trigger mirrors the hash store's
re-shard: parquet-footer cell counts, max/median ratio bound."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import vecstore  # noqa: E402

_D = 8


def _base(spark, n=200):
    rows = [(i, [float((i * 13 + j) % 23) for j in range(_D)])
            for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _drifted_feed(spark, n=300):
    """A shifted-but-varied region: far from the base distribution (one
    frozen cell swallows it) yet internally spread (a re-drawn quantizer
    can split it)."""
    rows = [
        (1000 + i,
         [50.0 + float(((i * 7 + j) % 13)) * 0.3 for j in range(_D)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk(spark, store, queries, nprobe=4):
    return sorted(map(tuple, vecstore.ivf_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=5, nprobe=nprobe
    ).collect()))


def test_drift_rebalance_restores_balance_and_bit_matches_rebuild(
    spark, tmp_path
):
    emb = _base(spark)
    feed = _drifted_feed(spark)
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(emb, store, "vec_id", "embedding",
                             num_centroids=8)
    # deletes BEFORE the drift: they must stay deleted through rebalance
    vecstore.delete_from_vector_store(spark, store, [5, 17], "vec_id")
    assert not vecstore.append_ivf_store(
        feed, store, "vec_id", "embedding")  # no guard: no rebalance
    r_skew = vecstore.ivf_skew_ratio(vecstore.ivf_cell_rows(store))
    assert r_skew > 3.0  # the drifted feed really did pile up
    tombs = vecstore._tombs_dir(store)
    r_new = vecstore.rebalance_ivf_store(spark, store, "vec_id")
    assert r_new < r_skew  # re-drawn quantizer split the whale region
    assert not os.path.isdir(tombs)  # resolved + dropped
    man = vecstore._read_store_manifest(store)
    assert [d for d in os.listdir(store) if d.startswith("_cents-v")] == [
        man["cents"]]
    # deletes survived the rebalance
    live = vecstore.load_vector_store(spark, store, "vec_id")
    assert live.where(F.col("vec_id").isin(5, 17)).count() == 0
    assert live.count() == 200 - 2 + 300
    # bit-parity with a rebuild from the surviving corpus at the same K
    ref = str(tmp_path / "ivf_ref")
    surv = emb.where(~F.col("vec_id").isin(5, 17)).unionByName(feed)
    vecstore.write_ivf_store(surv, ref, "vec_id", "embedding",
                             num_centroids=8)
    got = vecstore.ivf_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=5, nprobe=4)
    g = sorted(map(tuple, got.collect()))
    assert g == _topk(spark, ref, queries) and len(g) == 4 * 5
    # the pruning fence still holds on the rebalanced layout
    txt = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in txt
    seg = txt.split("PartitionFilters")[1][:300]
    assert "cell" in seg and "IN" in seg.upper(), seg


def test_append_trigger_rebalances_at_measured_bound(spark, tmp_path):
    emb = _base(spark)
    feed = _drifted_feed(spark)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(emb, store, "vec_id", "embedding",
                             num_centroids=8)
    assert vecstore.append_ivf_store(
        feed, store, "vec_id", "embedding", rebalance_ratio=4.5)
    # auto-rebalanced: same end state as the manual path
    ref = str(tmp_path / "ivf_ref")
    vecstore.write_ivf_store(
        emb.unionByName(feed), ref, "vec_id", "embedding", num_centroids=8)
    queries = emb.where(F.col("vec_id") < 4)
    assert _topk(spark, store, queries) == _topk(spark, ref, queries)
    # the rebalanced store sits under the bound, so a small even feed
    # does NOT re-trigger (the guard is measured, not periodic)
    assert vecstore.ivf_skew_ratio(vecstore.ivf_cell_rows(store)) <= 4.0
    even = spark.createDataFrame(
        [(2000 + i, [float((i * 11 + j) % 23) for j in range(_D)])
         for i in range(50)],
        "vec_id long, embedding array<double>")
    assert not vecstore.append_ivf_store(
        even, store, "vec_id", "embedding", rebalance_ratio=4.5)
