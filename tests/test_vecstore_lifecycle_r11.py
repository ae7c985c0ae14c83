"""Round-11 vector-store lifecycle (operators/vecstore.py): shard-aligned
append, tombstone deletes, delete-then-append upsert, measured re-shard —
each pinned BIT-identical to a store rebuilt from the surviving corpus
(per-row quantization makes append/rebuild codes equal by construction;
the lifecycle must preserve that through membership changes)."""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import vecstore  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402
from tests.conftest import fresh_store_from_quantizer  # noqa: E402

_K = 5


def _topk(spark, store, queries):
    return sorted(map(tuple, vecstore.quantized_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=_K).collect()))


def _rebuild_topk(spark, corpus, queries, tmp_path, name):
    p = str(tmp_path / name)
    vecstore.write_vector_store(corpus, p, "vec_id", "embedding", dim=64)
    return _topk(spark, p, queries)


def test_append_bit_matches_rebuild_on_union(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    queries = emb.where(F.col("vec_id") < 10)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(old, store, "vec_id", "embedding", dim=64)
    shards0 = vecstore.store_shard_count(store)
    shards = vecstore.append_vector_store(new, store, "vec_id", "embedding", dim=64)
    assert shards == shards0  # small append: no re-shard
    assert _topk(spark, store, queries) == _rebuild_topk(
        spark, emb, queries, tmp_path, "vs_rebuilt")


def test_delete_excludes_before_topk_so_k_never_starves(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=64)
    # tombstone ids that currently RANK: every query's top-2 neighbors
    before = vecstore.quantized_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=_K)
    dead = sorted({r.neighbor_id for r in before.collect() if r.rank <= 2})
    assert dead
    vecstore.delete_from_vector_store(spark, store, dead, "vec_id")
    got = _topk(spark, store, queries)
    # k never starved: still k rows per query, no tombstoned neighbor
    assert len(got) == 4 * _K
    assert not {g[1] for g in got} & set(dead)
    surviving = emb.join(
        F.broadcast(spark.createDataFrame([(i,) for i in dead], "vec_id long")),
        on="vec_id", how="left_anti")
    assert got == _rebuild_topk(spark, surviving, queries, tmp_path, "vs_rebuilt")


def test_delete_then_append_is_upsert_and_revives(spark, tmp_path):
    rows = [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=8, shards=2)
    queries = emb.where(F.col("vec_id") < 3)
    # upsert id 20 with a NEW vector: delete, then append the new row
    new_vec = [9.0] * 8
    vecstore.delete_from_vector_store(spark, store, [20], "vec_id")
    upd = spark.createDataFrame([(20, new_vec)], "vec_id long, embedding array<double>")
    vecstore.append_vector_store(upd, store, "vec_id", "embedding", dim=8)
    # tombstone cleared: id 20 is live again, with the UPDATED codes
    live = vecstore.load_vector_store(spark, store, "vec_id")
    assert live.where(F.col("vec_id") == 20).count() == 1
    rebuilt = emb.where(F.col("vec_id") != 20).unionByName(upd)
    got = _topk(spark, store, queries)
    assert got == sorted(map(tuple, vecstore.quantized_topk_from_store(
        spark, _write_tmp(spark, rebuilt, tmp_path, "vs_rebuilt"),
        queries, "vec_id", "embedding", k=_K).collect()))


def _write_tmp(spark, corpus, tmp_path, name):
    p = str(tmp_path / name)
    vecstore.write_vector_store(corpus, p, "vec_id", "embedding", dim=8, shards=2)
    return p


def test_append_crossing_bound_reshards_from_codes(spark, tmp_path):
    rows = [(i, [float((i * 3 + j) % 11) for j in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(
        emb.where(F.col("vec_id") < 40), store, "vec_id", "embedding",
        dim=8, shards=2)
    # a delete BEFORE the re-shard must survive the rewrite
    vecstore.delete_from_vector_store(spark, store, [7], "vec_id")
    shards = vecstore.append_vector_store(
        emb.where(F.col("vec_id") >= 40), store, "vec_id", "embedding",
        dim=8, rows_per_shard=25)   # 60 rows / 25 -> 3 shards
    assert shards == 3
    # the re-shard published a new manifest-resolved data version (r14)
    assert len(glob.glob(os.path.join(vecstore._data_dir(store), "shard=*"))) == 3
    assert vecstore._store_rows(store) == 60
    queries = emb.where(F.col("vec_id") < 3)
    got = _topk(spark, store, queries)
    surviving = emb.where(F.col("vec_id") != 7)
    ref = _write_tmp(spark, surviving, tmp_path, "vs_rebuilt")
    assert got == _topk(spark, ref, queries)


def test_pq_store_tombstones_filter_before_pool(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "pqs")
    vecstore.write_pq_store(emb, store, "vec_id", "embedding", m=8, ks=16, dim=64)
    before = vecstore.pq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding", k=_K, pool=50)
    dead = sorted({r.neighbor_id for r in before.collect() if r.rank <= 2})
    vecstore.delete_from_vector_store(
        spark, f"{store}/codes", dead, "vec_id")
    got = vecstore.pq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding", k=_K, pool=50
    ).collect()
    assert len(got) == 4 * _K
    assert not {r.neighbor_id for r in got} & set(dead)


def test_compact_reclaims_tombstones_without_changing_results(spark, tmp_path):
    rows = [(i, [float((i * 5 + j) % 17) for j in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=8, shards=2)
    vecstore.delete_from_vector_store(spark, store, [3, 11, 19], "vec_id")
    upd = spark.createDataFrame(
        [(11, [7.0] * 8)], "vec_id long, embedding array<double>")
    vecstore.append_vector_store(upd, store, "vec_id", "embedding", dim=8)
    queries = emb.where(F.col("vec_id") < 3)
    before = _topk(spark, store, queries)
    tombs = vecstore._tombs_dir(store)
    n_live = vecstore.compact_vector_store(spark, store, "vec_id")
    # 50 - 3 deleted + 1 re-appended = 48 physical live rows
    assert n_live == 48
    assert vecstore._store_rows(store) == 48
    assert not os.path.isdir(tombs)
    assert _topk(spark, store, queries) == before


def test_pq_append_uses_persisted_books_and_upserts(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "pqs")
    vecstore.write_pq_store(old, store, "vec_id", "embedding", m=8, ks=16, dim=64)
    vecstore.append_pq_store(new, store, "vec_id", "embedding")
    got = sorted(map(tuple, vecstore.pq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding", k=_K, pool=50
    ).collect()))
    # a rebuild with the SAME books: re-encode the full corpus through
    # the shared encoder into a fresh store carrying the same _books
    import shutil
    ref = str(tmp_path / "pqs_ref")
    os.makedirs(ref)
    shutil.copytree(f"{store}/_books", f"{ref}/_books")
    books = vecstore.read_pq_books(spark, store)
    enc = vecstore._with_seq(
        vecstore._pq_encode_df(emb, books, "vec_id", "embedding", 64), 0
    ).withColumn("shard", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(8)))
    vecstore._write_store(f"{ref}/codes", enc, "shard")
    want = sorted(map(tuple, vecstore.pq_topk_from_store(
        spark, ref, emb, queries, "vec_id", "embedding", k=_K, pool=50
    ).collect()))
    assert got == want and len(got) == 4 * _K


def test_ivf_store_bit_parity_and_partition_pruning(spark, sf_small, tmp_path):
    """r11 IVF-partitioned store: scoring from the cell-partitioned
    layout bit-equals similarity.ivf_topk (same persisted centroids,
    same probe and cosine expressions), and the probe set reaches the
    scan as a LITERAL PartitionFilter — non-probed cell directories are
    never read."""
    from parallel_pandas_spark.operators import similarity

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(emb, store, "vec_id", "embedding", num_centroids=16)
    got = vecstore.ivf_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=5, nprobe=4)
    ref = similarity.ivf_topk(
        emb, queries, "vec_id", "embedding", k=5, num_centroids=16, nprobe=4)
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, ref.collect()))
    assert len(g) == 50
    txt = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in txt
    seg = txt.split("PartitionFilters")[1][:300]
    assert "cell" in seg and "IN" in seg.upper(), seg


def test_ivf_store_append_delete_upsert(spark, sf_small, tmp_path):
    """Cell-aligned append with the persisted quantizer + LSM tombstones:
    after delete-then-append, scoring equals a store REBUILT (with the
    same centroids) from the surviving corpus."""
    emb = load_table(spark, sf_small, "embeddings")
    old = emb.where(F.col("vec_id") % 9 != 0)
    new = emb.where(F.col("vec_id") % 9 == 0)
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(old, store, "vec_id", "embedding", num_centroids=16)
    # delete two standing ids, then append the feed (which does NOT
    # contain them) — and upsert one standing id via delete+append
    vecstore.delete_from_vector_store(spark, store, [2, 11], "vec_id")
    # keep the fixture's element type: a changed element type would (by
    # design) refuse to schema-merge with the standing files
    vec_t = dict(emb.dtypes)["embedding"]
    upd = emb.where(F.col("vec_id") == 2).withColumn(
        "embedding",
        F.transform("embedding", lambda x: x + F.lit(1.0)).cast(vec_t))
    vecstore.append_ivf_store(new.unionByName(upd), store, "vec_id", "embedding")
    got = sorted(map(tuple, vecstore.ivf_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=5, nprobe=4).collect()))
    # rebuild from the surviving corpus, REUSING the persisted centroids
    # (the quantizer is fixed at fit time): start a store from the
    # committed quantizer, ingest everything via the cell-aligned append
    surv = old.where(~F.col("vec_id").isin(2, 11)).unionByName(new).unionByName(upd)
    ref = str(tmp_path / "ivf_ref")
    fresh_store_from_quantizer(store, ref)
    vecstore.append_ivf_store(surv, ref, "vec_id", "embedding")
    want = sorted(map(tuple, vecstore.ivf_topk_from_store(
        spark, ref, queries, "vec_id", "embedding", k=5, nprobe=4).collect()))
    assert got == want and len(got) == 4 * 5
