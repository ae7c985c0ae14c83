"""One on-disk layout for every vector store: a store is one directory
whose ``_MANIFEST.json`` names its live data, tombstone and quantizer
versions, from the first write on. Nothing is written beside it, so a
plain directory copy is a complete store, a write over an existing
store replaces its tombstones too, and a path without a committed
manifest holds no store."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import similarity, vecstore  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402


def _emb(spark, n=20, d=8):
    rows = [(i, [float((i * 7 + j) % 13) for j in range(d)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _int8_lifecycle(spark, emb, store, written):
    vecstore.write_vector_store(
        emb.where(F.col("vec_id") % 9 != 0), store, "vec_id", "embedding",
        dim=64, shards=2)
    written(store)
    vecstore.append_vector_store(
        emb.where(F.col("vec_id") % 9 == 0), store, "vec_id", "embedding",
        dim=64)
    vecstore.delete_from_vector_store(spark, store, [9, 11], "vec_id")
    vecstore.compact_vector_store(spark, store, "vec_id")
    return lambda s, q: vecstore.quantized_topk_from_store(
        spark, s, q, "vec_id", "embedding", k=5)


def _pq_lifecycle(spark, emb, store, written):
    vecstore.write_pq_store(
        emb.where(F.col("vec_id") % 9 != 0), store, "vec_id", "embedding",
        m=8, ks=16, dim=64)
    written(f"{store}/codes")
    vecstore.append_pq_store(
        emb.where(F.col("vec_id") % 9 == 0), store, "vec_id", "embedding")
    vecstore.delete_from_vector_store(spark, f"{store}/codes", [9, 11])
    vecstore.compact_vector_store(spark, f"{store}/codes", "vec_id")
    return lambda s, q: vecstore.pq_topk_from_store(
        spark, s, emb, q, "vec_id", "embedding", k=5, pool=50)


def _ivf_lifecycle(spark, emb, store, written):
    vecstore.write_ivf_store(
        emb.where(F.col("vec_id") % 9 != 0), store, "vec_id", "embedding",
        num_centroids=8)
    written(store)
    vecstore.append_ivf_store(
        emb.where(F.col("vec_id") % 9 == 0), store, "vec_id", "embedding")
    vecstore.delete_from_vector_store(spark, store, [9, 11], "vec_id")
    vecstore.compact_vector_store(spark, store, "vec_id")
    vecstore.rebalance_ivf_store(spark, store, "vec_id")
    return lambda s, q: vecstore.ivf_topk_from_store(
        spark, s, q, "vec_id", "embedding", k=5, nprobe=3)


def _opq_lifecycle(spark, emb, store, written):
    vecstore.write_ivfpq_store(
        emb.where(F.col("vec_id") % 9 != 0), store, "vec_id", "embedding",
        m=8, ks=16, dim=64, num_centroids=8,
        rotation=similarity.seeded_rotation(64, seed=7))
    written(f"{store}/codes")
    vecstore.append_ivfpq_store(
        emb.where(F.col("vec_id") % 9 == 0), store, "vec_id", "embedding")
    vecstore.delete_from_vector_store(spark, f"{store}/codes", [9, 11])
    vecstore.compact_vector_store(spark, f"{store}/codes", "vec_id")
    return lambda s, q: vecstore.ivfpq_topk_from_store(
        spark, s, emb, q, "vec_id", "embedding", k=5, pool=50, nprobe=3)


@pytest.mark.parametrize(
    "lifecycle",
    [_int8_lifecycle, _pq_lifecycle, _ivf_lifecycle, _opq_lifecycle],
    ids=["int8", "pq", "ivf", "ivfpq_rotated"],
)
def test_lifecycle_leaves_one_self_contained_directory(
    spark, sf_small, tmp_path, lifecycle
):
    """The first write commits the store's manifest. After write,
    append, delete and compact (and rebalance, for IVF) the parent
    directory holds only the store, and a copy of that one directory
    scores exactly like the original."""
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    parent = tmp_path / "stores"
    parent.mkdir()
    store = str(parent / "store")

    def written(table):
        assert vecstore._read_store_manifest(table) is not None
        assert os.listdir(parent) == ["store"]

    topk = lifecycle(spark, emb, store, written)
    assert os.listdir(parent) == ["store"]
    copy = str(tmp_path / "copy")
    shutil.copytree(store, copy)
    got = _rows(topk(copy, queries))
    assert len(got) == 4 * 5
    assert not {r[1] for r in got} & {9, 11}
    assert got == _rows(topk(store, queries))


def test_write_over_a_store_drops_its_tombstones(spark, tmp_path):
    """Rewriting the same rows at the same path yields every row: the
    old store's tombstones go with it in the write's commit."""
    emb = _emb(spark, 20)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=8, shards=2)
    vecstore.delete_from_vector_store(spark, store, [5, 6], "vec_id")
    assert vecstore.load_vector_store(spark, store, "vec_id").count() == 18
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=8, shards=2)
    assert vecstore.load_vector_store(spark, store, "vec_id").count() == 20
    assert vecstore._tombs_dir(store) is None


def test_first_write_crashed_before_commit_rolls_back(
    spark, tmp_path, monkeypatch
):
    """A first write that crashes on its manifest commit leaves only
    staging: recovery discards it, and reading the path reports that
    no store was committed."""
    real = os.rename

    def boom(src, dst, *a, **k):
        if str(dst).endswith("_MANIFEST.json"):
            raise RuntimeError("injected crash: manifest commit")
        return real(src, dst, *a, **k)

    store = str(tmp_path / "vs")
    monkeypatch.setattr(os, "rename", boom)
    with pytest.raises(RuntimeError, match="injected"):
        vecstore.write_vector_store(
            _emb(spark, 20), store, "vec_id", "embedding", dim=8, shards=2)
    monkeypatch.undo()
    assert any(d.startswith("_data-v") for d in os.listdir(store))
    assert vecstore.recover_store(store) == "rolled_back"
    assert not any(d.startswith("_data-v") for d in os.listdir(store))
    with pytest.raises(FileNotFoundError, match="no committed store"):
        vecstore.load_vector_store(spark, store, "vec_id")


def test_resident_store_frame_belongs_to_the_calling_session(spark, sf_small):
    """The entry's cached store DataFrame is served again to its own
    session, and a different session gets a DataFrame of its own."""
    import __spark_entry__ as em

    path = em._ensure_quant_store(spark, sf_small)
    held = em._store_df(spark, path)
    assert em._store_df(spark, path) is held
    other = spark.newSession()
    assert em._store_df(other, path).sparkSession is other


def test_fixture_store_in_an_older_layout_is_rebuilt(spark, sf_small):
    """A fixture store an older build left at the same tempdir path
    (root data, sibling sidecars, an mtime marker matching the source)
    is rebuilt as a manifest store, never handed to the readers."""
    import __spark_entry__ as em

    path = em._ensure_quant_store(spark, sf_small)
    shutil.rmtree(path)
    os.makedirs(os.path.join(path, "shard=0"))
    src = os.path.join(sf_small, "embeddings.parquet")
    with open(os.path.join(path, "_SRC_MTIME"), "w") as fh:
        fh.write(f"{os.path.getmtime(src)!r} shards=1")
    assert em._ensure_quant_store(spark, sf_small) == path
    assert not os.path.isdir(os.path.join(path, "shard=0"))
    assert vecstore.load_vector_store(spark, path, "vec_id").count() == 500
