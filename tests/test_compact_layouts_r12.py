"""Round-12: compact_vector_store generalized to every store layout —
tombstone reclamation must not be exclusive to the hash-sharded int8
store. Cell-partitioned layouts (IVF, and the IVF-PQ store's codes
table) keep each row's stored cell through the rewrite (centroids are
not retrained — that is rebalance's job), so partition pruning and
scoring are bit-identical before vs after, with the tombstone set gone
and the seqs reset to epoch 0."""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import vecstore  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402


def test_compact_ivf_store_reclaims_tombstones_bit_identically(
    spark, sf_small, tmp_path
):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivf")
    vecstore.write_ivf_store(emb, store, "vec_id", "embedding", num_centroids=8)
    dead = [r.vec_id for r in emb.select("vec_id").limit(6).collect()]
    vecstore.delete_from_vector_store(spark, store, dead, "vec_id")
    before = sorted(
        map(
            tuple,
            vecstore.ivf_topk_from_store(
                spark, store, queries, "vec_id", "embedding", k=5, nprobe=3
            ).collect(),
        )
    )
    cells_before = sorted(
        os.path.basename(d)
        for d in glob.glob(vecstore._data_dir(store) + "/cell=*")
    )
    tombs = vecstore._tombs_dir(store)
    n = vecstore.compact_vector_store(spark, store, "vec_id")
    assert n == emb.count() - len(dead)
    # tombstones physically gone, cell layout and centroids untouched
    # (the live data now resolves through the manifest's version dir)
    assert not os.path.isdir(tombs)
    assert vecstore._tombs_dir(store) is None
    assert (
        sorted(
            os.path.basename(d)
            for d in glob.glob(vecstore._data_dir(store) + "/cell=*")
        )
        == cells_before
    )
    assert vecstore._max_seq(store, part="cell") == 0  # epochs reset
    after = sorted(
        map(
            tuple,
            vecstore.ivf_topk_from_store(
                spark, store, queries, "vec_id", "embedding", k=5, nprobe=3
            ).collect(),
        )
    )
    assert after == before
    assert not {r[1] for r in after} & set(dead)


def test_compact_ivfpq_codes_reclaims_tombstones_bit_identically(
    spark, sf_small, tmp_path
):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivfpq")
    vecstore.write_ivfpq_store(
        emb, store, "vec_id", "embedding", m=8, ks=16, dim=64, num_centroids=16
    )
    dead = [r.vec_id for r in emb.select("vec_id").limit(5).collect()]
    vecstore.delete_from_vector_store(spark, f"{store}/codes", dead, "vec_id")
    before = sorted(
        map(
            tuple,
            vecstore.ivfpq_topk_from_store(
                spark, store, emb, queries, "vec_id", "embedding",
                k=5, pool=50, nprobe=4,
            ).collect(),
        )
    )
    tombs = vecstore._tombs_dir(f"{store}/codes")
    cents = vecstore._read_store_manifest(f"{store}/codes")["cents"]
    n = vecstore.compact_vector_store(spark, f"{store}/codes", "vec_id")
    assert n == emb.count() - len(dead)
    assert not os.path.isdir(tombs)
    # both quantizers survive in place
    assert os.path.isdir(f"{store}/_books")
    assert vecstore._read_store_manifest(f"{store}/codes")["cents"] == cents
    assert os.path.isdir(f"{store}/codes/{cents}")
    after = sorted(
        map(
            tuple,
            vecstore.ivfpq_topk_from_store(
                spark, store, emb, queries, "vec_id", "embedding",
                k=5, pool=50, nprobe=4,
            ).collect(),
        )
    )
    assert after == before
    assert not {r[1] for r in after} & set(dead)
