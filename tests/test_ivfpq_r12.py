"""Round-12: the unified IVF-PQ store (vecstore.write_ivfpq_store /
ivfpq_topk_from_store) — PQ codes hive-partitioned by IVF cell, with
both quantizers persisted in the store (the standard billion-vector
IVFADC layout).
Contract: scoring from the store bit-matches similarity.pq_topk with the
SAME (stored) codebooks restricted to each query's probed cells, probe
pruning reaches the scan as literal PartitionFilters, and the lifecycle
verbs (append with frozen quantizers, delete-after-append tombstones)
carry over from the other store layouts."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import similarity, vecstore  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402
from tests.conftest import fresh_store_from_quantizer  # noqa: E402

_K, _POOL, _NPROBE = 5, 50, 4


def _probe_sets(queries, cents, nprobe):
    """Per-query probe cells with the exact write-path expressions."""
    probe_structs = F.array(*[
        F.struct(similarity._cent_dist(F.col("embedding"), cvec).alias("d"),
                 F.lit(cid).alias("cid"))
        for cid, cvec in cents
    ])
    rows = queries.select(
        F.col("vec_id").alias("qid"),
        F.explode(F.slice(F.array_sort(probe_structs), 1, nprobe)).alias("p"),
    ).select("qid", F.col("p.cid").alias("cell")).collect()
    out: dict = {}
    for r in rows:
        out.setdefault(r["qid"], set()).add(r["cell"])
    return out


def test_ivfpq_store_bit_matches_pq_topk_on_probed_cells(
    spark, sf_small, tmp_path
):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivfpq")
    vecstore.write_ivfpq_store(
        emb, store, "vec_id", "embedding", m=8, ks=16, dim=64,
        num_centroids=16)
    got = vecstore.ivfpq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding",
        k=_K, pool=_POOL, nprobe=_NPROBE)
    g = sorted(map(tuple, got.collect()))
    assert len(g) == 4 * _K
    # reference: pq_topk with the STORED books on each query's probed
    # sub-corpus (cells assigned with the stored coarse quantizer)
    books = vecstore.read_pq_books(spark, store)
    cents = vecstore.read_ivf_centroids(store)
    assigned = emb.withColumn(
        "cell", similarity.ivf_assign(F.col("embedding"), cents))
    want = []
    for qid, cells in _probe_sets(queries, cents, _NPROBE).items():
        sub = assigned.where(F.col("cell").isin(sorted(cells))).drop("cell")
        ref = similarity.pq_topk(
            sub, queries.where(F.col("vec_id") == qid),
            "vec_id", "embedding", k=_K, pool=_POOL, books=books)
        want.extend(map(tuple, ref.collect()))
    assert g == sorted(want)
    # probe pruning is static: literal PartitionFilters on the cell set
    txt = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in txt
    seg = txt.split("PartitionFilters")[1][:300]
    assert "cell" in seg and "IN" in seg.upper(), seg


def test_ivfpq_append_and_delete_after_append(spark, sf_small, tmp_path):
    emb = load_table(spark, sf_small, "embeddings")
    old = emb.where(F.col("vec_id") % 9 != 0)
    new = emb.where(F.col("vec_id") % 9 == 0)
    queries = emb.where(F.col("vec_id") < 4)
    store = str(tmp_path / "ivfpq")
    vecstore.write_ivfpq_store(
        old, store, "vec_id", "embedding", m=8, ks=16, dim=64,
        num_centroids=16)
    vecstore.append_ivfpq_store(new, store, "vec_id", "embedding")
    # delete APPENDED ids: the tombstone epoch must come from the cell
    # layout (the r12 _part_col fix applies to the IVF-PQ codes dir too)
    dead = [r.vec_id for r in new.select("vec_id").limit(3).collect()]
    vecstore.delete_from_vector_store(spark, f"{store}/codes", dead, "vec_id")
    got = vecstore.ivfpq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding",
        k=_K, pool=_POOL, nprobe=16)  # probe all cells: pure PQ semantics
    rows = got.collect()
    assert len(rows) == 4 * _K
    assert not {r.neighbor_id for r in rows} & set(dead)
    # append used the PERSISTED books + quantizer: codes bit-equal a
    # store written fresh with the same quantizers over the survivors
    import shutil
    surv = old.unionByName(new.where(~F.col("vec_id").isin(dead)))
    ref = str(tmp_path / "ivfpq_ref")
    fresh_store_from_quantizer(store, f"{ref}/codes")
    shutil.copytree(f"{store}/_books", f"{ref}/_books")
    vecstore.append_ivfpq_store(surv, ref, "vec_id", "embedding")
    want = vecstore.ivfpq_topk_from_store(
        spark, ref, emb, queries, "vec_id", "embedding",
        k=_K, pool=_POOL, nprobe=16)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want.collect()))
