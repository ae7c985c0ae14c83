"""Round-14 ADVICE regressions (all five items from ADVICE.md r13):

1. write_ivfpq_store(rotation=None) removes a pre-existing `_rotation`
   — rebuilding an unrotated store over a previously OPQ-rotated
   path must not leave readers rotating queries against unrotated codes.
2. opq_train rejects dim % m != 0 instead of feeding uninitialized
   trailing columns to the Procrustes SVD.
3. The rotation-literal cache is keyed by the matrix VALUES (not their
   hash()), so two distinct rotations can never alias.
4. order_stats resolves adversarial many-exponent duplicate-heavy data
   instead of bailing at the old 64-pass cap.
5. qcut on an empty / all-NaN column raises a clear error under BOTH
   duplicates modes (was: misleading 'edges not unique' or a silent cut
   against a None edge).
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.operators import similarity, vecstore  # noqa: E402
from parallel_pandas_spark.operators.orderstats import order_stats  # noqa: E402
from parallel_pandas_spark.operators.reshape import qcut  # noqa: E402
from parallel_pandas_spark.sources import load_table  # noqa: E402


# ---------------------------------------------------------------- item 1


def test_unrotated_rebuild_drops_stale_rotation_sidecar(
    spark, sf_small, tmp_path
):
    emb = load_table(spark, sf_small, "embeddings").where(
        F.col("vec_id") < 200)
    store = str(tmp_path / "ivfpq")
    R = similarity.seeded_rotation(64, seed=7)
    vecstore.write_ivfpq_store(
        emb, store, "vec_id", "embedding", m=8, ks=16, dim=64,
        num_centroids=4, rotation=R)
    assert vecstore.read_rotation(store) is not None
    # rebuild UNROTATED over the same path: rotation must disappear so
    # queries score in the same (identity) space the codes encode
    vecstore.write_ivfpq_store(
        emb, store, "vec_id", "embedding", m=8, ks=16, dim=64,
        num_centroids=4)
    assert vecstore.read_rotation(store) is None
    queries = emb.where(F.col("vec_id") < 2)
    got = vecstore.ivfpq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding",
        k=3, pool=20, nprobe=4)
    assert got.count() == 2 * 3


# ---------------------------------------------------------------- item 2


def test_opq_train_rejects_indivisible_dim():
    import numpy as np

    X = np.random.default_rng(0).standard_normal((64, 10))
    with pytest.raises(ValueError, match="not divisible"):
        similarity.opq_train(X, m=3, ks=4, iters=1)


# ---------------------------------------------------------------- item 3


def test_rotation_literal_cache_keys_by_value_not_hash(spark):
    """Two rotations get two distinct cached Columns; re-requesting the
    first must NOT be served the second's literal (the old hash() key
    could collide; the value key cannot). The cache is ATTACHED to the
    live session, so it dies with the gateway it is bound to."""
    spark.__dict__.pop("_pps_rotation_lit_cache", None)
    R1 = [[1.0, 0.0], [0.0, 1.0]]
    R2 = [[0.0, 1.0], [1.0, 0.0]]
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<double>")
    r1 = df.select(
        similarity.rotate_vectors(F.col("v"), R1).alias("o")).first()["o"]
    r2 = df.select(
        similarity.rotate_vectors(F.col("v"), R2).alias("o")).first()["o"]
    assert r1 == [3.0, 4.0] and r2 == [4.0, 3.0]
    cache = spark.__dict__["_pps_rotation_lit_cache"]
    # keys carry the actual value tuples — collision-proof by content
    assert set(cache) == {
        ((1.0, 0.0), (0.0, 1.0)), ((0.0, 1.0), (1.0, 0.0))}
    again = df.select(
        similarity.rotate_vectors(F.col("v"), R1).alias("o")).first()["o"]
    assert again == [3.0, 4.0]


# ---------------------------------------------------------------- item 4


def test_order_stats_converges_across_exponent_range(spark):
    """Duplicate-heavy values spanning ~60 decades: the old 64-pass cap
    could be exhausted before brackets narrowed to <= bins values; the
    raised cap (sized to the full double exponent range) must resolve —
    and still exactly (median checked against the sorted sample)."""
    vals = []
    for e in range(-30, 30):
        vals += [10.0 ** e] * 7  # dupes at every scale
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    n = len(vals)
    want = sorted(vals)[(n - 1) // 2]
    counts, values = order_stats(df, {"x": lambda n: [(n - 1) // 2]},
                                 bins=4)
    assert counts["x"] == n
    assert math.isclose(values["x"][(n - 1) // 2], want, rel_tol=0,
                        abs_tol=0.0)


# ---------------------------------------------------------------- item 5


@pytest.mark.parametrize("dup", ["raise", "drop"])
def test_qcut_empty_and_all_nan_raise_clearly(spark, dup):
    empty = spark.createDataFrame([], "x double")
    with pytest.raises(ValueError, match="no non-NaN values"):
        qcut(empty, "x", 4, duplicates=dup)
    allnan = spark.createDataFrame(
        [(float("nan"),), (None,)], "x double")
    with pytest.raises(ValueError, match="no non-NaN values"):
        qcut(allnan, "x", 4, duplicates=dup)
