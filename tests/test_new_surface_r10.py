"""Round-10 surface: r9 ADVICE fixes (NULL-tail self-pair parity in the
pruned quantized scorer, NULL PQ codes for undecodable vectors, summed
parquet row bounds, empty-stream drain proof), the persisted vector
store, semantic cluster dedup, and the streaming restart-recovery proof
(the latter in test_streaming.py)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def test_quantized_prune_dirty_self_in_bad_tail_matches_fold(spark):
    """r9 ADVICE (medium): when a query's OWN corpus vector is dirty and
    among the k smallest bad neighbor ids, the shared NULL tail used to
    keep only k bad ids per batch — the post-truncation self-pair filter
    then left k-1 tail rows and a globally-needed bad id was already
    pruned, so vectorized=True diverged from the fold path whenever the
    top-k dipped into the NULL tail. Engineered here: only 2 clean
    corpus rows, k=5, and the query ids themselves are among the 5
    smallest DIRTY corpus ids."""
    from parallel_pandas_spark.operators import similarity

    rows = [(i, None) for i in range(6)]  # dirty rows with the SMALLEST ids
    rows += [(10, [1.0, 2.0, 3.0, 4.0]), (11, [2.0, 1.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, _EMB_SCHEMA).repartition(2)
    # query ids 0 and 1 are themselves dirty corpus rows in the bad tail
    queries = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0]), (1, [0.5, 1.5, 2.5, 3.5])], _EMB_SCHEMA
    )
    vec = similarity.quantized_cosine_topk(
        df, queries, "vec_id", "embedding", k=5, vectorized=True
    )
    fold = similarity.quantized_cosine_topk(
        df, queries, "vec_id", "embedding", k=5, vectorized=False
    )
    v = sorted(map(tuple, vec.collect()))
    f = sorted(map(tuple, fold.collect()))
    assert v == f and len(v) > 0
    # each query must see k full rows: 2 clean + 3 NULL-tail rows
    per_q = {}
    for r in v:
        per_q[r[0]] = per_q.get(r[0], 0) + 1
    assert per_q == {0: 5, 1: 5}, per_q


def test_quantized_prune_duplicate_id_tail_starvation(spark):
    """The sharpest form of the r9 ADVICE scenario: the query's ONLY
    clean candidate is its own duplicate-id row (excluded as a
    self-pair), so the final top-k is ALL tail — it needs the k smallest
    non-self bad ids, but a k-truncated shared tail containing the
    query's dirty duplicate holds only k-1 of them. The k+1 tail keeps
    parity with the fold path."""
    from parallel_pandas_spark.operators import similarity

    rows = [(0, [1.0, 2.0, 3.0, 4.0])]  # clean row, id 0 (the query's own)
    rows += [(i, None) for i in range(6)]  # dirty ids 0..5 — 0 DUPLICATES
    df = spark.createDataFrame(rows, _EMB_SCHEMA).coalesce(1)
    queries = spark.createDataFrame([(0, [1.0, 1.0, 1.0, 1.0])], _EMB_SCHEMA)
    vec = similarity.quantized_cosine_topk(
        df, queries, "vec_id", "embedding", k=5, vectorized=True
    )
    fold = similarity.quantized_cosine_topk(
        df, queries, "vec_id", "embedding", k=5, vectorized=False
    )
    v = sorted(map(tuple, vec.collect()))
    f = sorted(map(tuple, fold.collect()))
    assert v == f, (v, f)
    assert {r[1] for r in v} == {1, 2, 3, 4, 5}  # the full non-self tail


def test_pq_encode_null_codes_for_undecodable(spark):
    """r9 ADVICE (low): pq_encode on a NULL / ragged / null-element
    vector must emit NULL codes, not an arbitrary valid-looking cid
    (F.least over structs with NULL dist fields picks one)."""
    from parallel_pandas_spark.operators import similarity

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(20)]
    rows += [(100, None), (101, [1.0] * 3), (102, [1.0, None] + [2.0] * 6)]
    df = spark.createDataFrame(rows, _EMB_SCHEMA)
    books = similarity.pq_codebooks(df, "vec_id", "embedding", m=4, ks=8, dim=8)
    codes = similarity.pq_encode(df, books, "vec_id", "embedding")
    got = {r["neighbor_id"]: [r[f"c{s}"] for s in range(4)] for r in codes.collect()}
    for bad in (100, 101, 102):
        assert got[bad] == [None] * 4, (bad, got[bad])
    for good in range(20):
        assert all(c is not None and 0 <= c < 8 for c in got[good])


def test_rows_bound_sums_split_part_files(tmp_path):
    """r9 ADVICE (low): a table split into flat part files
    (lineitem_0.parquet, lineitem_1.parquet) must be bounded by the SUM
    of its parts, not the per-file max — an undercounted bound could
    elect the compact LONG accumulator past its real bound."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    d = tmp_path / "sfX"
    d.mkdir()
    t = pa.table({"x": list(range(1000))})
    pq.write_table(t, d / "lineitem_0.parquet")
    pq.write_table(t, d / "lineitem_1.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), d / "nation.parquet")
    bound = entrymod._rows_bound(str(d))
    # 2000 summed rows (not 1000 max); no sfN suffix -> no name floor
    assert bound == 3.0 * 2000, bound


def test_stateful_drain_proof_empty_source(spark, tmp_path):
    """r9 ADVICE (low): a source that is empty from the start never
    produces a batch with non-None offsets — the engine's own no-data
    progress event (zero rows, startOffset == endOffset == None) is the
    only drain evidence it can emit, and must be accepted instead of
    burning the full timeout and raising for a valid empty stream."""
    from parallel_pandas_spark.streaming import events as se

    src = tmp_path / "empty_events"
    src.mkdir()
    stream = se.stream_events(spark, str(src))
    tot = se.user_running_totals_stateful(stream)
    out = se.run_stream_to_memory(
        spark, tot, table="r10_empty_stateful", mode="update",
        timeout_secs=60.0,
    )
    assert out.count() == 0


def test_drain_proof_still_rejects_inflight_batch0_shape():
    """The relaxed predicate must NOT treat a committed batch whose
    startOffset is None but endOffset is NOT (batch 0's shape) as
    drained — only no-offset-movement entries count."""
    # pure predicate check over synthetic progress dicts (the logic the
    # poll loop applies, isolated here so no query is needed)
    def drained(progress):
        for p in progress:
            if p["numInputRows"] != 0:
                continue
            srcs = p.get("sources") or []
            if srcs and all(
                s.get("startOffset") == s.get("endOffset") for s in srcs
            ):
                return True
        return False

    batch0 = {"numInputRows": 0,
              "sources": [{"startOffset": None, "endOffset": "{'log': 3}"}]}
    moving = {"numInputRows": 7,
              "sources": [{"startOffset": "{'log': 1}", "endOffset": "{'log': 2}"}]}
    empty = {"numInputRows": 0,
             "sources": [{"startOffset": None, "endOffset": None}]}
    settled = {"numInputRows": 0,
               "sources": [{"startOffset": "{'log': 3}", "endOffset": "{'log': 3}"}]}
    assert not drained([batch0, moving])
    assert drained([empty])
    assert drained([moving, settled])


# --- persisted vector store (r10: the store-reading scorers) -------------


def test_quantized_store_bit_parity_fixture(spark, sf_small, tmp_path):
    """Store-read top-k must be BIT-identical to both in-flight paths on
    real fixture embeddings — the store is a pure materialization of the
    same quantization."""
    from parallel_pandas_spark.operators import similarity, vecstore
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    store = str(tmp_path / "vs")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=64)
    got = vecstore.quantized_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=5
    )
    vec = similarity.quantized_cosine_topk(
        emb, queries, "vec_id", "embedding", k=5, vectorized=True
    )
    fold = similarity.quantized_cosine_topk(
        emb, queries, "vec_id", "embedding", k=5, vectorized=False
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, vec.collect()))
    assert g == sorted(map(tuple, fold.collect()))
    assert len(g) == 50


def test_quantized_store_dirty_vectors_null_tail(spark, tmp_path):
    """NULL / ragged / null-element vectors persist as NULL-code rows so
    the store scorer reproduces the in-flight NULL-tail semantics."""
    from parallel_pandas_spark.operators import similarity, vecstore

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(4)]
    rows += [(100, None), (101, [1.0, 2.0]), (102, [1.0, None, 2.0, 3.0])]
    df = spark.createDataFrame(rows, _EMB_SCHEMA)
    queries = df.where(F.col("vec_id") < 2)
    store = str(tmp_path / "vs_dirty")
    vecstore.write_vector_store(df, store, "vec_id", "embedding", dim=4)
    got = vecstore.quantized_topk_from_store(
        spark, store, queries, "vec_id", "embedding", k=6
    )
    fold = similarity.quantized_cosine_topk(
        df, queries, "vec_id", "embedding", k=6, vectorized=False
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, fold.collect()))


def test_vector_store_is_compact_and_pruned(spark, sf_small, tmp_path):
    """The store's codes column is d bytes per vector (the 4x/8x storage
    lever vs float32/float64), and a shard filter prunes partitions at
    plan time (hive sink contract)."""
    import glob

    from parallel_pandas_spark.operators import vecstore
    from parallel_pandas_spark.plans import explain
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    store = str(tmp_path / "vs_sz")
    vecstore.write_vector_store(emb, store, "vec_id", "embedding", dim=64)
    data = vecstore._data_dir(store)
    st = spark.read.parquet(data)
    lens = st.select(F.length("codes").alias("l")).distinct().collect()
    assert [r["l"] for r in lens] == [64]
    assert len(glob.glob(f"{data}/shard=*")) == 8
    pruned = st.where(F.col("shard") == 3)
    txt = explain.explain_str(pruned)
    assert "PartitionFilters" in txt and "shard" in txt.split("PartitionFilters")[1][:200]


def test_pq_store_bit_parity_fixture(spark, sf_small, tmp_path):
    """pq_topk_from_store == pq_topk (same deterministic codebooks, same
    ADC doubles, same exact re-rank) on fixture embeddings."""
    from parallel_pandas_spark.operators import similarity, vecstore
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    store = str(tmp_path / "pqs")
    vecstore.write_pq_store(emb, store, "vec_id", "embedding", m=8, ks=16, dim=64)
    got = vecstore.pq_topk_from_store(
        spark, store, emb, queries, "vec_id", "embedding", k=5, pool=50
    )
    ref = similarity.pq_topk(
        emb, queries, "vec_id", "embedding", k=5, m=8, ks=16, dim=64, pool=50
    )
    g = sorted(map(tuple, got.collect()))
    assert g == sorted(map(tuple, ref.collect()))
    assert len(g) == 50
    # the code store is m=8 bytes per vector
    st = spark.read.parquet(vecstore._data_dir(f"{store}/codes"))
    lens = st.select(F.length("codes").alias("l")).distinct().collect()
    assert [r["l"] for r in lens] == [8]


# --- semantic cluster dedup (r10) ----------------------------------------


def test_semantic_cluster_pairs_bruteforce_replay(spark, sf_small):
    """semantic_cluster_pairs == a numpy replay: md5-sampled centroids,
    argmin assignment with (dist, cid) tiebreak, all intra-cluster pairs
    with exact cosine >= threshold."""
    import hashlib

    import numpy as np

    from parallel_pandas_spark.operators import dedup
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    got = sorted(
        map(
            tuple,
            dedup.semantic_cluster_pairs(
                emb, "vec_id", "embedding", threshold=0.3, num_centroids=8
            ).collect(),
        )
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    V = {r["vec_id"]: np.array([float(x) for x in r["embedding"]]) for r in rows}
    cents = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:8]
    def assign(v):
        best = None
        for cid in sorted(cents):
            c = V[cid]
            d = -2.0 * float(v @ c) + float(c @ c)
            if best is None or d < best[0] or (d == best[0] and cid < best[1]):
                best = (d, cid)
        return best[1]
    cl = {i: assign(V[i]) for i in ids}
    exp = []
    for a in ids:
        for b in ids:
            if a < b and cl[a] == cl[b]:
                cos = float(V[a] @ V[b]) / (
                    float(np.sqrt(V[a] @ V[a])) * float(np.sqrt(V[b] @ V[b]))
                )
                if cos >= 0.3:
                    exp.append((a, b, round(cos, 6)))
    assert len(got) == len(exp) > 0
    for (ga, gb, gc), (ea, eb, ec) in zip(got, sorted(exp)):
        assert (ga, gb) == (ea, eb)
        assert abs(gc - ec) <= 1e-9  # same doubles up to the final round


def test_semantic_cluster_pairs_no_cartesian(spark, sf_small):
    """The pair join's key is the cluster id — the plan must never fall
    back to a cartesian/nested-loop product of the corpus. (r11) The
    default K now DERIVES from the measured corpus rows (the vecstore
    sizing rule): ceil(rows/4096) floored at 16, which bounds the
    per-cluster candidate population the grouped kernel squares."""
    from parallel_pandas_spark.operators import dedup
    from parallel_pandas_spark.plans import explain
    from parallel_pandas_spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    df = dedup.semantic_cluster_pairs(emb, "vec_id", "embedding")
    txt = explain.explain_str(df)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt
    # derived-K rule: floor of 16 at fixture scale, and it GROWS with
    # the corpus so mean docs/cluster never exceeds the kernel target
    n = emb.count()
    k = dedup.semantic_centroid_count(n)
    assert k == max(16, -(-n // dedup._SEM_DOCS_PER_CLUSTER))
    for rows in (1, 4096 * 16, 4096 * 16 + 1, 10_000_000, 10**9):
        kk = dedup.semantic_centroid_count(rows)
        assert rows / kk <= dedup._SEM_DOCS_PER_CLUSTER or kk == 16
        assert kk >= 16
    assert dedup.semantic_centroid_count(10**9) == -(-10**9 // 4096)


def test_exact_pairs_within_length_cohorts(spark):
    """Self-review r10: the grouped Arrow kernel must score EVERY
    equal-length pair the zip_with fold would score — including a
    minority-length cohort sharing a bucket with a larger cohort (the
    first kernel cut elected one modal dim and silently dropped the
    minority pairs). Unequal-length and dirty pairs still emit nothing
    (they score NULL in the fold)."""
    from parallel_pandas_spark.operators.dedup import _exact_pairs_within

    rows = [
        # majority cohort: three 4-d vectors, two of them near-parallel
        (1, [1.0, 0.0, 0.0, 0.0], 0, False),
        (2, [1.0, 0.01, 0.0, 0.0], 0, False),
        (3, [0.0, 1.0, 0.0, 0.0], 0, False),
        # minority cohort: two parallel 2-d vectors in the SAME bucket
        (4, [3.0, 4.0], 0, False),
        (5, [6.0, 8.0], 0, False),
        # dirty rows: NULL vector / null element
        (6, None, 0, False),
        (7, [1.0, 1.0], 0, True),
    ]
    vecs = spark.createDataFrame(
        rows, "id long, v array<double>, grp int, __hasnull boolean")
    got = {(r.id_a, r.id_b): r.cosine
           for r in _exact_pairs_within(vecs, 0.99).collect()}
    assert (1, 2) in got and (4, 5) in got, got
    assert got[(4, 5)] == 1.0
    assert not any(6 in p or 7 in p for p in got)
    # cross-length pair (1,4) never emits even at threshold -inf:
    got_all = {(r.id_a, r.id_b)
               for r in _exact_pairs_within(vecs, -10.0).collect()}
    assert (1, 4) not in got_all and (3, 4) not in got_all


def test_exact_pairs_within_zero_norm_matches_engine_null(spark):
    """Self-review r10 (code review): Spark/DuckDB division by zero
    yields NULL (dropped by >=), so a zero-norm vector must emit NO
    pairs from the Arrow kernel — numpy's 0/0=NaN would otherwise pass
    the NaN keep-filter and fabricate phantom near-duplicates. NaN
    INPUT vectors still emit (NaN cosine ranks greatest in both
    engines)."""
    from parallel_pandas_spark.operators.dedup import _exact_pairs_within

    rows = [
        (1, [0.0, 0.0, 0.0], 0, False),   # zero norm
        (2, [0.0, 0.0, 0.0], 0, False),   # zero norm
        (3, [1.0, 2.0, 2.0], 0, False),
        (4, [2.0, 4.0, 4.0], 0, False),   # parallel to 3
        (5, [float("nan"), 1.0, 1.0], 0, False),  # NaN INPUT
    ]
    vecs = spark.createDataFrame(
        rows, "id long, v array<double>, grp int, __hasnull boolean")
    got = {(r.id_a, r.id_b) for r in _exact_pairs_within(vecs, 0.9).collect()}
    assert (3, 4) in got
    # exactly-zero denominators (zero x zero, zero x clean) are NULL in
    # both engines and must be absent
    assert not ({(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)} & got), got
    # NaN input propagates to a NaN cosine which passes >= in both
    # engines — including against a zero vector (0 * NaN = NaN
    # denominator, NOT the divide-by-zero NULL case)
    assert (3, 5) in got and (4, 5) in got
    assert (1, 5) in got and (2, 5) in got


def test_hist_state_far_out_of_domain_clamps_not_wraps(spark):
    """Self-review r10 (code review): a value whose bin index floors
    past 2^31 (or +inf) must clamp to the TOP edge bin — an early int
    cast wrapped it into an arbitrary low bin."""
    from parallel_pandas_spark.operators.rollup import hist_state

    df = spark.createDataFrame(
        [(0, 1.0e12), (0, float("inf")), (0, -1.0e12), (0, 0.5)],
        "g int, x double",
    )
    h = hist_state(df, ["g"], "x", 0.0, 1.0, bins=128).collect()[0]["hist_x"]
    assert h[127] == 2      # 1e12 and +inf both clamp high
    assert h[0] == 1        # -1e12 clamps low
    assert h[64] == 1       # 0.5 in the middle
    assert sum(h) == 4


def test_zvalue_nan_rows_do_not_poison_bounds(spark):
    """Self-review r10 (code review): one NaN row must not make the
    max() bound NaN (which collapsed the whole dimension to one grid
    cell); NaN rows pin to cell 0 like NULLs."""
    from parallel_pandas_spark.operators import layout

    df = spark.createDataFrame(
        [(float("nan"), 0), (0.0, 0), (15.0, 0)] + [(float(x), 0) for x in range(16)],
        "x double, y int",
    )
    rows = {r.x: r["__z"] for r in layout.zvalue(df, ["x", "y"], bits=4).collect()
            if r.x == r.x or True}
    import math
    nan_z = [z for x, z in rows.items() if isinstance(x, float) and math.isnan(x)]
    assert nan_z == [0]
    # clean values still spread over the grid (bounds not poisoned)
    assert rows[15.0] > rows[0.0]
