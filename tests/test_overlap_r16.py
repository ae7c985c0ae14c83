"""overlap_eager battery composition (r16 optimization): the threaded
eager-materializing union must return exactly the rows of the sequential
pad-union of the same arms — composition is a wall-clock change, never a
result change."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _canon(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    # NULL-safe total order: sort on the repr of the rounded tuple
    canon = [
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in rows
    ]
    return sorted(canon, key=repr)


@pytest.mark.parametrize(
    "battery",
    [
        "corpus_build_pipeline",
        "groupby_edge_battery",
        "cosine_topk",
        "ivf_topk",
        "pivot_battery",
        "minhash_dedup_pairs",
        "event_windows_battery",
        "stats_quantile_describe",
    ],
)
def test_overlap_union_rows_equal_sequential(spark, battery):
    qs = entry.queries()
    fn = qs[battery]
    arms = fn.__arms__
    # snapshot the tag order BEFORE calling fn (r17, r16 ADVICE: the old
    # assertion compared fn.__arms__ to itself and could never fail) —
    # building the overlapped battery must not reorder the arm registry
    tags_before = [t for t, _ in arms]
    # collect the sequential composition BEFORE building the overlapped
    # one: arms with fixed scratch paths (ivf maint) wipe them at call
    # start, so a lazily-returned seq plan would read deleted files. The
    # overlapped composition is immune — it checkpoints each arm eagerly
    # inside the builder call.
    seq = entry._pad_union([(t, f(spark, SF)) for t, f in arms])
    seq_cols, seq_rows = seq.columns, _canon(seq)
    ovl = fn(spark, SF)
    assert [t for t, _ in fn.__arms__] == tags_before
    assert ovl.columns == seq_cols
    assert _canon(ovl) == seq_rows


def test_overlap_recomputes_per_invocation(spark):
    """The eager checkpoint lives inside one builder call: two calls
    return DISTINCT checkpointed plans (no cross-run memo of results)."""
    qs = entry.queries()
    fn = qs["groupby_edge_battery"]
    a = fn(spark, SF)
    b = fn(spark, SF)
    assert a is not b
    assert a._jdf.queryExecution().analyzed() is not b._jdf.queryExecution().analyzed()
