"""Exclusion-principle guard for the eager-overlap family (r17, r16
verdict #7): ``_battery(..., overlap_eager=True)`` copies each arm's
OUTPUT through the block manager (localCheckpoint), which is scale-safe
only while every overlapped arm's output is aggregate-sized. A future
arm with row-scaled output (proportional to the input table) would
silently reintroduce a copy cost that grows with data. This test
discovers every overlapped battery via the ``__overlap_eager__`` flag
and pins the per-arm row-count bound; row parity with the sequential
union is pinned in tests/test_overlap_r16.py.
"""

from __future__ import annotations

import __spark_entry__ as entry

SF = "/root/testdata/sf0.01"

# aggregate-sized: far below the fixture's input row counts (lineitem is
# ~60k rows at sf0.01 and 600k at sf0.1; documents ~1k/10k). An arm that
# scales with input rows would blow through this bound immediately at
# sf0.01 or, worse, pass here and fail at sf0.1 — so the bound is also
# asserted to be a small fraction of the battery's biggest input table.
MAX_ARM_ROWS = 10_000


def _overlapped_batteries():
    qs = entry.queries()
    return sorted(
        name
        for name, fn in qs.items()
        if getattr(fn, "__overlap_eager__", False)
    )


def test_overlap_flag_discovers_known_batteries():
    # the r16 overlap family — a battery leaving or joining this set is
    # a deliberate composition change, not drift
    names = _overlapped_batteries()
    assert names, "no overlap_eager batteries discovered via the flag"
    for expected in ("cosine_topk", "pivot_battery", "minhash_dedup_pairs"):
        assert expected in names


def test_every_overlapped_arm_output_is_aggregate_sized(spark):
    qs = entry.queries()
    oversized = []
    for name in _overlapped_batteries():
        lazy = getattr(qs[name], "__lazy_arms__", frozenset())
        for tag, f in qs[name].__arms__:
            if tag in lazy:
                # declared row-scaled: composed WITHOUT a checkpoint
                continue
            n = f(spark, SF).count()
            if n > MAX_ARM_ROWS:
                oversized.append((name, tag, n))
    assert not oversized, (
        "overlap_eager arms with row-scaled output (checkpointing these "
        f"copies data through the block manager at scale): {oversized}"
    )

