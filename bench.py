"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Headline set mirrors the reference's published benchmarks (BASELINE.md):
grouped aggregation, z-score normalize, nunique, rolling mean, regex
extract, grouped UDF transform — plus the engine's scale extensions
(dedup, similarity) so regressions there are visible per round.

SPARK_GRAFT_PROGRESS=1 shows per-query live task progress (the
reference's signature tqdm UX, progress_imap.py:143-221) via
ProgressTracker — driver-side status polling only, so it costs nothing on
the executors; stderr, so the JSON line on stdout stays machine-parsable.

VARIANCE NOTE (r5): identical code measured 19.8-26.6 s total across runs
on this container minutes apart (every query moving together, including
untouched ones) — machine-level noise, not regressions. Compare per-query
RATIOS within a run, and rerun before concluding a cross-round delta.

MEDIANS (r8, verdict #1): every headline query now runs
SPARK_GRAFT_REPS times (default 3) and reports the per-query MEDIAN;
the headline total is the sum of medians, and the raw runs are emitted
under "queries_runs" in localdata/bench_last.json (r17: the stdout line
is SLIM — the driver's capture truncated the r12/r15 full payloads —
while the file keeps everything) so spread is auditable without
rerunning. Single-run
numbers were +/-20% noise two rounds running — medians are the instrument
the 2x-of-baseline criterion needs.

METHODOLOGY CHANGE (r4): queries are forced with a noop-sink write
(``df.write.format("noop")``) instead of ``.count()``. Under count(),
Catalyst prunes projection-only expressions to ``Project []`` — the
operator being benchmarked was optimized away for expression-only
batteries (str_battery, ordered_battery, rolling_moments_battery, ...),
so their r1-r3 numbers are scan+count lower bounds. The noop sink
evaluates every output column and discards rows at the sink, which is
the standard Spark benchmarking idiom. Expect those batteries' timings
to RISE vs r3 — that is the measurement getting honest, not a
regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline queries: name -> queries() key. One representative per operator
# family so per-round regressions anywhere are visible.
HEADLINE = [
    "q1_pricing_summary",
    "stats_battery",
    "zscore_normalize",
    "corr_pearson",
    "groupby_agg_spec",
    "groupby_transform_zscore",
    "groupby_apply_demean",
    "pivot_battery",
    "rolling_moments_battery",
    "rolling_shapes_battery",
    "ordered_battery",
    "merge_battery",
    "ewm_battery",
    "chunk_split_by_col",
    "str_battery",
    "minhash_dedup_pairs",
    "cosine_topk",
    "text_doc_battery",
    "event_windows_battery",
    "corpus_build_pipeline",
]


def _force(df) -> None:
    """Force FULL execution of every output expression. A noop-sink write
    evaluates all columns and discards the rows at the sink; ``count()``
    must not be used here — Catalyst rewrites projection-only plans to
    ``Aggregate [count(1)] <- Project []`` and deletes the benched work."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    import __spark_entry__ as entrymod
    from parallel_pandas_spark.session import get_spark

    spark = get_spark(app_name="pps-bench")
    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs]
    # warm up EVERY headline query once at the smallest SF (one-time
    # Janino codegen / catalyst analysis / python-worker forks), then once
    # at the target SF (page cache, JIT tiering on the real data volume),
    # so timings reflect the steady state a resident cluster actually
    # runs at (the reference's baseline numbers are steady-state loops
    # too)
    for name in names:
        _force(qs[name](spark, "/root/testdata/sf0.001"))
    for name in names:
        _force(qs[name](spark, SF_DIR))

    progress = os.environ.get("SPARK_GRAFT_PROGRESS", "") not in ("", "0")

    def _run(name: str) -> None:
        df = qs[name](spark, SF_DIR)
        if not progress:
            return _force(df)
        from parallel_pandas_spark.progress import ProgressTracker

        def sink(done: int, active: int, total: int) -> None:
            print(f"\r{name}: {done}/{total} tasks ({active} running)",
                  end="", file=sys.stderr, flush=True)

        with ProgressTracker(spark, sink=sink):
            _force(df)
        print(file=sys.stderr)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "3")))
    runs: dict[str, list[float]] = {n: [] for n in names}
    # interleave reps (full sweeps) rather than back-to-back repeats of
    # one query, so a transient machine-load spike hits one sweep, not
    # all reps of one query — the median then rejects it
    for _ in range(reps):
        for name in names:
            t0 = time.perf_counter()
            _run(name)  # force full execution
            runs[name].append(round(time.perf_counter() - t0, 4))
    import statistics

    timings: dict[str, float] = {
        n: round(statistics.median(ts), 4) for n, ts in runs.items()
    }
    total = round(sum(timings.values()), 4)

    # Per-arm attribution (r7): batteries are pad-unions of component
    # queries, so the headline number alone can't say WHICH arm regressed
    # round-over-round. After the headline loop (so its timings are
    # untouched), each composed battery's arms run under their own timer.
    # The arm sum roughly re-runs the battery once, so SPARK_GRAFT_ARMS=0
    # skips this for quick iteration; the headline metric is identical
    # either way.
    # r9: arms are median-of-3 like the headline (interleaved sweeps) —
    # single-run arm times made quant-vs-exact comparisons noise-bound
    arms: dict[str, dict[str, float]] = {}
    if os.environ.get("SPARK_GRAFT_ARMS", "1") not in ("", "0"):
        arm_runs: dict[str, dict[str, list[float]]] = {}
        for _ in range(reps):
            for name in names:
                parts = getattr(qs[name], "__arms__", None)
                if not parts:
                    continue
                per = arm_runs.setdefault(name, {})
                for tag, fn in parts:
                    t0 = time.perf_counter()
                    _force(fn(spark, SF_DIR))
                    per.setdefault(tag, []).append(
                        round(time.perf_counter() - t0, 4)
                    )
        arms = {
            name: {tag: round(statistics.median(ts), 4) for tag, ts in per.items()}
            for name, per in arm_runs.items()
        }
    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = None
    # Sentinel normalization (r12 verdict #4): this container's wall
    # clock drifts 1.3-1.5x between rounds on identical code, so raw
    # cross-round totals need a host factor. SENTINELS are headline
    # queries that never absorb new arms; the factor is the median of
    # this run's sentinel medians over the previous close-out's
    # (BENCH_PREV.json, committed each round), so a cross-round reader
    # divides by it instead of doing manual forensics.
    SENTINELS = ["q1_pricing_summary", "stats_battery", "corr_pearson",
                 "ewm_battery", "chunk_split_by_col", "str_battery"]
    sentinel_factor, prev_round = None, None
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_PREV.json")) as fh:
            prev = json.load(fh)
        prev_round = prev.get("round")
        ratios = sorted(
            timings[s] / prev["queries"][s]
            for s in SENTINELS
            if s in timings and prev["queries"].get(s)
        )
        if ratios:
            mid = len(ratios) // 2
            sentinel_factor = round(
                ratios[mid] if len(ratios) % 2
                else (ratios[mid - 1] + ratios[mid]) / 2, 4)
    except Exception:
        pass

    # r10 (r9 VERDICT #2): stamp the measured tree so a bench artifact can
    # never silently claim numbers for code it did not run
    import subprocess

    try:
        git_head = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=os.path.dirname(__file__) or ".",
        ).stdout.strip()
        git_dirty = bool(
            subprocess.run(
                ["git", "status", "--porcelain"],
                capture_output=True, text=True,
                cwd=os.path.dirname(__file__) or ".",
            ).stdout.strip()
        )
    except Exception:
        git_head, git_dirty = None, None
    if git_dirty:
        print(
            "WARNING: bench ran on a DIRTY tree — numbers may not match "
            f"commit {git_head}",
            file=sys.stderr,
        )
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "reps": reps,
        "queries": timings,
        "queries_runs": runs,
        "arms": arms,
        "sentinel_factor": sentinel_factor,
        "sentinel_factor_note": (
            "median(this_run/prev_round) over untouched sentinel "
            "queries " + ",".join(SENTINELS) + " vs BENCH_PREV.json "
            f"(round {prev_round}); divide cross-round totals by this "
            "host-noise factor before reading deltas"
        ),
        "git_head": git_head,
        "git_dirty": git_dirty,
        "sf": sf,
    }
    # the full artifact goes to a FILE (the driver's stdout capture
    # truncates long tails — BENCH_r12/r15 both lost their lines that
    # way); stdout carries a SLIM line (<2 KB) with just the fields the
    # driver's round-over-round comparison reads (r16 verdict #1):
    # queries_runs/arms/notes live only in the file artifact.
    try:
        os.makedirs(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "localdata"), exist_ok=True)
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "localdata", "bench_last.json"), "w") as fh:
            json.dump(payload, fh)
    except OSError:
        pass
    slim = {
        k: payload[k]
        for k in ("metric", "value", "unit", "reps", "queries",
                  "sentinel_factor", "git_head", "git_dirty", "sf")
    }
    print(json.dumps(slim))


if __name__ == "__main__":
    main()
