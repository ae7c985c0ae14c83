"""True Structured Streaming behaviors that the batch oracle can't cover:
stream/batch equivalence of the windowed agg, and the custom stateful
operator (applyInPandasWithState)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from parallel_pandas_spark.sources import load_table  # noqa: E402
from parallel_pandas_spark.streaming import events as se  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_stream_batch_equivalence(spark):
    """The streaming tumbling agg over a finite file source (availableNow)
    must equal the batch form on the same data."""
    stream = se.stream_events(spark, f"{SF}/events.parquet")
    agg = se.stream_tumbling_counts(stream, "1 day", "2 days")
    live = se.run_stream_to_memory(spark, agg, "t_stream_eq", mode="complete")
    live_rows = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in live.collect()
    }

    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 day").alias("window"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    batch_rows = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    assert live_rows == batch_rows
    assert len(live_rows) > 0


def test_stateful_running_totals(spark, jvm_stderr):
    """applyInPandasWithState per-user running totals: totals over the
    full (finite) stream must match a plain groupBy."""
    stream = se.stream_events(spark, f"{SF}/events.parquet")
    out = se.user_running_totals_stateful(stream)
    live = se.run_stream_to_memory(spark, out, "t_stateful", mode="update")
    # update mode may emit several rows per user (one per batch); the last
    # one carries the final running total — with one input file there is
    # exactly one batch, so rows are final.
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in live.collect()}

    ev = load_table(spark, SF, "events")
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("t"))
        .collect()
    }
    assert got == want
    assert len(got) > 0
    # the run ends inside the engine, never by a stop landing in a batch
    assert "Exception in thread" not in jvm_stderr()


def test_stream_events_glob_any_filename(spark, tmp_path):
    """Regression (r2 ADVICE, events.py): the literal-file->glob rewrite
    hard-coded the class "[e]", so any parquet not named e*.parquet matched
    nothing and the stream silently yielded zero rows. The glob must escape
    the file's OWN first character."""
    import shutil

    dst = tmp_path / "zz_events.parquet"
    shutil.copyfile(f"{SF}/events.parquet", dst)
    stream = se.stream_events(spark, str(dst))
    agg = se.stream_tumbling_counts(stream, "1 day", "2 days")
    live = se.run_stream_to_memory(spark, agg, "t_glob_any", mode="complete")
    assert live.count() > 0


def test_stream_sliding_equivalence(spark):
    """Live sliding-window stream (duration 1d / slide 12h) equals the
    batch sliding form — every event lands in two windows."""
    stream = se.stream_events(spark, f"{SF}/events.parquet")
    agg = (
        stream.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day", "12 hours").alias("window"))
        .agg(F.count("*").alias("n_events"))
    )
    live = se.run_stream_to_memory(spark, agg, "t_slide_eq", mode="complete")
    got = {r["window"]["start"]: r["n_events"] for r in live.collect()}

    ev = load_table(spark, SF, "events")
    want = {
        r["window"]["start"]: r["n_events"]
        for r in ev.groupBy(F.window("ts", "1 day", "12 hours").alias("window"))
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_incremental_batches_equivalence(spark, tmp_path):
    """Tumbling aggregation over MULTIPLE micro-batches (maxFilesPerTrigger=1,
    three input files) must equal the batch form — exercises cross-batch
    state merge, not just a single-batch pass."""
    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_parts")
    # three disjoint slices as separate files
    ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(3))).repartition(
        3, "__b"
    ).drop("__b").write.mode("overwrite").parquet(d)
    stream = se.stream_events(spark, d, max_files=1)
    agg = se.stream_tumbling_counts(stream, "1 day", "2 days")
    live = se.run_stream_to_memory(spark, agg, "t_multi_eq", mode="complete")
    got = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in live.collect()
    }
    want = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in ev.groupBy(F.window("ts", "1 day").alias("window"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Streaming dropDuplicatesWithinWatermark over three micro-batches
    with duplicates INSIDE and ACROSS batches: exactly one emission per
    key, and the emitted key set equals the batch distinct set."""
    ev = load_table(spark, SF, "events").limit(200)
    d = str(tmp_path / "ev_dup_parts")
    # each file holds the same 200 events -> every key duplicates across
    # all three micro-batches (and event repeats inside a batch dedupe too)
    for i in range(3):
        ev.write.mode("append").parquet(d)
    stream = se.stream_events(spark, d, max_files=1)
    dd = se.stream_dedup(stream, ["user_id", "event_type"], watermark="365 days")
    out = se.run_stream_to_memory(
        spark, dd.select("user_id", "event_type"), "t_dedup_live", mode="append"
    )
    got = [(r["user_id"], r["event_type"]) for r in out.collect()]
    want = {
        (r["user_id"], r["event_type"])
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert len(got) == len(set(got)), "a key was emitted more than once"
    assert set(got) == want


def test_stream_quiescence_under_slow_batches(spark, tmp_path):
    """Stress drain determinism under scheduling delay (run_stream_to_memory):
    each of six micro-batches is artificially slowed by a sleep inside a
    mapInPandas stage, so the gap between batch STARTS far exceeds any
    poll interval. Both retired heuristics (progress-stability, then the
    r8 load-adaptive status-flag window) declared quiescence in exactly
    this shape and dropped files — the r8 stress run failed under
    full-suite load. r9: the non-stateful path routes through
    ``Trigger.AvailableNow`` + ``awaitTermination`` — the ENGINE
    terminates after processing exactly the files present at start, so
    no wall-clock heuristic exists to race. Asserted by live == batch
    equivalence over ALL six files."""
    import time

    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_slow_parts")
    ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(6))).repartition(
        6, "__b"
    ).drop("__b").write.mode("overwrite").parquet(d)

    stream = se.stream_events(spark, d, max_files=1)

    def slow(batches):
        first = True
        for pdf in batches:
            if first:
                time.sleep(1.2)  # >2x the harness poll interval (0.5 s)
                first = False
            yield pdf

    slowed = stream.repartition(1).mapInPandas(slow, stream.schema)
    agg = se.stream_tumbling_counts(slowed, "1 day", "2 days")
    live = se.run_stream_to_memory(spark, agg, "t_slow_eq", mode="complete")
    got = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in live.collect()
    }
    want = {
        (r["window"]["start"], r["event_type"]): (r["n_events"], round(r["sum_value"], 6))
        for r in ev.groupBy(F.window("ts", "1 day").alias("window"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_interval_join_equivalence(spark, tmp_path):
    """Stream-stream interval self-join (events.py interval_self_join):
    two watermarked file streams of the SAME events split across three
    micro-batch files each, joined on user_id with r.ts in
    [l.ts, l.ts + 2h] — matches must pair rows across DIFFERENT
    micro-batches (the buffered-state path), and the live append-mode
    output must equal the identical join on the static frame."""
    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_join_parts")
    ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(3))).repartition(
        3, "__b"
    ).drop("__b").write.mode("overwrite").parquet(d)

    ls = se.stream_events(spark, d, max_files=1)
    rs = se.stream_events(spark, d, max_files=1)
    joined = se.interval_self_join(ls, rs, interval="2 hours", watermark="30 days")
    live = se.run_stream_to_memory(spark, joined, "t_ivjoin", mode="append")
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"]) for r in live.collect()
    }
    n_live = live.count()
    assert n_live == len(got), "a pair was emitted more than once"

    want = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in se.interval_self_join(ev, ev, interval="2 hours").collect()
    }
    assert got == want and len(got) > 0
    # cross-batch evidence: at least one pair spans two different input
    # slices (event_id mod 3 differs)
    assert any(l % 3 != r % 3 for (_, l, r) in got)


def test_stateful_drain_proof_under_slow_batches(spark, tmp_path, jvm_stderr):
    """The ``applyInPandasWithState`` path cannot use AvailableNow (its
    processing-time timers keep the query alive forever), so
    run_stream_to_memory proves drain from SOURCE OFFSETS in completed
    ``recentProgress`` entries: an empty batch whose startOffset equals
    endOffset means the engine itself listed the source and found
    nothing new. Stress it the same way the non-stateful path was: four
    micro-batches each slowed by a mapInPandas sleep; the final per-user running totals (max per user — the count
    is monotone) must equal the batch groupBy over ALL four files."""
    import time

    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_slow_state")
    ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(4))).repartition(
        4, "__b"
    ).drop("__b").write.mode("overwrite").parquet(d)

    stream = se.stream_events(spark, d, max_files=1)

    def slow(batches):
        first = True
        for pdf in batches:
            if first:
                time.sleep(1.2)
                first = False
            yield pdf

    slowed = stream.repartition(1).mapInPandas(slow, stream.schema)
    out = se.user_running_totals_stateful(slowed)
    live = se.run_stream_to_memory(spark, out, "t_slow_state", mode="update")
    got = {
        r["user_id"]: (r["m"]["n_events"], round(r["m"]["total_value"], 6))
        for r in live.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("m"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("t"))
        .collect()
    }
    assert got == want and len(got) > 0
    assert "Exception in thread" not in jvm_stderr()


def test_stateful_restart_recovery_exactly_once(spark, tmp_path, jvm_stderr):
    """Fault tolerance of the stateful path (r10): run the per-user
    running-totals query over six micro-batch files, STOP it after about
    half the batches, then restart a NEW query from the same checkpoint
    and run to the offset-proven drain. The checkpoint must restore both
    source offsets (no batch skipped or re-read) and per-key state (the
    running totals continue, not restart), and the foreachBatch-by-id
    parquet sink makes replays idempotent — so the final per-user totals
    (max per user; the count is monotone) must equal the batch groupBy
    over ALL files, exactly once."""
    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_restart_parts")
    ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(6))).repartition(
        6, "__b"
    ).drop("__b").write.mode("overwrite").parquet(d)
    out_dir = str(tmp_path / "restart_out")
    ckpt = str(tmp_path / "restart_ckpt")

    def make_stream():
        return se.user_running_totals_stateful(
            se.stream_events(spark, d, max_files=1)
        )

    # phase 1: crash-simulate after half the batches — exactly three
    # commit, and the stop never kills the stream thread mid-batch
    n1 = se.run_stateful_to_parquet(
        spark, make_stream, out_dir, ckpt, stop_after_batches=3
    )
    assert n1 == 3
    # phase 2: a NEW query from the same checkpoint finishes the rest
    se.run_stateful_to_parquet(spark, make_stream, out_dir, ckpt)

    live = spark.read.parquet(f"{out_dir}/b*")
    got = {
        r["user_id"]: (r["m"]["n_events"], round(r["m"]["total_value"], 6))
        for r in live.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("m"))
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], round(r["t"], 6))
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("t"))
        .collect()
    }
    assert got == want and len(got) > 0

    # phase 3: a third start with nothing new must add NO data batches
    # (idempotent restart — offsets already at the end)
    n3 = se.run_stateful_to_parquet(spark, make_stream, out_dir, ckpt)
    assert n3 == 0
    assert "Exception in thread" not in jvm_stderr()


def test_stream_session_window_append_matches_batch(spark, tmp_path):
    """Live session windows (stream_session_counts, append mode): the
    emitted set must EXACTLY equal the batch sessions that end at or
    before the query's final watermark — sessions the watermark could
    not finalize are legitimately absent, everything else must match on
    (user, start, end, count) with no duplicates.

    Source contract: micro-batches must arrive in ASCENDING event time.
    The file source orders files by MODIFICATION time, so the three
    slices are cut by ts rank and written sequentially with forced
    ascending mtimes — a pmod(event_id) split written by concurrent
    tasks raced on mtime order, and a later-time file landing first
    jumps the watermark so subsequent batches drop events as late and
    emit split phantom sessions (the exact-equality check is only sound
    when nothing is late beyond the watermark; flaked in a full-suite
    run under load before this was pinned)."""
    import os as _os
    import pathlib

    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_sess_parts")
    from pyspark.sql import Window as _W

    sliced = ev.withColumn(
        "__slice",
        F.ntile(3).over(_W.orderBy(F.col("ts").asc(), F.col("event_id").asc())),
    )
    seen: set = set()
    for k in (1, 2, 3):  # sequential single-file writes: ascending slices
        (
            sliced.where(F.col("__slice") == k).drop("__slice")
            .coalesce(1).write.mode("append").parquet(d)
        )
        # stamp THE file this write produced with mtime == its slice
        # rank (FileStreamSource sorts by mtime; same-ms writes tie)
        now = set(pathlib.Path(d).glob("part-*.parquet")) - seen
        assert len(now) == 1, now
        _os.utime(now.pop(), (1700000000 + k, 1700000000 + k))
        seen = set(pathlib.Path(d).glob("part-*.parquet"))
    stream = se.stream_events(spark, d, max_files=1)
    sess = se.stream_session_counts(stream, gap="30 minutes", watermark="1 minute")
    live, prog = se.run_stream_to_memory(
        spark, sess, "t_sess_live", mode="append", return_progress=True
    )
    wm = prog["eventTime"].get("watermark")
    assert wm is not None
    live_rows = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in live.collect()
    }
    assert len(live_rows) == live.count(), "duplicate session emitted"

    # the finalizability filter keys on max(ts)+gap (an aggregate output):
    # a w.end predicate pushes below the session merge and splits sessions
    # (see test_session_end_filter_pushdown_hazard)
    wm_ts = wm.replace("T", " ").replace("Z", "")
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.max("ts").alias("last_ts"))
        .where(
            F.col("last_ts") + F.expr("INTERVAL 30 minutes")
            <= F.lit(wm_ts).cast("timestamp")
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    finalizable = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in batch.collect()
    }
    assert live_rows == finalizable
    assert len(live_rows) > 0


def test_session_end_filter_pushdown_hazard(spark):
    """Regression for a Catalyst hazard this round's session arm caught:
    filtering a session_window AGGREGATE on w.end gets pushed below the
    session MERGE onto the per-event pre-windows (ts + gap <= bound),
    silently dropping tail events and emitting phantom unmerged
    sessions. Two events 10 minutes apart merge into one session whose
    end is past the bound — the UNSAFE filter resurrects the first
    event as a phantom 1-event session; the SAFE filter (max(ts)+gap,
    an aggregate output) returns nothing."""
    import datetime

    rows = [
        (1, datetime.datetime(2024, 1, 1, 10, 0, 0), 7, "c", 1.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 10, 10, 0), 7, "c", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(rows, se.EVENTS_RAW_SCHEMA)
    bound = F.lit("2024-01-01 10:35:00").cast("timestamp")  # between the ends
    agg = ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
    unsafe = (
        agg.agg(F.count("*").alias("n")).where(F.col("w.end") <= bound).count()
    )
    safe = (
        agg.agg(F.count("*").alias("n"), F.max("ts").alias("last"))
        .where(F.col("last") + F.expr("INTERVAL 30 minutes") <= bound)
        .count()
    )
    # the true session is 10:00-10:40 (merged), end past the bound
    assert safe == 0
    # document the hazard: if Spark ever fixes the pushdown this starts
    # failing and the workaround can be retired
    assert unsafe == 1, unsafe


def test_stream_rollup_state_restart_exactly_once(spark, tmp_path, jvm_stderr):
    """Streaming -> incremental rollup integration (r11): foreachBatch
    writes a MERGEABLE rollup state (rollup.agg_state) per micro-batch to
    b<id> directories, the query is stopped after ~half the batches and
    restarted from the same checkpoint, and the merged batch states must
    finalize BIT-IDENTICAL to a from-raw deterministic recompute over all
    events — the rollup merge theorem composed with the checkpointed
    exactly-once sink: restart replays overwrite their own directory, any
    merge tree over exact integer states equals a single-pass build, so
    stop/restart is invisible in the rollup."""
    from parallel_pandas_spark.operators import rollup

    spec = {"value": (6, 4)}
    ev = load_table(spark, SF, "events")
    d = str(tmp_path / "ev_rollup_parts")
    ev.withColumn("__b", F.pmod(F.col("event_id"), F.lit(6))).repartition(
        6, "__b"
    ).drop("__b").write.mode("overwrite").parquet(d)
    out_dir = str(tmp_path / "rollup_state_out")
    ckpt = str(tmp_path / "rollup_state_ckpt")

    def make_stream():
        return se.stream_events(spark, d, max_files=1)

    def to_state(batch_df):
        return rollup.agg_state(batch_df, ["user_id"], spec)

    n1 = se.run_stateful_to_parquet(
        spark, make_stream, out_dir, ckpt, stop_after_batches=3,
        batch_transform=to_state,
    )
    assert n1 == 3
    se.run_stateful_to_parquet(
        spark, make_stream, out_dir, ckpt, batch_transform=to_state
    )
    states = spark.read.parquet(f"{out_dir}/b*")
    merged = rollup.merge_state(states, ["user_id"], ["value"])
    inc = rollup.finalize(merged, ["user_id"], spec)
    ref = rollup.finalize(
        rollup.agg_state(ev, ["user_id"], spec), ["user_id"], spec
    )
    a = {r["user_id"]: tuple(r)[1:] for r in inc.collect()}
    b = {r["user_id"]: tuple(r)[1:] for r in ref.collect()}
    assert a == b and len(a) > 0  # bit-identical doubles incl. var/std
    # a third start with nothing new adds no batches and changes nothing
    n3 = se.run_stateful_to_parquet(
        spark, make_stream, out_dir, ckpt, batch_transform=to_state
    )
    assert n3 == 0
    again = rollup.finalize(
        rollup.merge_state(
            spark.read.parquet(f"{out_dir}/b*"), ["user_id"], ["value"]
        ),
        ["user_id"], spec,
    )
    assert {r["user_id"]: tuple(r)[1:] for r in again.collect()} == b
    assert "Exception in thread" not in jvm_stderr()
