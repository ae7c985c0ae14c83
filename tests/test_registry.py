"""The driver contract's registry: every builder registered with ``@_q`` is
still run by one of the 50 entries (directly or as a battery arm reached
through ``__arms__``), the entries keep their order, and every oracle
names an entry. A builder that no entry reaches is dead code."""

from __future__ import annotations

import ast
import hashlib
import json
import pathlib
import tempfile
import threading
import time

import pytest

import __spark_entry__ as em


def _q_decorated() -> list[str]:
    tree = ast.parse(pathlib.Path(em.__file__).read_text())
    return [
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "_q"
            for d in node.decorator_list
        )
    ]


def _reached() -> set[int]:
    seen: set[int] = set()
    stack = list(em.queries().values())
    while stack:
        fn = stack.pop()
        if id(fn) in seen:
            continue
        seen.add(id(fn))
        stack.extend(f for _, f in getattr(fn, "__arms__", ()))
    return seen


def test_every_registered_builder_is_reachable_from_an_entry():
    names = _q_decorated()
    assert len(names) > 50  # the walk found the decorators at all
    reached = _reached()
    dead = [n for n in names if id(getattr(em, n)) not in reached]
    assert not dead, f"registered but run by no entry: {dead}"


def test_entries_keep_the_core_order():
    assert list(em.queries()) == em._CORE_ORDER


def test_every_oracle_names_an_entry():
    assert set(em.oracle_sql()) <= set(em.queries())


def test_oracle_sql_is_unchanged():
    """The 50 oracle strings, byte for byte: a registry refactor must not
    move any of them."""
    digest = hashlib.sha256(json.dumps(em.oracle_sql()).encode()).hexdigest()
    assert digest == "4ebbc21b1707a74cf0c4a18383249c14ec2b286205b1e44bb7459b059039987d"


def test_every_registered_name_outside_the_entries_is_an_arm():
    """Every builder registered under a name that is not an entry is run
    as some entry's arm, so no registered name is dead."""
    reached = _reached()
    core = set(em._CORE_ORDER)
    stray = [n for n, fn in em._QUERIES.items() if n not in core and id(fn) not in reached]
    assert len(em._QUERIES) > len(core)
    assert not stray, stray


def test_csv_json_roundtrip_writes_under_the_temp_dir(spark, sf_small, tmp_path, monkeypatch):
    """The sink+readback battery writes its files under the process temp
    dir, so it runs from any checkout (read-only or isolated) and leaves
    nothing in the source tree."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    em.csv_json_roundtrip(spark, sf_small).write.format("noop").mode("overwrite").save()
    base = tmp_path / "pps_csv_json_roundtrip"
    written = {p.name for p in base.iterdir()} if base.is_dir() else set()
    assert {
        "nation_csv", "nation_json", "nation_orc", "li_hive", "doc_shards", "li_zorder",
    } <= written, written


def test_pool_thread_jobs_carry_the_callers_job_group(spark, sf_small):
    """Builders that run arms on driver threads hand each task the calling
    thread's job group, so every job a query starts is attributed to it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name in ("stats_battery", "event_windows_battery"):
        before = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(f"registry-{name}", name)
        try:
            em.queries()[name](spark, sf_small).write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert tracker.getJobIdsForGroup(f"registry-{name}"), name
        assert set(tracker.getJobIdsForGroup(None)) - before == set(), name


def test_fan_out_failure_cancels_the_running_siblings(spark):
    """When one task raises, its siblings' running Spark jobs are
    cancelled and the first error reaches the caller at once, with the
    calling thread's job group untouched."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    started = threading.Event()
    raised_at = []

    def long_job():
        started.set()
        return spark.range(0, 10**11).selectExpr("sum(id)").collect()

    def fail_once_the_job_runs():
        assert started.wait(60)
        deadline = time.monotonic() + 60
        while not tracker.getActiveJobsIds():
            assert time.monotonic() < deadline
            time.sleep(0.05)
        raised_at.append(time.monotonic())
        raise ValueError("arm failed")

    sc.setJobGroup("fan-out-cancel", "fan-out-cancel")
    tags = sc.getJobTags()
    try:
        with pytest.raises(ValueError, match="arm failed"):
            em._fan_out(spark, [long_job, fail_once_the_job_runs])
        assert time.monotonic() - raised_at[0] < 5
        assert sc.getLocalProperty("spark.jobGroup.id") == "fan-out-cancel"
        assert sc.getJobTags() == tags
        deadline = time.monotonic() + 10
        while tracker.getActiveJobsIds() and time.monotonic() < deadline:
            time.sleep(0.1)
        assert not tracker.getActiveJobsIds()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
