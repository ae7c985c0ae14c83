"""Session factory: settings that must hold for the life of the JVM."""

import os
import subprocess
import sys
import textwrap

from tests.conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter, so its JVM is new and the corpus battery's
# pool threads are the first to generate code. Prints one line per query:
# the Janino compiles of its second (warm) call.
_WARM_COMPILES = textwrap.dedent(
    """
    import sys
    import __spark_entry__ as em
    from parallel_pandas_spark.session import get_spark

    spark = get_spark(app_name="pps-codegen-cache")
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    qs = em.queries()
    for name in ("corpus_build_pipeline", "kendall_tau_exact",
                 "event_windows_battery"):
        counts = []
        for _ in range(2):
            before = compiles.getCount()
            qs[name](spark, sys.argv[1]).write.format("noop").mode(
                "overwrite").save()
            counts.append(compiles.getCount() - before)
        print(name, *counts, flush=True)
    spark.stop()
    """
)


def test_codegen_cache_sized_by_session_not_first_query(tmp_path):
    """The 2000-entry generated-class cache takes effect even when the
    first code is generated on a pool thread with no active session
    (corpus_build_pipeline's concurrent arms): at Spark's default 100
    entries every warm corpus call recompiled about 345 classes."""
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        TMPDIR=str(tmp_path),
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "4"),
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _WARM_COMPILES, SF_SMALL],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    warm = {}
    for line in out.stdout.splitlines():
        name, _cold, again = line.split()
        warm[name] = int(again)
    assert set(warm) == {"corpus_build_pipeline", "kendall_tau_exact",
                         "event_windows_battery"}, out.stdout
    assert max(warm.values()) <= 30, warm


def test_default_driver_memory_is_at_most_half_of_ram(monkeypatch):
    """The default heap cap is the smaller of 48g and half of physical
    memory, so the JVM heap cannot outgrow the host."""
    from parallel_pandas_spark import session

    page = 4096
    sizes = {"SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: sizes[name])
    sizes["SC_PHYS_PAGES"] = 16 * 2**30 // page
    assert session.default_driver_memory() == "8192m"
    sizes["SC_PHYS_PAGES"] = 512 * 2**30 // page
    assert session.default_driver_memory() == "49152m"
