import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_pandas_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pps-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture
def jvm_stderr(capfd, request):
    """Returns a reader of the text written to fd 2 since the test began,
    by this process or by the Spark JVM. The JVM inherits fd 2 when it
    starts, which under pytest's default fd capture is the session-wide
    capture file, not this test's ``capfd`` — so both are read, and the
    JVM's part is echoed back so it stays in the test report. (With
    ``-s`` the JVM writes to the terminal and only this process's side
    is seen.)"""
    capman = request.config.pluginmanager.getplugin("capturemanager")

    def read() -> str:
        err = capfd.readouterr().err
        if capman is not None and capman.is_globally_capturing():
            jvm = capman.read_global_capture().err
            sys.stderr.write(jvm)
            err += jvm
        return err

    return read


def fresh_store_from_quantizer(src: str, dst: str) -> None:
    """Commit an empty store at ``dst`` whose IVF quantizer is the one
    committed in ``src`` (an IVF store, or an IVF-PQ store's root). A
    test fills it through the append path to get a reference store that
    shares ``src``'s centroids."""
    from parallel_pandas_spark.operators import vecstore

    vecstore._rewrite_store(
        dst, os.makedirs, clear_tombs=True,
        new_cents=vecstore.read_ivf_centroids(src),
    )


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED
