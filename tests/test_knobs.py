"""Every ``SPARK_GRAFT_*`` environment variable read by the engine, the
driver entry, the bench or the tools is documented in the README's
Configuration table, and the table names no variable nobody reads."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _read_in_code() -> set[str]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("parallel_pandas_spark", "tools"):
        files += sorted((ROOT / d).rglob("*.py"))
    return {k for f in files for k in KNOB.findall(f.read_text())}


def _documented() -> set[str]:
    text = (ROOT / "README.md").read_text()
    table = text.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    return {
        m.group(1)
        for m in re.finditer(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)` \|", table, re.M)
    }


def test_every_knob_is_documented():
    assert _read_in_code() == _documented()
