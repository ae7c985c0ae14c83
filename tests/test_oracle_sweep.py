"""tools/oracle_sweep.digest_compare: the value digest counts differing
rows as a multiset difference of row hashes and shows them."""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.oracle_sweep import digest_compare  # noqa: E402


def _frame(n: int = 15000) -> pd.DataFrame:
    return pd.DataFrame({"k": range(n), "z": [i * 0.5 - 3000.0 for i in range(n)]})


def test_one_differing_row_reports_one():
    spark_side, duck_side = _frame(), _frame()
    # a signed-zero miss in the middle of the sorted hash order: a
    # positional count over sorted hashes shifts every later slot
    spark_side.loc[6334, "z"] = 0.0
    duck_side.loc[6334, "z"] = -0.0
    problems = digest_compare("q", spark_side, duck_side)
    assert problems[0] == "q: value-digest mismatch (1 of 15000 rows differ)"
    assert "q:   spark only: (6334, 0.0)" in problems
    assert "q:   duck only: (6334, -0.0)" in problems
    assert "q:   column z differs" in problems


def test_equal_multisets_in_any_order_pass():
    a = _frame(100)
    assert digest_compare("q", a, a.iloc[::-1].reset_index(drop=True)) == []


def test_duplicate_count_difference_is_a_mismatch():
    a = pd.DataFrame({"k": [1, 1, 2]})
    b = pd.DataFrame({"k": [1, 2, 2]})
    problems = digest_compare("q", a, b)
    assert problems[0] == "q: value-digest mismatch (1 of 3 rows differ)"
    assert "q:   spark only: (1,)" in problems
    assert "q:   duck only: (2,)" in problems
