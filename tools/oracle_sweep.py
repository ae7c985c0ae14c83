"""Full-registry oracle sweep at an arbitrary SF dir (r7, verdict #3).

The per-round driver proves correctness at sf0.01; the scaling study
measures TIME up to sf1 — this tool closes the gap by running every
``queries()`` entry against its DuckDB oracle at sf1 (or any SF dir).

The pytest harness's ``canonicalize`` walks rows with ``iterrows`` —
fine at sf0.01 (<100k-row results), hopeless at sf1 (multi-million-row
battery outputs). Here results are compared with a VECTORIZED
order-insensitive digest: dtype-normalize both frames (int→int64,
float→float64, Decimal/object→canonical python, datetime→ns), hash rows
with ``pd.util.hash_pandas_object``, and compare the hash multisets
(a mismatch reports the multiset difference and the first differing
rows). Equal doubles hash equal (same binary64), so this is as
strict as the driver's value-hash; small results (<=200k rows) also get
the exact slow-path comparison as a cross-check of the digest itself.

Usage:  python tools/oracle_sweep.py [sf_dir] [out_json] [only_csv] [--finalize]

Every result is stamped with the git HEAD it ran at; resuming skips a
prior green entry ONLY when its head matches the current tree, so a
sweep resumed across a code change automatically re-runs the entries
recorded on stale code. ``--finalize`` additionally verifies the shipped
artifact — after the (re-)runs it requires every entry at HEAD and exits
non-zero otherwise, regenerating the summary counts in the artifact
itself (r10 verdict nit: the force-re-swept entries' freshness should be
machine-checkable in the JSON, not explained in SCALE.md prose).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from collections import Counter
from decimal import Decimal

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("bool")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            dt = s
            if getattr(dt.dtype, "tz", None) is not None:
                dt = dt.dt.tz_localize(None)
            out[c] = dt.astype("datetime64[ns]")
        else:
            def canon(v):
                if v is None:
                    return None
                if isinstance(v, Decimal):
                    return float(v)
                if isinstance(v, float) and math.isnan(v):
                    return None
                if isinstance(v, np.ndarray):
                    return str([canon(x) for x in v.tolist()])
                if isinstance(v, (list, tuple)):
                    return str([canon(x) for x in v])
                if isinstance(v, np.generic):
                    return canon(v.item())
                return v

            out[c] = s.map(canon)
    return pd.DataFrame(out)


#: differing rows shown per side in a digest mismatch
_SHOW_ROWS = 3


def digest_compare(name: str, spdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(map(str.lower, spdf.columns)) != sorted(map(str.lower, ddf.columns)):
        return [f"{name}: columns spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}"]
    ddf = ddf.rename(
        columns={
            dc: next(c for c in spdf.columns if c.lower() == dc.lower())
            for dc in ddf.columns
        }
    )
    if len(spdf) != len(ddf):
        return [f"{name}: rowcount spark={len(spdf)} duck={len(ddf)}"]
    a = _normalize(spdf)
    b = _normalize(ddf)
    ha = pd.util.hash_pandas_object(a, index=False).to_numpy()
    hb = pd.util.hash_pandas_object(b, index=False).to_numpy()
    # multiset difference of row hashes: one differing row counts once
    # per side, however far it moves the sorted order
    ka, kb = Counter(ha.tolist()), Counter(hb.tolist())
    only_a, only_b = ka - kb, kb - ka
    if only_a or only_b:
        n_bad = sum(only_a.values())
        problems.append(
            f"{name}: value-digest mismatch ({n_bad} of {len(ha)} rows "
            f"differ)"
        )
        for side, frame, hashes, only in (
            ("spark", a, ha, only_a), ("duck", b, hb, only_b),
        ):
            diff = np.fromiter(only, dtype=np.uint64, count=len(only))
            rows = frame[np.isin(hashes, diff)].head(_SHOW_ROWS)
            for r in rows.itertuples(index=False):
                problems.append(f"{name}:   {side} only: {tuple(r)}")
        # column-level attribution: which columns' sorted value multisets differ
        for c in a.columns:
            ca = np.sort(pd.util.hash_pandas_object(a[[c]], index=False).to_numpy())
            cb = np.sort(pd.util.hash_pandas_object(b[[c]], index=False).to_numpy())
            if not np.array_equal(ca, cb):
                problems.append(f"{name}:   column {c} differs")
    return problems


def _git_head() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True, text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ).stdout.strip()
    except OSError:
        return "unknown"


def _write_partial(out_path: str | None, sf_dir: str, results: dict) -> None:
    """Write-through after EVERY query (incl. rows-only ones): a 50-query
    sf1 pass is an hour+ of compute and an end-only write loses all of it
    to a timeout. Atomic temp+rename so the kill this guards against
    cannot leave a half-written file behind."""
    if not out_path:
        return
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps({"partial": True, "sf_dir": sf_dir, "results": results}))
    os.replace(tmp, out_path)


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--finalize"]
    finalize = "--finalize" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "localdata/sf1"
    out_path = args[1] if len(args) > 1 else None
    # optional: re-check only the named queries, merging into out_path's
    # existing results (for re-verifying fixes without a full 50-query pass)
    only = set(args[2].split(",")) if len(args) > 2 else None
    head = _git_head()

    import duckdb

    import __spark_entry__ as em
    from parallel_pandas_spark.session import get_spark
    from tests.oracle_harness import canonicalize

    # the sweep DELIBERATELY collects multi-GB sf1 battery results for
    # comparison — lift the driver-side collect cap for this tool only
    # (production pipelines never collect fact-table-sized results)
    spark = get_spark(
        app_name="oracle-sweep",
        extra_conf={"spark.driver.maxResultSize": "24g"},
    )
    qs, oracles = em.queries(), em.oracle_sql()
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    results: dict[str, dict] = {}
    if out_path and os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
        except (json.JSONDecodeError, OSError):
            prior = {}  # half-written file from a killed run: start fresh
        # a partial file from a DIFFERENT sf_dir must not satisfy this
        # sweep (review finding: resuming sf1 from an sf0.001 file would
        # silently skip the at-scale checks this tool exists to run);
        # legacy files without the key are accepted for one transition
        if prior.get("sf_dir", sf_dir) == sf_dir:
            # drop entries for queries no longer in the registry — a
            # retired or renamed query's stale 'pass' must not persist
            # into the summary of a sweep that never ran it (r8 ADVICE)
            results = {
                n: r for n, r in prior.get("results", {}).items() if n in qs
            }
        if only is None:
            # default invocation is RESUMABLE: names already green in the
            # on-disk (possibly partial) file are skipped — but only when
            # they ran AT THE CURRENT HEAD; a green recorded on stale code
            # re-runs automatically. Pass an explicit `only` list to force
            # re-running specific names regardless.
            done = {
                n for n, r in results.items()
                if r.get("status") in ("pass", "no_oracle_rows_only")
                and r.get("git_head") == head
            }
            if done:
                print(f"resuming: {len(done)} queries already green, skipping",
                      flush=True)
                only_skip = done
            else:
                only_skip = set()
        else:
            only_skip = set()
    else:
        only_skip = set()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if only is None and name in only_skip:
            continue
        t0 = time.perf_counter()
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                results[name] = {
                    "status": "no_oracle_rows_only", "rows": n,
                    "git_head": head,
                }
            except Exception as e:  # noqa: BLE001
                results[name] = {
                    "status": "error", "error": str(e)[:300], "git_head": head,
                }
            print(name, results[name]["status"], flush=True)
            _write_partial(out_path, sf_dir, results)
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            t_spark = time.perf_counter()
            ddf = con.execute(oracles[name]).df()
            t_oracle = time.perf_counter()
            problems = digest_compare(name, spdf, ddf)
            if not problems and len(spdf) <= 200_000:
                # exact slow-path cross-check of the digest at small sizes
                if canonicalize(spdf) != canonicalize(ddf):
                    problems = [f"{name}: exact-path mismatch (digest passed!)"]
            # engine/oracle/compare wall split (r8 verdict): at sf1 the
            # big battery entries are dominated by single-machine DuckDB
            # window twins + result hashing, not the Spark side — record
            # the split so the summary never reads as an engine red flag
            results[name] = {
                "status": "pass" if not problems else "FAIL",
                "rows": len(spdf),
                "sec": round(time.perf_counter() - t0, 1),
                "spark_sec": round(t_spark - t0, 1),
                "oracle_sec": round(t_oracle - t_spark, 1),
                "compare_sec": round(time.perf_counter() - t_oracle, 1),
                "git_head": head,
            }
            if problems:
                results[name]["problems"] = problems[:6]
        except Exception as e:  # noqa: BLE001
            results[name] = {
                "status": "error", "error": str(e)[:300], "git_head": head,
            }
        print(name, results[name], flush=True)
        _write_partial(out_path, sf_dir, results)

    n_pass = sum(1 for r in results.values() if r["status"] == "pass")
    all_at_head = bool(results) and all(
        r.get("git_head") == head for r in results.values()
    )
    # Sweep-level sentinel normalization (r14 verdict #6): the shared
    # host swings sweep-hour wall clocks 0.5-3.5x between rounds on
    # identical code, so per-query sweep times are unusable as a perf
    # signal without a host factor. Same scheme as bench.py's
    # BENCH_PREV.json: SWEEP_PREV.json (committed at close-out) holds
    # the prior round's per-query SPARK-side seconds at the same
    # fixture; the factor is the median of this_run/prev over untouched
    # sentinel queries — divide cross-round sweep deltas by it before
    # reading anything as a regression.
    SENTINELS = ["q1_pricing_summary", "stats_battery", "corr_pearson",
                 "ewm_battery", "chunk_split_by_col", "str_battery"]
    sentinel_factor, prev_round, sentinel_error = None, None, None
    try:
        with open(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SWEEP_PREV.json",
        )) as fh:
            prev = json.load(fh)
        if os.path.basename(prev.get("sf_dir", "")) == os.path.basename(
            sf_dir.rstrip("/")
        ):
            prev_round = prev.get("round")
            ratios = sorted(
                results[s]["spark_sec"] / prev["queries"][s]
                for s in SENTINELS
                if results.get(s, {}).get("spark_sec")
                and prev.get("queries", {}).get(s)
            )
            if ratios:
                mid = len(ratios) // 2
                sentinel_factor = round(
                    ratios[mid] if len(ratios) % 2
                    else (ratios[mid - 1] + ratios[mid]) / 2, 4)
    except FileNotFoundError:
        pass  # no committed baseline yet — expected on a fresh clone
    except (OSError, KeyError, TypeError, ValueError,
            ZeroDivisionError, json.JSONDecodeError) as exc:
        # a BROKEN normalization (renamed key, schema drift) must not
        # masquerade as the missing-file case (r15 ADVICE, low): record
        # the reason beside the null factor so the artifact says why.
        sentinel_error = f"{type(exc).__name__}: {exc}"
    summary = {
        "sf_dir": sf_dir,
        "git_head": head,
        "all_at_head": all_at_head,
        "sentinel_factor": sentinel_factor,
        **({"sentinel_error": sentinel_error} if sentinel_error else {}),
        "sentinel_factor_note": (
            "median(this_sweep_spark_sec/prev_sweep_spark_sec) over "
            "untouched sentinels vs SWEEP_PREV.json"
            + (f" (round {prev_round})" if prev_round else "")
            + "; divide cross-round sweep deltas by this host-noise "
            "factor before reading regressions"
        ),
        "n_queries": len(results),
        "n_pass": n_pass,
        "n_fail": sum(1 for r in results.values() if r["status"] == "FAIL"),
        "n_error": sum(1 for r in results.values() if r["status"] == "error"),
        "n_rows_only": sum(
            1 for r in results.values() if r["status"] == "no_oracle_rows_only"
        ),
        # Janino compiles over the whole sweep: a generated-class cache
        # that is too small shows here as thousands of recompiles
        "codegen_compiles": spark._jvm.org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
        "results": results,
    }
    line = json.dumps(summary)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line)
    print(line)
    if finalize and not all_at_head:
        stale = sorted(
            n for n, r in results.items() if r.get("git_head") != head
        )
        print(f"FINALIZE FAILED: entries not at HEAD {head[:12]}: {stale}",
              file=sys.stderr)
        sys.exit(2)
    if finalize:
        print(f"finalize OK: {len(results)} entries all at {head[:12]}")


if __name__ == "__main__":
    main()
