"""Cross-run determinism check: execute every registered query TWICE in
one session and require bit-identical result multisets.

The oracle gate catches nondeterminism only when a rerun happens to
disagree with DuckDB; this harness catches it directly — the classic
offenders being collect_list order (no guarantee across retries or
partitionings; see user_recent_history's rank-assembled arrays), float
aggregation order (see the decimal-domain rules in registry.py), sample-
based range partitioning (pinned in operators/ranking.py), and iterative
convergence (pinned per round in operators/graph.py). A query that
differs from ITSELF would poison any downstream cache/materialization
even if both runs were individually "plausible".

Usage:  python tools/determinism_check.py [sf_dir] [query ...]
Exit code 1 if any query differs between runs (or raises).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon_rows(df):
    # reuse the gate's canonicalization so "identical" means the same
    # thing here as in the oracle comparison
    sys.path.insert(0, os.path.join(os.path.dirname(__file__)))
    from check_correctness import rows_to_multiset

    rows = [tuple(r) for r in df.collect()]
    return rows_to_multiset(df.columns, rows)


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and "/" in sys.argv[1]
        else "/root/testdata/sf0.01"
    )
    only = {a for a in sys.argv[1:] if "/" not in a}

    # this checkout's package first: __spark_entry__ puts the driver's
    # fixed checkout on sys.path, which must not shadow a second copy
    from youtube_etl_project_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("determinism-check")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    names = [n for n in qs if not only or n in only]
    failed = []
    for name in names:
        t0 = time.time()
        try:
            a = _canon_rows(qs[name](spark, sf_dir))
            b = _canon_rows(qs[name](spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — report-and-continue sweep
            failed.append(name)
            print(f"ERR  {name}: {str(ex)[:160]}", flush=True)
            continue
        if a == b:
            print(
                f"SAME {name} ({len(a)} rows, {time.time() - t0:.1f}s)",
                flush=True,
            )
        else:
            failed.append(name)
            diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
            print(f"DIFF {name}: first diffs {diff}", flush=True)
    print(f"\n{len(names) - len(failed)} deterministic, {len(failed)} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
