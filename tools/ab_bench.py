"""Alternating parent/change pairs of the benchmark.

    python tools/ab_bench.py REV --workload corpus_dedup_ann --pairs 10 \\
        [--change REV2] [--trace 0] [--out pairs.json]

Exports REV with ``git archive`` into a temporary directory and runs
``perfbench/run.py`` there (the parent) and in this checkout (the
change; ``--change REV2`` exports that revision instead, so both sides
run from fresh directories), alternating which side goes first; both
sides of pair ``i`` use seed ``i + 1``. Each run is one fresh process of
``run_seconds`` (``BENCHMARK.json``), as the benchmark runs it.

For each metric of the run (``end_to_end`` of ``BENCHMARK.json``, or
``per_layer`` with ``--trace 1``) it prints the median and quartiles of
each side, the change/parent median ratio, the pairs the change won (a
tie wins nothing) and whether the medians differ by more than the
parent's interquartile range. Every pair is listed with the host steal
seconds of each side's passes (``host_steal_s_per_pass``, summed), so a
pair that straddles a busy host shows; no pair is dropped. The bounds in
``BENCHMARK.json`` stay the verdict: this tool only reports against them.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs: "list[float]") -> "tuple[float, float, float]":
    """(q1, median, q3), with quartiles interpolated between the data
    points (``statistics.quantiles``' inclusive method)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: "list[tuple[dict, dict]]", metrics: "list[dict]") -> "list[dict]":
    """One row per metric from ``pairs`` of (parent, change) metric values
    (``{name: value}``); ``metrics`` are BENCHMARK.json entries with
    ``name`` and ``better``."""
    rows = []
    for m in metrics:
        name, sign = m["name"], 1 if m["better"] == "higher" else -1
        got = [(p[name], c[name]) for p, c in pairs if name in p and name in c]
        if not got:
            continue
        p_q, c_q = quartiles([p for p, _ in got]), quartiles([c for _, c in got])
        delta = c_q[1] - p_q[1]
        rows.append({
            "metric": name,
            "better": m["better"],
            "parent": p_q,
            "change": c_q,
            "ratio": c_q[1] / p_q[1] if p_q[1] else None,
            "wins": sum(sign * (c - p) > 0 for p, c in got),
            "pairs": len(got),
            # the medians differ by more than the parent's spread, and
            # the change's median is the better one
            "gain_beyond_iqr": sign * delta > 0 and abs(delta) > p_q[2] - p_q[0],
        })
    return rows


def steal_s(record: dict) -> float:
    return sum(record["run_record"]["host_steal_s_per_pass"])


def run_side(checkout: str, args, seconds: float, seed: int) -> dict:
    """One ``perfbench/run.py`` process in ``checkout``: its run record
    and result line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(args.trace),
    ]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode or len(lines) < 2:
        raise RuntimeError(f"{cmd} in {checkout} failed:\n{proc.stderr[-2000:]}")
    return {**json.loads(lines[-2]), **json.loads(lines[-1])}


def export(rev: str, dest: str) -> None:
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", rev],
        check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")


def fmt(q: "tuple[float, float, float]") -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", help="the parent revision, e.g. HEAD~1")
    ap.add_argument(
        "--change", help="a revision to run as the change instead of this checkout"
    )
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's record here as JSON")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["per_layer" if args.trace else "end_to_end"]
    parent_dir = tempfile.mkdtemp(prefix="ab_bench_")
    change_dir = tempfile.mkdtemp(prefix="ab_bench_") if args.change else ROOT
    runs = []
    try:
        export(args.rev, parent_dir)
        if args.change:
            export(args.change, change_dir)
        for i in range(args.pairs):
            seed = i + 1
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            got = {
                side: run_side(
                    parent_dir if side == "parent" else change_dir,
                    args, spec["run_seconds"], seed,
                )
                for side in order
            }
            runs.append({"seed": seed, "order": order, **got})
            vals = {
                s: {k: v["value"] for k, v in got[s]["metrics"].items()}
                for s in got
            }
            head = ", ".join(
                f"{k} {vals['parent'][k]:.4g}->{vals['change'][k]:.4g}"
                for k in vals["parent"]
            )
            print(
                f"pair {seed} ({order[0]} first) steal "
                f"{steal_s(got['parent']):.1f}/{steal_s(got['change']):.1f} s: "
                f"{head}",
                flush=True,
            )
    finally:
        shutil.rmtree(parent_dir, ignore_errors=True)
        if args.change:
            shutil.rmtree(change_dir, ignore_errors=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)

    pairs = [
        tuple(
            {k: v["value"] for k, v in r[s]["metrics"].items()}
            for s in ("parent", "change")
        )
        for r in runs
    ]
    failed = sum(r[s]["failed"] for r in runs for s in ("parent", "change"))
    change = args.change or "this checkout"
    print(f"{args.workload}: {len(runs)} pairs, {change} vs {args.rev}, "
          f"failed ops {failed}")
    print("metric | parent median [q1, q3] | change median [q1, q3] | ratio "
          "| won | beyond parent IQR")
    for r in summarize(pairs, metrics):
        ratio = f"{r['ratio']:.3f}" if r["ratio"] is not None else "-"
        print(
            f"{r['metric']} ({r['better']}) | {fmt(r['parent'])} | "
            f"{fmt(r['change'])} | {ratio} | {r['wins']}/{r['pairs']} | "
            f"{'yes' if r['gain_beyond_iqr'] else 'no'}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
