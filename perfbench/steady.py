"""Repeat a workload and report how steady each metric is.

Usage (from the repository root)::

    python3 perfbench/steady.py --workload llm_pipeline --runs 10
    python3 perfbench/steady.py --workload table_lifecycle --runs 3 --trace both

Each run is a fresh ``run.py`` process with its own seed (``--first-seed``,
``--first-seed + 1``, ...).  For every metric it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``), the spread (quartile
distance over median) against the metric's bound, and, for counts and
bytes, whether the value repeated exactly on every run; only exact
counters may back a count-based claim.  With ``--trace both`` each seed
runs untraced and traced, and the tracing overhead (median traced
``trace.wall_s`` minus median untraced ``wall_s``) is printed as well.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, RUN_SECONDS  # noqa: E402

EXACT_UNITS = {"count", "bytes"}


def one_run(workload: str, seed: int, trace: int, seconds: int) -> tuple[dict, dict]:
    """(result line, detail line) of one fresh ``run.py`` process."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    detail = json.loads(lines[-2])["detail"]
    detail["run_s"] = time.perf_counter() - t0
    return json.loads(lines[-1]), detail


def summarize(runs: list[dict], trace: bool) -> list[dict]:
    """One row per metric: median, quartiles, spread, bound, exactness."""
    catalogue = PER_LAYER if trace else END_TO_END
    rows = []
    for name, spec in catalogue.items():
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        if len(values) >= 2:
            q1, _, q3 = statistics.quantiles(values, n=4)
        else:
            q1 = q3 = med
        row = {
            "metric": name, "unit": spec[0], "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        }
        if not trace:
            row["bound"] = spec[2]
            row["within_third"] = row["spread"] < spec[2] / 3
        if spec[0] in EXACT_UNITS:
            row["exact"] = len(set(values)) == 1
        rows.append(row)
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args(argv)
    modes = (0, 1) if args.trace == "both" else (int(args.trace),)
    results: dict[int, list[dict]] = {m: [] for m in modes}
    for i in range(args.runs):
        for m in modes:
            res, detail = one_run(args.workload, args.first_seed + i, m, args.seconds)
            results[m].append(res)
            print(json.dumps({
                "seed": args.first_seed + i, "trace": m, "correct": res["correct"],
                "failed": res["failed"], "run_s": round(detail["run_s"], 1),
                "truncated": detail["truncated"], "problems": detail["problems"],
            }), file=sys.stderr, flush=True)
    report = {"workload": args.workload, "runs": args.runs}
    for m in modes:
        runs = results[m]
        report["trace" if m else "end_to_end"] = summarize(runs, bool(m))
        report["all_correct" if not m else "all_correct_traced"] = all(
            r["correct"] and r["failed"] == 0 for r in runs
        )
    if len(modes) == 2:
        untraced = statistics.median(
            r["metrics"]["wall_s"]["value"] for r in results[0]
        )
        traced = statistics.median(
            r["metrics"]["trace.wall_s"]["value"] for r in results[1]
        )
        report["tracing_overhead_s"] = traced - untraced
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
