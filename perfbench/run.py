"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 40 --trace 0

One process, one closed-loop client, ``local[<cores>]``.  The run
generates its inputs from ``--seed`` into a fresh directory under
``.perfbench_runs/``, sets up the engine ``SETUP_REPEATS`` times (the
median is ``setup_s``), runs one timed pass, checks every result, stops
Spark and the JVM, removes what it wrote and prints two JSON lines: a
detail line, then the result line (the contract's four keys).  With
``--trace 1`` the metrics are the per-layer ones from spans and Spark
counters; end-to-end numbers come from ``--trace 0`` runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
SCRATCH_DIR = os.path.join(ROOT, ".scratch")  # registry entries' scratch roots


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def launch_env(run_dir: str) -> dict[str, str]:
    """Environment the JVM and its Python workers must start with.

    Python workers import ``paimon_presto_spark`` from inside UDFs, so the
    repository root goes on their ``PYTHONPATH`` whatever the caller's
    directory.  ``get_spark`` sizes ``local[N]`` from ``SPARK_GRAFT_CPUS``;
    without it the session oversubscribes a small box.  Spark's scratch,
    the JVM's temp dir and Python's ``tempfile`` all land in the run's own
    directory inside the checkout.
    """
    tmp = os.path.join(run_dir, "tmp")
    old = os.environ.get("PYTHONPATH")
    return {
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "SPARK_GRAFT_CPUS": str(_cpus()),
        # a fixed-size driver heap (-Xms below) keeps peak RSS from tracking
        # how far the collector happened to grow the heap
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        # the launcher JVM spark-submit starts first; without these it
        # writes its perf data under /tmp
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def clean_scratch(pid: int, before: set[str]) -> tuple[int, int]:
    """Remove the ``.scratch/`` roots this process owns.

    Returns (bytes removed, bytes still under roots created during the run).
    """
    removed = left = 0
    if not os.path.isdir(SCRATCH_DIR):
        return 0, 0
    for name in os.listdir(SCRATCH_DIR):
        full = os.path.join(SCRATCH_DIR, name)
        try:
            with open(os.path.join(full, "_owner.pid")) as fh:
                owner = int(fh.read().strip())
        except (OSError, ValueError):
            owner = None
        if owner == pid:
            removed += _tree_bytes(full)
            shutil.rmtree(full, ignore_errors=True)
        elif name not in before:
            left += _tree_bytes(full)
    return removed, left


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(ctx) -> None:
    """Stop the SparkContext, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    ctx.stop_session()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, run_dir: str) -> tuple[dict, dict, bool, int, int]:
    from metrics import p50, tail
    from spans import Tracer
    from workloads import DATA_SEED, DATA_SF, SETUP_REPEATS, WORKLOAD_CLASSES, Context
    import datagen
    import layers

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(run_dir, args.seed, args.seconds, tracer)
    workload = WORKLOAD_CLASSES[args.workload]()
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    t0 = time.perf_counter()
    if args.workload != "table_lifecycle":
        detail["input_bytes"] = datagen.write(
            ctx.data_dir, DATA_SEED, DATA_SF, row_order_seed=args.seed
        )
    detail["inputs_s"] = time.perf_counter() - t0
    try:
        setups = []
        for _ in range(SETUP_REPEATS):
            ctx.stop_session()
            with tracer.span("harness.setup") as sp:
                workload.setup(ctx)
            setups.append(sp.seconds)
        t0 = time.perf_counter()
        workload.warm_up(ctx)
        detail["warm_up_s"] = time.perf_counter() - t0
        tracer.overhead_s = 0.0
        t0 = time.perf_counter()
        outcome = workload.run(ctx)
        detail["pass_and_check_s"] = time.perf_counter() - t0
        jvm = _jvm_pid()
        rss_mb = (_hwm_kb("self") + (_hwm_kb(jvm) if jvm else 0)) / 1024
    finally:
        stop_spark(ctx)
    ok = [o for o in outcome.ops if o.ok]
    attempted = max(1, len(outcome.ops))
    failed = min(attempted, len(outcome.ops) - len(ok) + outcome.unattributed)
    lat = [o.seconds for o in ok] or [0.0]
    tail_s, tail_label = tail(lat)
    detail.update(
        setup_runs_s=setups, ops=len(outcome.ops), tail=tail_label, tail_n=len(lat),
        fail_frac=failed / attempted, truncated=outcome.truncated,
        problems=outcome.problems[:20], **outcome.extra,
        op_s=[[o.kind, o.name, round(o.seconds, 4)] for o in outcome.ops],
        **layers.lifecycle(outcome.ops),
    )
    correct = not outcome.problems
    if args.trace:
        metrics = layers.per_layer(tracer, outcome, _cpus())
        detail["spans"] = layers.span_rows(tracer, outcome.pass_span)
    else:
        metrics = {
            "setup_s": p50(setups),
            "wall_s": outcome.wall_s,
            "op_p50_s": p50(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": rss_mb,
        }
    return detail, metrics, correct, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "paimon_presto_spark")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from metrics import EXTRA_WORKLOADS, WORKLOADS, result_line

    if args.workload not in WORKLOADS and args.workload not in EXTRA_WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = launch_env(run_dir)
    os.environ.update(env)
    scratch_before = set(os.listdir(SCRATCH_DIR)) if os.path.isdir(SCRATCH_DIR) else set()
    try:
        detail, metrics, correct, attempted, failed = measure(args, run_dir)
    finally:
        removed, left = clean_scratch(os.getpid(), scratch_before)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)  # only when no other run is using it
        except OSError:
            pass
    detail.update(
        env={k: env[k] for k in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        scratch_removed_bytes=removed, scratch_left_bytes=left,
    )
    print(json.dumps({"detail": detail}))
    print(result_line(correct, attempted, failed, metrics, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
