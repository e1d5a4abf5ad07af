"""Metric catalogue and result shaping for the benchmark.

Spark-free on purpose: ``run.py`` imports it before Spark starts, and the
tests next to it check the output shape without a JVM.

``END_TO_END`` metrics are what a user of the engine sees and carry the
bound by which a change may worsen them.  ``PER_LAYER`` metrics come from
the traced run; each names the end-to-end metric and workload it is
expected to move (``moves``), which is the map a later optimisation
states its prediction against.  ``BENCHMARK.json`` mirrors the name, unit,
better and bound fields (a test keeps the two in step).
"""

from __future__ import annotations

import json
import math
import statistics

# The benchmark's workloads (BENCHMARK.json), and why each was chosen.
WORKLOADS = {
    "llm_pipeline": (
        "5 LLM-pipeline registry entries, most firing 13-35 eager Spark jobs "
        "in plan build: driver orchestration dominates; no table-layer calls"
    ),
    "table_lifecycle": (
        "upserts, deletes and compaction on one bucketed primary-key table via "
        "the Table API and format('paimon'), reads after each; no operators"
    ),
}
# Runnable by hand (run.py, steady.py) but left out of BENCHMARK.json: the
# driver's budget of 4 + 22 runs per workload in 3420 s does not fit a
# third workload next to these two (README.md has the arithmetic).
EXTRA_WORKLOADS = {
    "analytics": (
        "12 SQL-shaped registry entries (TPC-H, cube, window, event-time): "
        "execution and parquet reads dominate; the control for llm_pipeline"
    ),
}

# Registry entries each workload runs, one pass in this order.  A run must
# fit the benchmark's budget (JVM start and set-up take ~25 s of each), so
# each workload keeps a subset of the entries the workload was specified
# with; README.md names the rest.  llm_pipeline keeps the entries with the
# most eager plan-build jobs plus two short retrieval entries.  The longest
# entry goes first: the first operation of a pass also pays the JIT and
# worker start-up left after warm-up, which then lands on the maximum and
# not on the median.
LLM_ENTRIES = (
    "dedup_keep_best_in_cluster",
    "graph_pagerank_tokens",
    "text_bm25_topk",
    "knn_ivf_probe",
    "agg_weighted_median",
)
ANALYTICS_ENTRIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_revenue",
    "q6_revenue_forecast",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_orders",
    "agg_cube",
    "window_topn_per_nation",
    "events_sessionization",
    "events_asof_join",
    "events_attribution",
)

# name -> (unit, better, bound)
# Time bounds are the widest allowed: on a shared 4-core VM whole runs
# slow down and speed up together by 10-20% with the host's load.
END_TO_END: dict[str, tuple[str, str, float]] = {
    "setup_s": ("s", "lower", 0.25),
    "wall_s": ("s", "lower", 0.25),
    "op_p50_s": ("s", "lower", 0.25),
    "op_tail_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

_ALL = "all"
_L, _T = "llm_pipeline", "table_lifecycle"

# name -> (unit, better, moves: list of (end-to-end metric, workload))
PER_LAYER: dict[str, tuple[str, str, list[tuple[str, str]]]] = {
    # session (get_spark, tune_session)
    "session.start_s": ("s", "lower", [("setup_s", _ALL)]),
    # sources.testdata (load_table): one schema-inference job per read
    "testdata.load_s": ("s", "lower", [("setup_s", _L), ("wall_s", _L)]),
    "testdata.jobs": ("count", "lower", [("setup_s", _L), ("wall_s", _L)]),
    # catalog (Catalog.create_table)
    "catalog.create_table_s": ("s", "lower", [("setup_s", _T)]),
}
_BUILD = [("wall_s", _L), ("op_p50_s", _L)]
_EXEC = [("wall_s", _L), ("op_tail_s", _L)]
for _n, _u in (
    ("build_s", "s"), ("build_jobs", "count"), ("build_stages", "count"),
    ("build_tasks", "count"), ("build_cpu_s", "s"), ("build_slot_util", "ratio"),
):
    PER_LAYER[f"queries.{_n}"] = (_u, "higher" if _n.endswith("util") else "lower", _BUILD)
for _n, _u in (
    ("exec_s", "s"), ("exec_jobs", "count"), ("exec_stages", "count"),
    ("exec_tasks", "count"), ("exec_cpu_s", "s"), ("exec_run_s", "s"),
    ("exec_gc_s", "s"), ("exec_slot_util", "ratio"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("input_bytes", "bytes"),
):
    PER_LAYER[f"queries.{_n}"] = (_u, "higher" if _n.endswith("util") else "lower", _EXEC)
for _e in LLM_ENTRIES:
    PER_LAYER[f"queries.{_e}.build_jobs"] = ("count", "lower", [("wall_s", _L)])
_COMMIT = [("op_p50_s", _T), ("wall_s", _T)]
_READ = [("op_p50_s", _T), ("op_tail_s", _T)]
_META = [("op_tail_s", _T), ("wall_s", _T)]
for _n, _u, _m in (
    ("commit_s", "s", _COMMIT), ("commit_jobs", "count", _COMMIT),
    ("commit_files_added", "count", _COMMIT), ("bytes_written", "bytes", _COMMIT),
    ("plan_s", "s", _READ), ("files_total", "count", _READ),
    ("files_after_partition_prune", "count", _READ),
    ("files_after_stats_skip", "count", _READ), ("skip_ratio", "ratio", _READ),
    ("read_build_s", "s", _READ), ("read_exec_s", "s", _READ),
    ("read_jobs", "count", _READ), ("read_shuffle_bytes", "bytes", _READ),
    ("compact_s", "s", _META), ("compact_bytes_rewritten", "bytes", _META),
    ("manifest_bytes", "bytes", _META), ("live_files", "count", _META),
):
    PER_LAYER[f"table.{_n}"] = (_u, "higher" if _n == "skip_ratio" else "lower", _m)
for _n, _u in (
    ("write_s", "s"), ("write_jobs", "count"), ("read_build_s", "s"),
    ("read_exec_s", "s"), ("read_jobs", "count"), ("read_shuffle_bytes", "bytes"),
):
    _m = _COMMIT if _n.startswith("write") else _READ
    PER_LAYER[f"datasource.{_n}"] = (_u, "lower", _m)
# table_lifecycle outcome figures; traced values, the untraced ones are on
# the detail line of every table_lifecycle run
for _n, _u, _b in (
    ("api_commit_p50_s", "s", "lower"), ("ds_commit_p50_s", "s", "lower"),
    ("commit_tail_s", "s", "lower"), ("api_read_p50_s", "s", "lower"),
    ("ds_read_p50_s", "s", "lower"), ("read_tail_s", "s", "lower"),
    ("ingest_rows_per_s", "rows/s", "higher"), ("write_amp", "ratio", "lower"),
    ("space_amp", "ratio", "lower"),
):
    PER_LAYER[f"lifecycle.{_n}"] = (_u, _b, [("wall_s", _T)])
# self time per layer inside the timed pass; they add up to trace.wall_s
LAYERS = ("queries", "table", "datasource", "harness")
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.self_s"] = ("s", "lower", [("wall_s", _ALL)])
PER_LAYER["trace.wall_s"] = ("s", "lower", [("wall_s", _ALL)])
PER_LAYER["trace.residual_s"] = ("s", "lower", [("wall_s", _ALL)])
PER_LAYER["trace.overhead_s"] = ("s", "lower", [("wall_s", _ALL)])


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it, and its label.

    Below forty samples that percentile is under p75, too close to the
    median to show a tail, so the maximum is reported (label ``max``).
    """
    xs = sorted(values)
    n = len(xs)
    if n < 40:
        return xs[-1], "max"
    p = math.floor(100 * (1 - 10 / n))
    rank = max(1, math.ceil(p / 100 * n))  # nearest rank
    return xs[rank - 1], f"p{p}"


def p50(values: list[float]) -> float:
    return statistics.median(values)


def result_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, float], trace: bool
) -> str:
    """The benchmark's last stdout line: exactly the contract's four keys."""
    catalogue = PER_LAYER if trace else END_TO_END
    missing = sorted(set(catalogue) - set(metrics))
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    out = {
        name: {"value": float(metrics[name]), "unit": catalogue[name][0]}
        for name in catalogue
    }
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted),
         "failed": int(failed), "metrics": out}
    )


def benchmark_json() -> dict:
    """The ``BENCHMARK.json`` document these definitions imply."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b, _) in PER_LAYER.items()
        ],
    }


# Seconds one run may measure.  Each workload's timed pass is a fixed list
# of operations that takes 15-40 s on a 4-core box; the pass stops issuing
# operations once this many seconds have gone, so a slow machine truncates
# the pass instead of overrunning the run budget.
RUN_SECONDS = 60
