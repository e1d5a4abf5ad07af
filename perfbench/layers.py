"""Per-layer metrics from a traced run's spans (Spark-free).

Span names are ``<layer>.<call>``; the layers follow the engine's
modules: ``session``, ``testdata`` (``sources.testdata``), ``catalog``,
``queries`` (registry entry = plan build, including the operators' eager
jobs; the final ``collect()`` = exec), ``table`` and ``datasource``
(``sources.datasource``).  ``harness`` is the benchmark's own code.
``operators`` cannot be told apart from ``queries`` from outside: an
operator runs inside the registry entry that calls it.
"""

from __future__ import annotations

import statistics

from metrics import LLM_ENTRIES, PER_LAYER, LAYERS, p50, tail


def lifecycle(ops) -> dict[str, float]:
    """table_lifecycle outcome figures from the timed operations."""
    by = {}
    for o in ops:
        if o.ok:
            by.setdefault(o.kind, []).append(o.seconds)
    if "api_commit" not in by and "ds_commit" not in by:
        return {}
    commits = by.get("api_commit", []) + by.get("ds_commit", [])
    reads = by.get("api_read", []) + by.get("ds_read", [])
    return {
        "api_commit_p50_s": p50(by.get("api_commit", [0.0])),
        "ds_commit_p50_s": p50(by.get("ds_commit", [0.0])),
        "commit_tail_s": tail(commits)[0],
        "commit_tail": f"{tail(commits)[1]} of {len(commits)}",
        "api_read_p50_s": p50(by.get("api_read", [0.0])),
        "ds_read_p50_s": p50(by.get("ds_read", [0.0])),
        "read_tail_s": tail(reads)[0],
        "read_tail": f"{tail(reads)[1]} of {len(reads)}",
    }


def _sum(spans, key: str | None = None, attr: str | None = None) -> float:
    if attr is not None:
        return float(sum(s.attrs.get(attr, 0) for s in spans))
    if key is not None:
        return float(sum(s.counters.get(key, 0.0) for s in spans))
    return float(sum(s.seconds for s in spans))


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(tracer, outcome, cpus: int) -> dict[str, float]:
    """Every ``PER_LAYER`` metric; 0 for layers the workload never calls."""
    m: dict[str, float] = {}
    find = tracer.find
    m["session.start_s"] = _median(s.seconds for s in find("session.start"))
    loads = find("testdata.load")
    m["testdata.load_s"] = _median(s.seconds for s in loads)
    m["testdata.jobs"] = _median(s.counters.get("jobs", 0.0) for s in loads)
    m["catalog.create_table_s"] = _median(
        s.seconds for s in find("catalog.create_table")
    )

    build, exe = find("queries.build"), find("queries.exec")
    for prefix, spans in (("build", build), ("exec", exe)):
        secs = _sum(spans)
        m[f"queries.{prefix}_s"] = secs
        for k in ("jobs", "stages", "tasks"):
            m[f"queries.{prefix}_{k}"] = _sum(spans, k)
        m[f"queries.{prefix}_cpu_s"] = _sum(spans, "cpu_s")
        m[f"queries.{prefix}_slot_util"] = (
            _sum(spans, "run_s") / (secs * cpus) if secs else 0.0
        )
    m["queries.exec_run_s"] = _sum(exe, "run_s")
    m["queries.exec_gc_s"] = _sum(exe, "gc_s")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"queries.{k}"] = _sum(exe, k)
    for entry in LLM_ENTRIES:
        m[f"queries.{entry}.build_jobs"] = _sum(
            [s for s in build if s.attrs.get("entry") == entry], "jobs"
        )

    commits = find("table.commit")
    m["table.commit_s"] = _sum(commits)
    m["table.commit_jobs"] = _sum(commits, "jobs")
    m["table.commit_files_added"] = _sum(commits, attr="files_added")
    m["table.bytes_written"] = _sum(commits, attr="bytes_written")
    plans = find("table.plan")
    m["table.plan_s"] = _sum(plans)
    m["table.files_total"] = _sum(plans, attr="total_files")
    m["table.files_after_partition_prune"] = _sum(plans, attr="after_partition_prune")
    m["table.files_after_stats_skip"] = _sum(plans, attr="after_stats_skip")
    total = m["table.files_total"]
    m["table.skip_ratio"] = (
        (total - m["table.files_after_stats_skip"]) / total if total else 0.0
    )
    compacts = find("table.compact")
    m["table.compact_s"] = _sum(compacts)
    m["table.compact_bytes_rewritten"] = _sum(compacts, attr="bytes_written")
    m["table.manifest_bytes"] = float(outcome.extra.get("manifest_bytes", 0))
    m["table.live_files"] = float(outcome.extra.get("live_files", 0))
    for layer in ("table", "datasource"):
        rb, rx = find(f"{layer}.read_build"), find(f"{layer}.read_exec")
        m[f"{layer}.read_build_s"] = _sum(rb)
        m[f"{layer}.read_exec_s"] = _sum(rx)
        m[f"{layer}.read_jobs"] = _sum(rb, "jobs") + _sum(rx, "jobs")
        m[f"{layer}.read_shuffle_bytes"] = _sum(rx, "shuffle_read_bytes")
    writes = find("datasource.write")
    m["datasource.write_s"] = _sum(writes)
    m["datasource.write_jobs"] = _sum(writes, "jobs")

    life = lifecycle(outcome.ops)
    for name in PER_LAYER:
        if name.startswith("lifecycle."):
            key = name.split(".", 1)[1]
            m[name] = float(life.get(key, outcome.extra.get(key, 0.0)))

    root = outcome.pass_span
    selfs = tracer.self_times(root)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["trace.wall_s"] = root.seconds
    m["trace.residual_s"] = root.seconds - sum(
        v for k, v in selfs.items() if k != "harness"
    )
    m["trace.overhead_s"] = tracer.overhead_s
    return m


def span_rows(tracer, root) -> list[list]:
    """Every span as [name, op, parent index, start, end, jobs], times in
    seconds from the start of the timed pass."""
    return [
        [s.name, s.op, s.parent, round(s.start - root.start, 4),
         round(s.end - root.start, 4), s.counters.get("jobs", 0)]
        for s in tracer.spans
    ]
