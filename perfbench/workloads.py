"""The workloads: set-up, warm-up, timed pass and correctness check.

Every workload is one closed-loop client: each operation starts only
after the previous one returned.  A pass is a fixed list of operations
over inputs made from the seed; it stops issuing operations once the
run's seconds are used up (a slow machine truncates the pass rather than
overrunning the run).

Spans are recorded at calls into the engine's public functions only;
nothing inside ``paimon_presto_spark`` is instrumented.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

from metrics import ANALYTICS_ENTRIES, LLM_ENTRIES
from spans import Span, Tracer

SETUP_REPEATS = 3
# Registry inputs hold the same rows for every seed, so each result can be
# checked against a fingerprint recorded once (record.py, which also
# cross-checks every entry against its DuckDB oracle).  The seed permutes
# the rows' physical order in the files.  Entries run in a fixed order:
# the first operations of a pass pay one-off JIT and worker start-up costs
# of several seconds, and a seeded order moved that cost between entries.
DATA_SEED = 42
FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")
ANALYTICS_INPUTS = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events",
)
DATA_SF = 0.1  # registry input scale: 600,000 lineitem rows, 17 MB


@dataclass
class Op:
    kind: str  # "entry", "api_commit", "ds_commit", "api_read", "ds_read", "compact"
    seconds: float
    ok: bool = True
    name: str = ""


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    problems: list[str] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)
    truncated: bool = False
    pass_span: Span | None = None  # the timed pass, for self times
    unattributed: int = 0  # failed checks that belong to no single operation

    def fail(self, msg: str, op: Op | None = None) -> None:
        """Record a failure; it counts against ``op`` when one is given."""
        self.problems.append(msg)
        if op is None:
            self.unattributed += 1
        else:
            op.ok = False


class Context:
    """What a workload needs: paths, seed, tracer and the live session."""

    def __init__(self, run_dir: str, seed: int, seconds: float, tracer: Tracer):
        self.run_dir = run_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.data_dir = os.path.join(run_dir, "data")
        self.spark = None

    def start_session(self):
        from paimon_presto_spark.session import get_spark, tune_session
        from paimon_presto_spark.sources import register_datasource

        with self.tracer.span("session.start"):
            spark = get_spark("perfbench")
            tune_session(spark)
            register_datasource(spark)
        self.spark = spark
        self.tracer.attach(spark)
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def touch_inputs(self, names: tuple[str, ...]) -> None:
        """Resolve each input once (one schema-inference job each)."""
        from paimon_presto_spark.sources.testdata import load_table

        with self.tracer.span("testdata.load"):
            for name in names:
                load_table(self.spark, self.data_dir, name).schema

    def warm_up(self) -> None:
        """One shuffle, one join and one Python UDF: starts the executor
        threads, the Python worker daemon and the codegen paths every
        operation then reuses."""
        from pyspark.sql import functions as F

        spark = self.spark
        plus = F.pandas_udf(lambda s: s + 1, "long")
        agg = spark.range(100_000).select((F.col("id") % 97).alias("k"), "id")
        agg = agg.groupBy("k").agg(F.sum("id").alias("s"))
        agg.join(spark.range(97).withColumnRenamed("id", "k"), "k").select(
            plus("s")
        ).collect()


def _deadline(ctx: Context) -> float:
    return time.perf_counter() + ctx.seconds


# -- registry workloads (analytics, llm_pipeline) ---------------------------


class RegistryWorkload:
    """One pass over registry entries in a fixed order, one collect each."""

    def __init__(self, entries: tuple[str, ...], inputs: tuple[str, ...]):
        self.entries = entries
        self.inputs = inputs  # the registry tables these entries read

    def setup(self, ctx: Context) -> None:
        ctx.start_session()
        ctx.touch_inputs(self.inputs)

    def warm_up(self, ctx: Context) -> None:
        ctx.warm_up()

    def run(self, ctx: Context) -> Outcome:
        from paimon_presto_spark.queries import queries

        fns = queries()
        spark, tr, out = ctx.spark, ctx.tracer, Outcome()
        results: dict[str, tuple] = {}
        op_of: dict[str, Op] = {}
        deadline = _deadline(ctx)
        with tr.span("harness.pass") as pass_span:
            for name in self.entries:
                if time.perf_counter() > deadline:
                    out.truncated = True
                    break
                op = tr.new_op()
                try:
                    with tr.span("harness.op", op) as sp:
                        with tr.span("queries.build", op) as b:
                            df = fns[name](spark, ctx.data_dir)
                        with tr.span("queries.exec", op):
                            rows = df.collect()
                    b.attrs["entry"] = name
                    results[name] = (df.columns, dict(df.dtypes), rows)
                    out.ops.append(Op("entry", sp.seconds, name=name))
                    op_of[name] = out.ops[-1]
                except Exception as exc:  # a failed entry is counted, not fatal
                    out.ops.append(Op("entry", 0.0, name=name))
                    out.fail(f"{name}: {type(exc).__name__}: {exc}"[:300], out.ops[-1])
                spark.catalog.clearCache()
        out.wall_s = pass_span.seconds
        out.pass_span = pass_span
        _check_fingerprints(results, op_of, out)
        return out


def fingerprint(columns, dtypes: dict, rows) -> dict:
    """Row count plus an order-insensitive hash of the values.

    Uses the correctness gate's own normalisation
    (``tools/check_correctness._canon``): columns sorted by name, rows
    sorted, each cell normalised the way the gate compares it.
    """
    from tools.check_correctness import _canon

    dates = frozenset(c for c in columns if dtypes.get(c) == "date")
    cols, data = _canon(list(columns), [tuple(r) for r in rows], dates)
    digest = hashlib.sha256(repr(data).encode()).hexdigest()
    return {"columns": cols, "rows": len(data), "sha256": digest}


def load_fingerprints() -> dict:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)


def _check_fingerprints(results: dict, op_of: dict[str, Op], out: Outcome) -> None:
    want = load_fingerprints()
    for name, (cols, dtypes, rows) in results.items():
        if fingerprint(cols, dtypes, rows) != want.get(name):
            out.fail(f"{name}: result differs from its recorded fingerprint", op_of[name])


# -- table_lifecycle ----------------------------------------------------------

TABLE_DDL = "k BIGINT, cust BIGINT, status STRING, price BIGINT, day INT"
BASE_ROWS = 40_000
# an even batch count gives both front ends the same number of batches
BATCHES = 2
BATCH_UPDATES, BATCH_NEW, BATCH_DELETES = 3_200, 600, 200
COMPACT_EVERY = 1  # batches
STATUSES = np.array(["F", "O", "P"])


def _rows(rng, keys: np.ndarray) -> dict[str, np.ndarray]:
    n = len(keys)
    return {
        "k": keys.astype(np.int64),
        "cust": rng.integers(0, 15_000, n, dtype=np.int64),
        "status": STATUSES[rng.integers(0, 3, n)],
        "price": rng.integers(100_00, 500_000_00, n, dtype=np.int64),
        "day": rng.integers(9_000, 11_500, n).astype(np.int32),
    }


def _arrow(cols: dict[str, np.ndarray]):
    import pyarrow as pa

    return pa.table(
        {
            "k": pa.array(cols["k"], pa.int64()),
            "cust": pa.array(cols["cust"], pa.int64()),
            "status": pa.array(cols["status"].astype(str)),
            "price": pa.array(cols["price"], pa.int64()),
            "day": pa.array(cols["day"], pa.int32()),
        }
    )


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            out[p] = os.path.getsize(p)
    return out


def batches(seed: int, base_rows: int, n: int, updates: int, new: int, deletes: int):
    """Seeded batches: updates of live keys, new keys and deletes, plus the
    key each batch's point lookup probes and a pick for its time travel."""
    rng = np.random.default_rng(seed + 1)
    live = set(range(base_rows))
    next_key = base_rows
    out = []
    for _ in range(n):
        pool = np.fromiter(live, np.int64)
        picked = rng.choice(pool, updates + deletes, replace=False)
        upd, dele = picked[:updates], picked[updates:]
        fresh = np.arange(next_key, next_key + new)
        next_key += new
        ups = _rows(rng, np.concatenate([upd, fresh]))
        dels = _rows(rng, dele)
        live |= set(fresh.tolist())
        live -= set(dele.tolist())
        probe = int(rng.choice(np.concatenate([upd[:5], fresh[:5], dele[:5]])))
        out.append((ups, dels, probe, int(rng.integers(0, 1 << 30))))
    return out


class Reference:
    """Independent last-write-wins model of the table's live rows."""

    def __init__(self):
        self.rows: dict[int, tuple] = {}
        self.by_snapshot: dict[int, tuple[int, int, int]] = {}

    def apply(self, cols: dict[str, np.ndarray], delete: bool) -> None:
        if delete:
            for k in cols["k"].tolist():
                self.rows.pop(k, None)
            return
        for k, c, s, p, d in zip(
            cols["k"].tolist(), cols["cust"].tolist(), cols["status"].tolist(),
            cols["price"].tolist(), cols["day"].tolist(),
        ):
            self.rows[k] = (c, s, p, d)

    def aggregate(self) -> tuple[int, int, int]:
        """(live rows, sum of price, sum of cust): what the full read returns."""
        vals = list(self.rows.values())
        return (len(vals), sum(v[2] for v in vals), sum(v[0] for v in vals))

    def live_bytes(self) -> int:
        keys = list(self.rows)
        vals = [self.rows[k] for k in keys]
        return _arrow(
            {
                "k": np.array(keys, np.int64),
                "cust": np.array([v[0] for v in vals], np.int64),
                "status": np.array([v[1] for v in vals]),
                "price": np.array([v[2] for v in vals], np.int64),
                "day": np.array([v[3] for v in vals], np.int32),
            }
        ).nbytes


class Lifecycle:
    """One table under test: its commits, reads, checks and byte accounting.

    User bytes are the Arrow in-memory size of the committed rows; bytes
    written are the sizes of the files each commit or compaction created
    under the table directory.
    """

    def __init__(self, ctx: Context, table, out: Outcome):
        self.ctx, self.t, self.out = ctx, table, out
        self.ref = Reference()
        self.files = _dir_files(table.path)
        self.written = {"bytes": 0, "user_bytes": 0, "rows": 0, "compact_bytes": 0}

    def snapshot_id(self) -> int:
        return self.t.snapshot().snapshot_id

    def _wrote(self, span, compact: bool) -> None:
        now = _dir_files(self.t.path)
        new = {p: s for p, s in now.items() if p not in self.files}
        self.files = now
        n = sum(new.values())
        self.written["bytes"] += n
        if compact:
            self.written["compact_bytes"] += n
        span.attrs["bytes_written"] = n
        span.attrs["files_added"] = sum(p.endswith(".parquet") for p in new)

    def commit(self, api: bool, df, cols, delete: bool) -> None:
        tr, t, out = self.ctx.tracer, self.t, self.out
        kind = "api_commit" if api else "ds_commit"
        label = "delete" if delete else "upsert"
        op = tr.new_op()
        try:
            with tr.span("harness.op", op) as sp:
                with tr.span("table.commit" if api else "datasource.write", op) as c:
                    if api:
                        (t.delete if delete else t.upsert)(df)
                    else:
                        w = df.write.format("paimon").option("path", t.path)
                        if delete:
                            w = w.option("rowkind", "D")
                        w.mode("append").save()
        except Exception as exc:
            out.ops.append(Op(kind, 0.0, name=label))
            out.fail(f"{kind} {label}: {type(exc).__name__}: {exc}"[:300], out.ops[-1])
            return
        out.ops.append(Op(kind, sp.seconds, name=label))
        self._wrote(c, compact=False)
        self.written["rows"] += len(cols["k"])
        self.written["user_bytes"] += _arrow(cols).nbytes
        self.ref.apply(cols, delete)
        self.ref.by_snapshot[self.snapshot_id()] = self.ref.aggregate()

    def compact(self) -> None:
        tr, out = self.ctx.tracer, self.out
        op = tr.new_op()
        try:
            with tr.span("harness.op", op) as sp:
                with tr.span("table.compact", op) as c:
                    self.t.compact()
        except Exception as exc:
            out.ops.append(Op("compact", 0.0, name="compact"))
            out.fail(f"compact: {type(exc).__name__}: {exc}"[:300], out.ops[-1])
            return
        out.ops.append(Op("compact", sp.seconds, name="compact"))
        self._wrote(c, compact=True)
        self.ref.by_snapshot[self.snapshot_id()] = self.ref.aggregate()

    def read(self, api: bool, build, label: str):
        """One timed read: build the DataFrame, collect it.

        Returns (rows, op); rows is None when the read raised."""
        tr, out = self.ctx.tracer, self.out
        kind, layer = ("api_read", "table") if api else ("ds_read", "datasource")
        op = tr.new_op()
        try:
            with tr.span("harness.op", op) as sp:
                with tr.span(f"{layer}.read_build", op):
                    df = build()
                with tr.span(f"{layer}.read_exec", op):
                    rows = df.collect()
        except Exception as exc:
            out.ops.append(Op(kind, 0.0, name=label))
            out.fail(f"{kind} {label}: {type(exc).__name__}: {exc}"[:300], out.ops[-1])
            return None, out.ops[-1]
        out.ops.append(Op(kind, sp.seconds, name=label))
        return rows, out.ops[-1]

    def cycle(self, api: bool, batch, frames, compact: bool) -> None:
        """Commit one batch through one front end, then read it back through
        both: merged full aggregate, point lookup, time travel to an earlier
        snapshot, and (Table API only) the incremental read of the batch."""
        from pyspark.sql import functions as F

        from paimon_presto_spark.plans.predicate import P

        spark, t, ref, tr = self.ctx.spark, self.t, self.ref, self.ctx.tracer
        ups, dels, probe, pick = batch
        before = self.snapshot_id()
        self.commit(api, frames[0], ups, delete=False)
        self.commit(api, frames[1], dels, delete=True)
        sids = sorted(ref.by_snapshot)
        travel = sids[pick % (len(sids) - 1)]  # never the latest

        def agg(df):
            return df.agg(
                F.count(F.lit(1)).alias("n"), F.sum("price").alias("p"),
                F.sum("cust").alias("c"),
            )

        def ds(**opts):
            reader = spark.read.format("paimon").option("path", t.path)
            for k, v in opts.items():
                reader = reader.option(k, v)
            return reader.load()

        got = {
            "api_full": self.read(True, lambda: agg(t.to_df()), "full"),
            "ds_full": self.read(False, lambda: agg(ds()), "full"),
        }
        if tr.enabled:
            # planning alone, for the pruning counters; traced runs only
            with tr.span("table.plan") as sp:
                scan = t.scan(predicate=P.eq("k", probe))
                scan.plan_files()
            sp.attrs.update(scan.last_plan)
        got["api_point"] = self.read(
            True, lambda: t.scan(predicate=P.eq("k", probe)).to_df(), "point"
        )
        got["ds_point"] = self.read(
            False, lambda: ds().filter(F.col("k") == probe), "point"
        )
        got["api_travel"] = self.read(
            True, lambda: agg(t.to_df(snapshot_id=travel)), "travel"
        )
        got["ds_travel"] = self.read(
            False, lambda: agg(ds(snapshot=str(travel))), "travel"
        )
        got["api_incr"] = self.read(
            True, lambda: t.incremental_df(before).groupBy("rowkind").count(),
            "incremental",
        )
        want = ref.aggregate()
        if compact:
            self.compact()
        self.check(got, want, travel, probe, len(ups["k"]), len(dels["k"]))

    def check(self, got, want, travel, probe, n_up, n_del) -> None:
        """Each read of this cycle against the reference; a wrong result
        fails its read.  The two front ends agree when both match."""
        ref, out = self.ref, self.out

        def agg(rows):
            r = rows[0]
            return (int(r["n"]), int(r["p"] or 0), int(r["c"] or 0))

        def expect(key: str, test, what: str) -> None:
            rows, op = got[key]
            if rows is not None and not test(rows):
                out.fail(f"snapshot {self.snapshot_id()}: {key} {what}", op)

        was = ref.by_snapshot[travel]
        row = ref.rows.get(probe)
        kinds = ("+I", n_up), ("-D", n_del)
        for side in ("api", "ds"):
            expect(f"{side}_full", lambda r: agg(r) == want, "!= reference")
            expect(f"{side}_travel", lambda r: agg(r) == was,
                   f"of snapshot {travel} != reference")
            expect(f"{side}_point",
                   lambda r: [(x["cust"], x["status"], x["price"], x["day"]) for x in r]
                   == ([row] if row else []),
                   f"of key {probe} != reference")
        expect("api_incr",
               lambda r: all({x["rowkind"]: x["count"] for x in r}.get(k, 0) == n
                             for k, n in kinds),
               f"!= {n_up} upserts and {n_del} deletes")

    def check_final(self) -> None:
        """The whole final state, through both front ends, against the reference."""
        cols = ["k", "cust", "status", "price", "day"]
        want = sorted((k, *v) for k, v in self.ref.rows.items())
        api = sorted(tuple(r) for r in self.t.to_df().select(*cols).collect())
        ds = sorted(
            tuple(r)
            for r in self.ctx.spark.read.format("paimon").option("path", self.t.path)
            .load().select(*cols).collect()
        )
        if api != want:
            self.out.fail("final Table API state != last-write-wins reference")
        if ds != want:
            self.out.fail("final DataSource state != last-write-wins reference")


class TableLifecycle:
    """Seeded commits on one bucketed primary-key table, with reads after each."""

    def _create(self, ctx: Context, name: str, base_rows: int, seed: int):
        from paimon_presto_spark.catalog import Catalog

        spark = ctx.spark
        with ctx.tracer.span("catalog.create_table"):
            catalog = Catalog(spark, os.path.join(ctx.run_dir, name))
            catalog.create_database("bench")
            table = catalog.create_table(
                "bench", "orders", TABLE_DDL, primary_keys=["k"],
                options={"bucket": "4"},
            )
        base = _rows(np.random.default_rng(seed), np.arange(base_rows))
        with ctx.tracer.span("table.bulk_load"):
            table.upsert(spark.createDataFrame(_arrow(base).to_pandas()))
        return table, base

    def setup(self, ctx: Context) -> None:
        ctx.start_session()
        self.table, self.base = self._create(
            ctx, f"warehouse-{time.perf_counter_ns()}", BASE_ROWS, ctx.seed
        )

    def warm_up(self, ctx: Context) -> None:
        """The first DataSource write and read start Python workers that
        import the engine, and the first merge-on-read and compaction
        compile their plans; one DataSource commit, one full read per front
        end and one compaction on a small throwaway table pay that,
        untraced, before the timed pass."""
        from pyspark.sql import functions as F

        enabled, ctx.tracer.enabled = ctx.tracer.enabled, False
        try:
            table, _ = self._create(ctx, "warm-up", 1_000, ctx.seed)
            life = Lifecycle(ctx, table, Outcome())
            b = batches(ctx.seed, 1_000, 1, 80, 15, 5)[0]
            life.commit(False, self._frames(ctx, b)[0], b[0], delete=False)
            ds = ctx.spark.read.format("paimon").option("path", table.path)
            life.read(True, lambda: table.to_df().agg(F.count(F.lit(1))), "full")
            life.read(False, lambda: ds.load().agg(F.count(F.lit(1))), "full")
            life.compact()
        finally:
            ctx.tracer.enabled = enabled

    @staticmethod
    def _frames(ctx: Context, batch):
        ups, dels, _, _ = batch
        return (ctx.spark.createDataFrame(_arrow(ups).to_pandas()),
                ctx.spark.createDataFrame(_arrow(dels).to_pandas()))

    def run(self, ctx: Context) -> Outcome:
        out = Outcome()
        life = Lifecycle(ctx, self.table, out)
        life.ref.apply(self.base, delete=False)
        life.ref.by_snapshot[life.snapshot_id()] = life.ref.aggregate()
        work = batches(ctx.seed, BASE_ROWS, BATCHES, BATCH_UPDATES, BATCH_NEW,
                       BATCH_DELETES)
        frames = [self._frames(ctx, b) for b in work]
        deadline = _deadline(ctx)
        with ctx.tracer.span("harness.pass") as pass_span:
            for i, (batch, fr) in enumerate(zip(work, frames)):
                if time.perf_counter() > deadline:
                    out.truncated = True
                    break
                life.cycle(i % 2 == 0, batch, fr, compact=(i + 1) % COMPACT_EVERY == 0)
        out.wall_s = pass_span.seconds
        out.pass_span = pass_span
        life.check_final()
        files = _dir_files(self.table.path)
        commit_s = [o.seconds for o in out.ops if o.ok and o.kind.endswith("commit")]
        out.extra.update(
            write_amp=life.written["bytes"] / max(1, life.written["user_bytes"]),
            space_amp=sum(files.values()) / max(1, life.ref.live_bytes()),
            ingest_rows_per_s=life.written["rows"] / max(1e-9, sum(commit_s)),
            manifest_bytes=sum(s for p, s in files.items() if "manifest" in p),
            live_files=len(self.table.manifest_entries()),
            compact_bytes_rewritten=life.written["compact_bytes"],
        )
        return out


WORKLOAD_CLASSES = {
    "analytics": lambda: RegistryWorkload(ANALYTICS_ENTRIES, ANALYTICS_INPUTS),
    "llm_pipeline": lambda: RegistryWorkload(
        LLM_ENTRIES, ("documents", "embeddings", "lineitem")
    ),
    "table_lifecycle": TableLifecycle,
}
