"""Record the registry entries' result fingerprints, checked against DuckDB.

Usage (from the repository root)::

    python3 perfbench/record.py

Generates the registry inputs the benchmark uses, runs every entry of the
registry workloads once, compares each result with its DuckDB oracle
(row count, columns and order-insensitive values, as
``tools/check_correctness.py`` does) and, only if all agree, writes
``perfbench/fingerprints.json``.  Run it on a tree whose results are
known good; every benchmark run then checks its results against it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import run  # noqa: E402
from metrics import ANALYTICS_ENTRIES, LLM_ENTRIES  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import DATA_SEED, DATA_SF, FINGERPRINTS, Context, fingerprint  # noqa: E402


def oracle_rows(con, sql: str):
    """Columns, declared types and rows of the oracle, fetched through
    pandas as the correctness gate does."""
    rel = con.sql(sql)
    types = {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}
    df = rel.df()
    return list(df.columns), types, list(df.itertuples(index=False, name=None))


def main() -> int:
    import duckdb

    from paimon_presto_spark.queries import oracle_sql, queries
    from paimon_presto_spark.sources.testdata import TABLES
    from tools.check_correctness import _canon

    run_dir = os.path.join(run.RUNS_DIR, f"record-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update(run.launch_env(run_dir))
    ctx = Context(run_dir, 0, 0, Tracer(False))
    datagen.write(ctx.data_dir, DATA_SEED, DATA_SF)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(ctx.data_dir, t)}.parquet')"
        )
    fns, oracles = queries(), oracle_sql()
    out, bad = {}, []
    try:
        spark = ctx.start_session()
        for name in ANALYTICS_ENTRIES + LLM_ENTRIES:
            df = fns[name](spark, ctx.data_dir)
            rows = df.collect()
            dtypes = dict(df.dtypes)
            ocols, otypes, orows = oracle_rows(con, oracles[name])
            dates = frozenset(
                c for c in df.columns
                if dtypes.get(c) == "date" or otypes.get(c) == "DATE"
            )
            got = _canon(list(df.columns), [tuple(r) for r in rows], dates)
            want = _canon(ocols, orows, dates)
            status = "ok" if got == want else "DIFFERS"
            print(f"{name}: {len(rows)} rows, oracle {status}", flush=True)
            if got != want:
                bad.append(name)
            out[name] = fingerprint(df.columns, dtypes, rows)
            spark.catalog.clearCache()
    finally:
        run.stop_spark(ctx)
        con.close()
        run.clean_scratch(os.getpid(), set())
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run.RUNS_DIR)  # only when no run is using it
        except OSError:
            pass
    if bad:
        print(f"not recorded: {bad} differ from their oracle", file=sys.stderr)
        return 1
    with open(FINGERPRINTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(out)} fingerprints to {FINGERPRINTS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
