"""The one metadata and commit core (``tablemeta``) behind both front ends:
the Table API and ``format("paimon")``. Decimal stats, crash states,
commit conflicts and fault injection at each commit step, checked through
both writers and both readers."""

import json
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql import Row

from paimon_presto_spark import tablemeta
from paimon_presto_spark.plans.predicate import P
from paimon_presto_spark.sources.datasource import PaimonDataSource, PaimonWriter


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(PaimonDataSource)
    return spark


def _ds(spark, t):
    return spark.read.format("paimon").option("path", t.path).load()


def _ds_write(df, t):
    df.write.format("paimon").option("path", t.path).mode("append").save()


def _keys(df):
    return sorted(r["k"] for r in df.collect())


def _write(front, t, df):
    """Upsert `df` through one front end. The DataSource writer is driven
    in this process (Spark runs its hooks in Python workers), so patches
    of the core apply to it."""
    if front == "api":
        t.upsert(df)
    else:
        w = PaimonWriter({"path": t.path}, overwrite=False)
        w.commit([w.write(iter(df.collect()))])


# -- decimal stats ---------------------------------------------------------


@pytest.mark.parametrize("dtype", ["decimal(10,2)", "decimal(38,10)"])
@pytest.mark.parametrize("writer", ["api", "datasource"])
def test_decimal_stats_never_lose_rows(registered, spark, catalog, dtype, writer):
    """Decimal footer stats are stored exactly, so equality and range
    filters keep the file holding the boundary value, through both
    readers, whichever front end wrote it."""
    name = f"dec_{writer}_{dtype[8:10]}"
    t = catalog.create_table("default", name, f"k int, price {dtype}")
    df = spark.createDataFrame(
        [(1, Decimal("0.1")), (2, Decimal("2.5"))], f"k int, price {dtype}"
    )
    if writer == "api":
        t.append(df)
    else:
        _ds_write(df, t)
    # exact strings, or no bounds where pyarrow cannot read the footer
    # stats (Spark stores decimals of precision <= 18 as INT32/INT64)
    bounds = [e["stats"]["price"]["min"] for e in t.manifest_entries()]
    assert all(b is None or isinstance(b, str) for b in bounds)
    assert Decimal("0.1") in {Decimal(b) for b in bounds if b is not None} or (
        writer == "api" and dtype == "decimal(10,2)"
    )

    for pred, sql, want in (
        (P.eq("price", Decimal("0.1")), "price = 0.1", [1]),
        (P.eq("price", Decimal("2.5")), f"price = cast(2.5 as {dtype})", [2]),
        (P.lte("price", Decimal("0.1")), "price <= 0.1", [1]),
        (P.gt("price", Decimal("0.1")), "price > 0.1", [2]),
        (P.gte("price", Decimal("2.5")), "price >= 2.5", [2]),
        (P.eq("price", 0.1), "price = cast(0.1 as double)", [1]),
    ):
        assert _keys(t.to_df(predicate=pred)) == want, pred
        assert _keys(_ds(spark, t).filter(sql)) == want, sql
    # a value outside every file's [min, max] still skips them
    scan = t.scan(predicate=P.eq("price", Decimal("7")))
    assert len(scan.plan_files()) == bounds.count(None)


def test_float_decimal_stats_in_old_manifests_never_skip(registered, spark, catalog):
    """Manifests written before decimals were stored exactly carry float
    bounds; planning ignores them instead of skipping on a rounded bound."""
    t = catalog.create_table("default", "dec_legacy", "k int, price decimal(38,10)")
    t.append(spark.createDataFrame([(1, Decimal("0.1"))], "k int, price decimal(38,10)"))
    snap = t.snapshot()
    mpath = os.path.join(t.meta_path, "manifest", snap.manifest)
    with open(mpath) as fh:
        m = json.load(fh)
    for e in m["entries"]:
        e["stats"]["price"].update(min=0.1, max=0.1)  # float(Decimal('0.1'))
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    tablemeta._MANIFEST_CACHE.clear()
    assert _keys(t.to_df(predicate=P.eq("price", Decimal("0.1")))) == [1]
    assert _keys(_ds(spark, t).filter("price = 0.1")) == [1]


# -- crash states and conflicts ------------------------------------------------


def _pk_table(catalog, name, **options):
    return catalog.create_table(
        "default", name, "k int, v string", primary_keys=["k"], options=options
    )


def test_crashed_commit_reads_the_same_through_both_front_ends(
    registered, spark, catalog
):
    """A crash between the snapshot create and the LATEST swap leaves
    ``snapshot-N+1.json`` with LATEST at N: both readers take the highest
    snapshot file, and later writes stack on it."""
    t = _pk_table(catalog, "crash1")
    ddl = "k int, v string"
    t.upsert(spark.createDataFrame([(1, "a")], ddl))
    latest = os.path.join(t.meta_path, "snapshot", "LATEST")
    with open(latest) as fh:
        hint = fh.read()
    t.upsert(spark.createDataFrame([(2, "b")], ddl))
    with open(latest, "w") as fh:
        fh.write(hint)  # LATEST back at 1, snapshot-2.json on disk

    assert _keys(t.to_df()) == [1, 2]
    assert _keys(_ds(spark, t)) == [1, 2]
    _ds_write(spark.createDataFrame([(3, "c")], ddl), t)
    assert t.snapshot_ids() == [1, 2, 3]
    assert _keys(t.to_df()) == _keys(_ds(spark, t)) == [1, 2, 3]


def test_datasource_commit_restacks_on_a_racing_table_commit(spark, catalog):
    """A Table commit landing between DataSource writer construction and
    its commit: the DataSource commit conflicts, re-stacks on the winner's
    manifest and retries, so both batches are visible."""
    t = _pk_table(catalog, "race1")
    t.upsert(spark.createDataFrame([(1, "a")], "k int, v string"))
    w = PaimonWriter({"path": t.path}, overwrite=False)
    msg = w.write(iter([Row(k=2, v="ds")]))
    t.upsert(spark.createDataFrame([(3, "api")], "k int, v string"))
    w.commit([msg])

    assert t.snapshot_ids() == [1, 2, 3]
    assert t.snapshot().commit_kind == "UPSERT"
    want = {1: "a", 2: "ds", 3: "api"}
    assert {r["k"]: r["v"] for r in t.to_df().collect()} == want
    spark.dataSource.register(PaimonDataSource)
    assert {r["k"]: r["v"] for r in _ds(spark, t).collect()} == want
    assert not [n for n in os.listdir(t.path) if n.startswith(".staging-ds-")]


@pytest.mark.parametrize("front", ["api", "datasource"])
def test_stacked_commits_keep_every_writers_files(
    registered, spark, catalog, monkeypatch, front
):
    """The exclusive snapshot create is the only claim: a commit whose id
    was taken retries on the next id without dropping the winner's files."""
    t = _pk_table(catalog, f"race2_{front}")
    ddl = "k int, v string"
    t.upsert(spark.createDataFrame([(1, "a")], ddl))
    real = tablemeta.TableMeta._publish
    raced = []

    def publish_after_a_rival(self, snap):
        if not raced:  # a rival claims our id first, with its own file
            raced.append(snap.snapshot_id)
            t.upsert(spark.createDataFrame([(9, "rival")], ddl))
        return real(self, snap)

    with monkeypatch.context() as m:
        m.setattr(tablemeta.TableMeta, "_publish", publish_after_a_rival)
        _write(front, t, spark.createDataFrame([(2, "b")], ddl))
    assert raced == [2]
    assert t.snapshot_ids() == [1, 2, 3]
    assert _keys(t.to_df()) == _keys(_ds(spark, t)) == [1, 2, 9]


# -- fault injection at each commit step ------------------------------------


class _Crash(Exception):
    pass


def _inject(monkeypatch, step):
    """Make one step of ``TableMeta._commit`` fail the way a crash would."""
    if step == "data_rename":
        real_rename = os.rename

        def rename(src, dst):
            real_rename(src, dst)
            raise _Crash(step)  # after the first file moved into data/

        monkeypatch.setattr(tablemeta.os, "rename", rename)
    elif step == "manifest_write":

        def write_manifest(self, schema, snapshot_id, entries):
            mdir = os.path.join(self.meta_path, "manifest")
            with open(os.path.join(mdir, f"manifest-delta-{snapshot_id}-x.json"), "w") as fh:
                fh.write('{"adds": [')  # torn write
            raise _Crash(step)

        monkeypatch.setattr(tablemeta.TableMeta, "_write_manifest", write_manifest)
    elif step == "snapshot_write":

        class _Json:  # the snapshot payload's serialization fails
            def __getattr__(self, name):
                return getattr(json, name)

            def dumps(self, obj, **kw):
                if "commit_kind" in obj:
                    raise _Crash(step)
                return json.dumps(obj, **kw)

        monkeypatch.setattr(tablemeta, "json", _Json())
    elif step == "snapshot_create":
        real_link = os.link

        def link(src, dst, *a, **kw):
            if os.path.basename(dst).startswith("snapshot-"):
                raise _Crash(step)
            return real_link(src, dst, *a, **kw)

        monkeypatch.setattr(tablemeta.os, "link", link)
    else:
        assert step == "latest_swap"

        def write_latest(self, snapshot_id):
            raise _Crash(step)

        monkeypatch.setattr(tablemeta.TableMeta, "_write_latest", write_latest)


@pytest.mark.parametrize(
    "step",
    ["data_rename", "manifest_write", "snapshot_write", "snapshot_create", "latest_swap"],
)
@pytest.mark.parametrize("front", ["api", "datasource"])
def test_crash_at_each_commit_step(registered, spark, catalog, monkeypatch, front, step):
    """Readers see the old or the new state, never a partial one, and
    ``remove_orphan_files`` reclaims what the crashed commit left."""
    t = _pk_table(catalog, f"fault_{front}_{step}", bucket="2")
    ddl = "k int, v string"
    t.upsert(spark.createDataFrame([(1, "a"), (2, "b")], ddl))
    old = {1: "a", 2: "b"}
    new = {1: "a2", 2: "b", 3: "c", 4: "d"}
    batch = spark.createDataFrame([(1, "a2"), (3, "c"), (4, "d")], ddl)
    # a DataSource writer that died before its commit leaves its staging dir
    PaimonWriter({"path": t.path}, overwrite=False).write(iter([Row(k=5, v="lost")]))

    with monkeypatch.context() as m:
        _inject(m, step)
        with pytest.raises(_Crash, match=step):
            _write(front, t, batch)

    want = new if step == "latest_swap" else old
    got_api = {r["k"]: r["v"] for r in t.to_df().collect()}
    got_ds = {r["k"]: r["v"] for r in _ds(spark, t).collect()}
    assert got_api == got_ds == want

    live = {e["path"] for e in t.manifest_entries()}
    removed = t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 60_000)
    assert not [n for n in os.listdir(t.path) if n.startswith(".staging-ds-")]
    on_disk = {
        os.path.relpath(os.path.join(r, f), t.path)
        for r, _, fs in os.walk(os.path.join(t.path, "data"))
        for f in fs
    }
    assert on_disk == live
    manifests = set(os.listdir(os.path.join(t.meta_path, "manifest")))
    assert manifests == set(t._manifest_members(t.snapshot())) | set(
        t._manifest_members(t.snapshot(1))
    )
    assert removed
    assert {r["k"]: r["v"] for r in t.to_df().collect()} == want
    assert {r["k"]: r["v"] for r in _ds(spark, t).collect()} == want
    # the table keeps committing through either front end
    _ds_write(spark.createDataFrame([(6, "f")], ddl), t)
    t.upsert(spark.createDataFrame([(7, "g")], ddl))
    assert _keys(t.to_df()) == _keys(_ds(spark, t)) == sorted(want) + [6, 7]
