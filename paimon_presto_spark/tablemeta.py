"""Spark-free metadata and commit core of the table format.

Everything that reads or writes a table's on-disk metadata lives here, so
both front ends share one implementation: ``table.Table`` (the DataFrame
API, which subclasses ``TableMeta`` and adds the Spark data path) and the
Python DataSource ``format("paimon")`` (``sources/datasource.py``), whose
``partitions()`` and ``commit()`` run where no SparkSession exists.

Storage layout (one directory per table; a branch keeps its own
schema/snapshot/manifest/tag/consumer files under
``branch/branch-<name>/`` while sharing ``data/`` and ``index/``)::

    schema/schema-<id>.json      column list w/ stable field ids, pks, partition keys, options
    snapshot/snapshot-<id>.json  commit metadata -> manifest file
    snapshot/LATEST              id of the last published snapshot (a hint only)
    manifest/manifest-<id>.json  file listing at that snapshot + per-file column stats
    data/...                     data files (immutable)
    index/...                    deletion-vector and dynamic-bucket index datasets

The current snapshot is the highest-numbered ``snapshot-<id>.json``;
``LATEST`` is advisory and never read. A commit (``TableMeta._commit``)
moves its staged data files into ``data/``, writes the manifest, then
claims snapshot N by creating ``snapshot-N.json`` exclusively: two
concurrent committers cannot both claim N, and the loser re-stacks its
files on the winner's manifest and retries. Until that create succeeds the
commit is invisible; a crash at any earlier step leaves only unreferenced
files, which ``remove_orphan_files`` reclaims. The reference gets the same
read-committed, snapshot-isolated behavior from immutable Paimon snapshots
(``PrestoConnectorBase.java:70-97``).
"""

from __future__ import annotations

import decimal
import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from paimon_presto_spark.plans import fileindex
from paimon_presto_spark.plans.predicate import Predicate, skip_safe_predicate


@dataclass
class TableSchema:
    schema_id: int
    fields: list[dict]  # {"id": int, "name": str, "type": ddl-str, "nullable": bool}
    primary_keys: list[str]
    partition_keys: list[str]
    options: dict[str, str]
    highest_field_id: int

    def to_json(self) -> dict:
        return {
            "schema_id": self.schema_id,
            "fields": self.fields,
            "primary_keys": self.primary_keys,
            "partition_keys": self.partition_keys,
            "options": self.options,
            "highest_field_id": self.highest_field_id,
        }

    @staticmethod
    def from_json(d: dict) -> "TableSchema":
        return TableSchema(
            schema_id=d["schema_id"],
            fields=d["fields"],
            primary_keys=d["primary_keys"],
            partition_keys=d["partition_keys"],
            options=d.get("options", {}),
            highest_field_id=d["highest_field_id"],
        )

    def spark_schema(self):
        from pyspark.sql import types as T

        from paimon_presto_spark.table import _parse_type

        return T.StructType(
            [
                T.StructField(f["name"], _parse_type(f["type"]), f.get("nullable", True))
                for f in self.fields
            ]
        )

    def field_names(self) -> list[str]:
        return [f["name"] for f in self.fields]

    def resolve(self, name: str) -> str:
        """Case-insensitive column resolution (``FieldNameUtils.java:30-35``)."""
        for f in self.fields:
            if f["name"].lower() == name.lower():
                return f["name"]
        raise KeyError(f"no such column: {name}")

    @property
    def num_buckets(self) -> int:
        return int(self.options.get("bucket", "4"))


_TIME_RE = None  # lazy


def _is_time_type(ddl: str) -> bool:
    """True for TIME / TIME(p) declarations (any precision 0-9)."""
    global _TIME_RE
    if _TIME_RE is None:
        import re as _re

        _TIME_RE = _re.compile(r"^\s*time\s*(\(\s*\d\s*\))?\s*$", _re.I)
    return bool(_TIME_RE.match(ddl))


class CommitConflict(Exception):
    pass


# folded manifest listings keyed by (meta_path, manifest file name) —
# manifest files are immutable once written, so entries never go stale
_MANIFEST_CACHE: dict[tuple[str, str], list[dict]] = {}


@dataclass
class Snapshot:
    snapshot_id: int
    schema_id: int
    commit_user: str
    commit_identifier: int
    commit_kind: str  # APPEND | UPSERT | DELETE | OVERWRITE | COMPACT
    timestamp_ms: int
    manifest: str
    total_rows: int
    # deletion-vector index for this snapshot: name of a parquet dataset
    # under <table>/index/ holding (path, pos) deleted-row positions; None
    # when the snapshot has no deletions (or the table is not in DV mode)
    dv_index: str | None = None
    # dynamic-bucket key index (bucket=-1 tables): parquet dataset under
    # <table>/index/ mapping xxhash64(pk) -> assigned bucket
    bucket_index: str | None = None
    # retraction changelog for this commit (changelog-producer=lookup):
    # parquet dataset under <meta>/changelog/ with I/UB/UA/D row kinds
    changelog: str | None = None

    def to_json(self):
        return self.__dict__.copy()


class TableMeta:
    """One lineage of a table's metadata: schemas, snapshots, manifests,
    tags, consumers, retention and the commit protocol — no SparkSession.

    `branch` selects an alternative metadata lineage (Paimon branches):
    schema/snapshot/manifest/tag/consumer files resolve under
    ``branch/branch-<name>/`` while data files stay shared at the table
    root — a branch is a writable fork that costs metadata only.
    """

    def __init__(self, path: str, branch: str | None = None):
        self.path = path  # table root: data/ and staging/ always live here
        self.branch_name = branch
        self.meta_path = (
            os.path.join(path, "branch", f"branch-{branch}") if branch else path
        )
        if branch and not os.path.isdir(self.meta_path):
            raise ValueError(f"branch {branch!r} does not exist")

    # -- metadata ----------------------------------------------------------

    def _schema_path(self, sid: int) -> str:
        return os.path.join(self.meta_path, "schema", f"schema-{sid}.json")

    def schema(self, schema_id: int | None = None) -> TableSchema:
        if schema_id is None:
            sdir = os.path.join(self.meta_path, "schema")
            schema_id = max(
                int(f[len("schema-") : -len(".json")]) for f in os.listdir(sdir)
            )
        with open(self._schema_path(schema_id)) as fh:
            return TableSchema.from_json(json.load(fh))

    def snapshot_ids(self) -> list[int]:
        sdir = os.path.join(self.meta_path, "snapshot")
        if not os.path.isdir(sdir):
            return []
        return sorted(
            int(f[len("snapshot-") : -len(".json")])
            for f in os.listdir(sdir)
            if f.startswith("snapshot-") and f.endswith(".json")
        )

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        ids = self.snapshot_ids()
        if not ids:
            return None
        sid = snapshot_id if snapshot_id is not None else ids[-1]
        if sid not in ids:
            raise ValueError(f"snapshot {sid} does not exist (have {ids})")
        with open(os.path.join(self.meta_path, "snapshot", f"snapshot-{sid}.json")) as fh:
            return Snapshot(**json.load(fh))

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """Latest snapshot committed at or before `timestamp_ms` (A12)."""
        cand = [
            self.snapshot(i)
            for i in self.snapshot_ids()
        ]
        cand = [s for s in cand if s.timestamp_ms <= timestamp_ms]
        if not cand:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return max(cand, key=lambda s: s.snapshot_id)

    def resolve_snapshot(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        tag: str | None = None,
    ) -> Snapshot | None:
        """The snapshot a read pins: by id, by tag, the last one committed
        at or before `as_of_ms`, or (none given) the latest."""
        if sum(x is not None for x in (snapshot_id, as_of_ms, tag)) > 1:
            raise ValueError(
                "snapshot / tag / as-of-timestamp-ms are mutually exclusive"
            )
        if tag is not None:
            return self.tag_snapshot(tag)
        if as_of_ms is not None:
            return self.snapshot_as_of(as_of_ms)
        return self.snapshot(snapshot_id)

    def manifest_entries(self, snap: Snapshot | None = None) -> list[dict]:
        """The snapshot's full file listing.

        Three manifest formats (Paimon's base+delta design, so a commit
        WRITES O(changed files), not O(table files) — see
        ``_write_manifest``):

        - ``{"entries": [...]}`` — full listing (legacy, and the base
          written by manifest full-compaction);
        - ``{"manifests": [names]}`` — a manifest LIST whose members fold
          left-to-right;
        - ``{"adds": [...], "removes": [paths]}`` — a delta member.
        """
        snap = snap or self.snapshot()
        if snap is None:
            return []
        # manifests are immutable once written: cache folded results by
        # file name (planning calls this repeatedly — stats-based
        # clustering alone reads it per column)
        key = (self.meta_path, snap.manifest)
        hit = _MANIFEST_CACHE.get(key)
        if hit is not None:
            return hit
        with open(os.path.join(self.meta_path, "manifest", snap.manifest)) as fh:
            d = json.load(fh)
        if "entries" in d:
            out_list = d["entries"]
        else:
            out: dict[str, dict] = {}
            for name in d["manifests"]:
                with open(os.path.join(self.meta_path, "manifest", name)) as fh:
                    m = json.load(fh)
                if "entries" in m:
                    out = {e["path"]: e for e in m["entries"]}
                else:
                    for p in m.get("removes", []):
                        out.pop(p, None)
                    for e in m.get("adds", []):
                        out[e["path"]] = e
            out_list = list(out.values())
        if len(_MANIFEST_CACHE) > 64:
            _MANIFEST_CACHE.clear()  # crude cap; entries are per-snapshot
        _MANIFEST_CACHE[key] = out_list
        return out_list

    def _manifest_members(self, snap: Snapshot) -> list[str]:
        """Every manifest file the snapshot references: the pointer file
        itself plus, for list manifests, all member files (shared with
        neighboring snapshots — expiry must treat them as shared)."""
        with open(os.path.join(self.meta_path, "manifest", snap.manifest)) as fh:
            d = json.load(fh)
        if "manifests" in d:
            return [snap.manifest] + list(d["manifests"])
        return [snap.manifest]

    @property
    def is_primary_keyed(self) -> bool:
        return bool(self.schema().primary_keys)

    @property
    def dv_enabled(self) -> bool:
        return self.schema().options.get("deletion-vectors.enabled") == "true"

    def _dv_root(self) -> str:
        return os.path.join(self.path, "index")

    @property
    def is_dynamic_bucket(self) -> bool:
        return self.schema().options.get("bucket") == "-1"

    def dv_positions(self, dv_index: str | None) -> dict[str, list[int]]:
        """A deletion-vector index dataset as {table-relative data path:
        deleted row positions} — a metadata-sized read, like the manifest,
        that planners hand to each split so readers drop the positions."""
        if not dv_index:
            return {}
        import pyarrow.parquet as pq

        dvt = pq.read_table(os.path.join(self._dv_root(), dv_index))
        out: dict[str, list[int]] = {}
        for p, pos in zip(
            dvt.column("path").to_pylist(), dvt.column("pos").to_pylist()
        ):
            out.setdefault(p, []).append(pos)
        return out

    # -- scan planning -----------------------------------------------------

    def plan_entries(
        self,
        snap: Snapshot,
        predicate: Predicate | None,
        prune: bool = True,
        skip: bool = True,
        where: Callable[[list[dict], TableSchema], list[dict]] | None = None,
    ) -> tuple[list[dict], dict[str, int]]:
        """The snapshot's files a scan must read, planned on metadata alone:
        partition pruning (`prune`; `where(entries, schema)` is an extra
        partition filter applied after it), then per-file stats and bloom
        skipping (`skip`). Returns the surviving entries and the file count
        after each layer."""
        entries = self.manifest_entries(snap)
        total = len(entries)
        schema = self.schema(snap.schema_id)

        # 1) partition pruning (A10 first half). Only the partition-column
        #    CONJUNCTS may prune: testing the full predicate against a
        #    partition-only row would evaluate value-column comparisons as
        #    False (missing column) and drop every partition — AND(pt='X',
        #    val=5) must still scan pt='X'. Partition dir values are
        #    strings; they are typed per the schema first (int "5" == 5 is
        #    False in Python — untyped comparison would over-prune).
        if prune and predicate is not None and schema.partition_keys:
            pp = skip_safe_predicate(predicate, set(schema.partition_keys))
            if pp is not None:
                entries = [
                    e
                    for e in entries
                    if pp.test_row(_typed_partition(e["partition"], schema))
                ]
        if where is not None:
            entries = where(entries, schema)
        pruned_partitions = len(entries)

        # 2) per-file stats skipping (A7/A8). Merge-on-read safety: for a
        #    pk table without deletion vectors, only key/partition columns
        #    may skip files — a value-column skip could drop the file
        #    holding a key's NEWEST version and resurrect a stale row
        #    (see plans.predicate.skip_safe_predicate).
        if skip and predicate is not None:
            dv_on = schema.options.get("deletion-vectors.enabled") == "true"
            safe = (
                None
                if (not schema.primary_keys or dv_on)
                else set(schema.primary_keys) | set(schema.partition_keys)
            )
            sp = skip_safe_predicate(predicate, safe)
            if sp is not None:
                # stats/bloom are writer-name-keyed; translate through
                # field ids (see fileindex.translate_entry_metadata)
                cur_by_id = {f["id"]: f["name"] for f in schema.fields}
                decimals = {
                    f["name"]
                    for f in schema.fields
                    if f["type"].lower().startswith("decimal")
                }
                ws_fields: dict[int, list] = {}

                def survives(e: dict) -> bool:
                    sid = e["schema_id"]
                    wf = ws_fields.get(sid)
                    if wf is None:
                        wf = self.schema(sid).fields
                        ws_fields[sid] = wf
                    stats, idx = fileindex.translate_entry_metadata(
                        e, cur_by_id, wf
                    )
                    for c in decimals & stats.keys():
                        stats[c] = _decimal_stats(stats[c])
                    return sp.test_stats(stats, e["row_count"]) and (
                        sp.test_index(idx)
                    )

                entries = [e for e in entries if survives(e)]
        return entries, {
            "snapshot_id": snap.snapshot_id,
            "total_files": total,
            "after_partition_prune": pruned_partitions,
            "after_stats_skip": len(entries),
        }

    # -- consumers: streaming-reader progress pins (Paimon consumer-id) ----

    def _consumer_path(self, name: str) -> str:
        return os.path.join(self.meta_path, "consumer", f"consumer-{name}.json")

    def register_consumer(self, name: str, next_snapshot: int | None = None) -> None:
        """Record that reader `name` still needs snapshots >= `next_snapshot`
        (default: the snapshot after the current one). ``expire_snapshots``
        keeps every snapshot any consumer has yet to read — so a lagging
        streaming reader never loses unread commits to retention (Paimon's
        ``consumer-id`` mechanism)."""
        if not name or "/" in name or "$" in name:
            raise ValueError(f"invalid consumer name {name!r}")
        if next_snapshot is None:
            cur = self.snapshot()
            next_snapshot = (cur.snapshot_id + 1) if cur else 1
        os.makedirs(os.path.join(self.meta_path, "consumer"), exist_ok=True)
        tmp = self._consumer_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"next_snapshot": int(next_snapshot),
                 "update_ms": int(time.time() * 1000)},
                fh,
            )
        os.replace(tmp, self._consumer_path(name))

    def drop_consumer(self, name: str) -> None:
        try:
            os.remove(self._consumer_path(name))
        except FileNotFoundError:
            raise ValueError(f"consumer {name!r} does not exist") from None

    def list_consumers(self) -> dict[str, int]:
        cdir = os.path.join(self.meta_path, "consumer")
        if not os.path.isdir(cdir):
            return {}
        out = {}
        for fn in sorted(os.listdir(cdir)):
            if fn.startswith("consumer-") and fn.endswith(".json"):
                with open(os.path.join(cdir, fn)) as fh:
                    out[fn[len("consumer-") : -len(".json")]] = json.load(fh)[
                        "next_snapshot"
                    ]
        return out

    def _stats_path(self, snapshot_id: int) -> str:
        return os.path.join(
            self.meta_path, "statistics", f"stats-{snapshot_id}.json"
        )

    def _branch_dir(self, name: str) -> str:
        return os.path.join(self.path, "branch", f"branch-{name}")

    def list_branches(self) -> list[str]:
        bdir = os.path.join(self.path, "branch")
        if not os.path.isdir(bdir):
            return []
        return sorted(
            d[len("branch-"):] for d in os.listdir(bdir) if d.startswith("branch-")
        )

    def _lineages(self) -> list["TableMeta"]:
        """Main and every branch of this table."""
        return [TableMeta(self.path)] + [
            TableMeta(self.path, n) for n in self.list_branches()
        ]

    def _all_snapshots(self) -> list[Snapshot]:
        """Every snapshot of this lineage, plus the tagged ones (a tag
        outlives its snapshot's expiry)."""
        return [self.snapshot(sid) for sid in self.snapshot_ids()] + [
            self.tag_snapshot(name) for name in self.list_tags()
        ]

    def _references(
        self, snaps: list[Snapshot]
    ) -> tuple[set[str], set[str], set[str]]:
        """(data files, index datasets, manifest files) `snaps` reference."""
        files: set[str] = set()
        index: set[str] = set()
        manifests: set[str] = set()
        for snap in snaps:
            manifests.update(self._manifest_members(snap))
            index.update(x for x in (snap.dv_index, snap.bucket_index) if x)
            files.update(e["path"] for e in self.manifest_entries(snap))
        return files, index, manifests

    def expire_snapshots(self, keep_last: int = 10) -> list[int]:
        """Drop snapshots older than the newest `keep_last`, deleting data
        files no surviving snapshot references (the standard lakehouse
        retention op — bounds metadata growth and reclaims storage from
        compaction/overwrite churn). Time travel remains valid for every
        kept snapshot; expired ids raise on access. Returns expired ids.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        ids = self.snapshot_ids()
        expired = ids[:-keep_last]
        # Consumers pin every snapshot they have yet to read: a consumer at
        # next_snapshot=N needs N and everything after it. A consumer not
        # updated within ``consumer.expiration-time`` is dropped first
        # (Paimon's stale-consumer expiry) — a crashed reader must not pin
        # retention forever.
        ttl = self.schema().options.get("consumer.expiration-time")
        if ttl is not None:
            cutoff = int(time.time() * 1000) - _parse_duration_ms(ttl)
            for name in list(self.list_consumers()):
                with open(self._consumer_path(name)) as fh:
                    if json.load(fh).get("update_ms", 0) < cutoff:
                        self.drop_consumer(name)
        consumers = self.list_consumers()
        if consumers:
            floor = min(consumers.values())
            expired = [i for i in expired if i < floor]
        if not expired:
            return []
        kept = [i for i in ids if i not in set(expired)]
        # Tagged snapshots stay readable after expiry (the tag file carries
        # the snapshot payload), so their manifests and data files are live.
        live_files, live_dv, live_manifests = self._references(
            [self.snapshot(sid) for sid in kept]
            + [self.tag_snapshot(name) for name in self.list_tags()]
        )
        # Data files are shared across lineages: anything ANY other branch
        # (or main, when expiring on a branch) references stays live. Their
        # manifests/snapshots live in their own directories and are untouched.
        for t in self._lineages():
            if t.branch_name != self.branch_name:
                files, index, _ = t._references(t._all_snapshots())
                live_files |= files
                live_dv |= index
        dead_files = set()
        dead_manifests = set()
        dead_dv = set()
        for sid in expired:
            snap = self.snapshot(sid)
            dead_manifests.update(self._manifest_members(snap))
            if snap.dv_index and snap.dv_index not in live_dv:
                dead_dv.add(snap.dv_index)
            if snap.bucket_index and snap.bucket_index not in live_dv:
                dead_dv.add(snap.bucket_index)
            for e in self.manifest_entries(snap):
                if e["path"] not in live_files:
                    dead_files.add(e["path"])
        for rel in dead_files:
            try:
                os.remove(os.path.join(self.path, rel))
            except FileNotFoundError:
                pass
        for m in dead_manifests - live_manifests:
            try:
                os.remove(os.path.join(self.meta_path, "manifest", m))
            except FileNotFoundError:
                pass
        for dv in dead_dv:
            _rmtree_quiet(os.path.join(self._dv_root(), dv))
        for sid in expired:
            snap = self.snapshot(sid)
            if snap.changelog:
                _rmtree_quiet(
                    os.path.join(self.meta_path, "changelog", snap.changelog)
                )
            os.remove(os.path.join(self.meta_path, "snapshot", f"snapshot-{sid}.json"))
        return expired

    def rollback_to(self, snapshot_id: int) -> None:
        """Roll the table back to `snapshot_id`: snapshots after it are
        deleted (Paimon's ``rollback_to`` procedure). Metadata-only —
        data files written by rolled-back commits become orphans and are
        reclaimed by ``remove_orphan_files``, so rollback is O(#snapshots)
        regardless of data size.

        Bookkeeping that referenced the rolled-back range is reconciled
        the way Paimon's RollbackHelper does: tags pinned to deleted
        snapshots are dropped; consumer positions past the new head are
        clamped to it (their unread commits no longer exist).
        """
        ids = self.snapshot_ids()
        if snapshot_id not in ids:
            raise ValueError(f"snapshot {snapshot_id} does not exist (have {ids})")
        doomed = [i for i in ids if i > snapshot_id]
        for name in self.list_tags():
            if self.tag_snapshot(name).snapshot_id > snapshot_id:
                self.delete_tag(name)
        for name, nxt in self.list_consumers().items():
            if nxt > snapshot_id + 1:
                self.register_consumer(name, snapshot_id + 1)
        for sid in doomed:
            snap = self.snapshot(sid)
            if snap.changelog:
                _rmtree_quiet(
                    os.path.join(self.meta_path, "changelog", snap.changelog)
                )
            os.remove(
                os.path.join(self.meta_path, "snapshot", f"snapshot-{sid}.json")
            )
            try:
                os.remove(self._stats_path(sid))
            except FileNotFoundError:
                pass
        self._write_latest(snapshot_id)

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """Delete files no lineage references (Paimon's
        remove-orphan-files action): data files stranded by deleted
        branches, crashed writers, or interrupted commits, plus the
        manifests and temporary snapshot files an interrupted commit leaves.

        `older_than_ms` (epoch millis) guards in-flight writers: only files
        modified before it are candidates (default: one hour ago). Scans
        every snapshot and tag of every lineage — O(metadata), one listdir
        walk over data/. Returns the deleted paths (table-relative)."""
        if older_than_ms is None:
            older_than_ms = int((time.time() - 3600) * 1000)
        live = set()
        live_dv = set()
        removed = []
        for t in self._lineages():
            files, index, live_manifests = t._references(t._all_snapshots())
            live |= files
            live_dv |= index
            # manifests of commits that never claimed a snapshot, and the
            # temporary file of an interrupted LATEST swap
            for sub, dead in (
                ("manifest", lambda fn: fn not in live_manifests),
                ("snapshot", lambda fn: fn.startswith(".")),
            ):
                d = os.path.join(t.meta_path, sub)
                for fn in os.listdir(d) if os.path.isdir(d) else ():
                    full = os.path.join(d, fn)
                    if dead(fn) and os.path.getmtime(full) * 1000 < older_than_ms:
                        os.remove(full)
                        removed.append(os.path.relpath(full, self.path))
        data_dir = os.path.join(self.path, "data")
        for root, _dirs, files in os.walk(data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if rel in live:
                    continue
                if os.path.getmtime(full) * 1000 >= older_than_ms:
                    continue  # too fresh — may belong to an in-flight commit
                os.remove(full)
                removed.append(rel)
        # deletion-vector index datasets no snapshot of any lineage points at
        dv_root = self._dv_root()
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                full = os.path.join(dv_root, name)
                if name in live_dv:
                    continue
                if os.path.getmtime(full) * 1000 >= older_than_ms:
                    continue
                _rmtree_quiet(full)
                removed.append(os.path.relpath(full, self.path))
        # staging dirs abandoned by crashed writers (a completed commit
        # removes its staging dir; anything old enough here is dead weight)
        staging_root = os.path.join(self.path, "staging")
        if os.path.isdir(staging_root):
            for name in os.listdir(staging_root):
                full = os.path.join(staging_root, name)
                if os.path.getmtime(full) * 1000 >= older_than_ms:
                    continue
                _rmtree_quiet(full)
                removed.append(os.path.relpath(full, self.path))
        # DataSource writers stage under .staging-ds-* at the table root
        for name in os.listdir(self.path):
            if name.startswith(".staging-ds-"):
                full = os.path.join(self.path, name)
                if os.path.getmtime(full) * 1000 >= older_than_ms:
                    continue
                _rmtree_quiet(full)
                removed.append(name)
        return sorted(removed)

    def _commit(
        self,
        schema: TableSchema,
        kind: str,
        entries: list[dict],
        replace: bool | str | Callable[[dict], bool] = False,
        dv_index: str | None = None,
        bucket_index: str | None = None,
        expect: int | None = None,
        changelog: str | None = None,
        commit_identifier: int | None = None,
    ) -> Snapshot:
        """The one commit every writer of either front end goes through.

        Steps, in order: move each entry that carries ``staged`` (where its
        writer left the file) to its table-relative ``path``; write the
        manifest; claim the snapshot id (``_publish``: exclusive create of
        the snapshot file, then the LATEST hint). Nothing is visible to
        readers before the claim. Files move once; only the metadata
        retries: a conflict means another writer claimed our id, so re-read
        the new latest manifest, stack our entries on it and claim the next
        id (5 attempts).

        `replace`: False stacks on the previous manifest, True replaces it
        entirely, "dynamic" replaces only the partitions the new files
        touch, and a function drops the previous entries it selects.

        `dv_index` attaches a deletion-vector index to the new snapshot;
        when absent and not replacing, the previous snapshot's index is
        carried forward (old files keep their deletions). A full replace
        rewrites from the merged state, so the index resets.
        `bucket_index` likewise attaches a dynamic-bucket key index; when
        absent it ALWAYS carries forward (bucket assignments outlive any
        rewrite — a key's bucket never changes). `expect` conflicts if the
        latest snapshot moved past it (DV/bucket commits and compactions
        compute state against a specific snapshot and cannot be re-stacked)."""
        for e in entries:
            if "staged" in e:
                dst = os.path.join(self.path, e["path"])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(e["staged"], dst)
        entries = [{k: v for k, v in e.items() if k != "staged"} for e in entries]
        os.makedirs(os.path.join(self.meta_path, "manifest"), exist_ok=True)
        os.makedirs(os.path.join(self.meta_path, "snapshot"), exist_ok=True)
        drop = replace
        if replace == "dynamic":
            touched = {json.dumps(e["partition"], sort_keys=True) for e in entries}

            def drop(e: dict) -> bool:
                return json.dumps(e["partition"], sort_keys=True) in touched

        for _attempt in range(5):
            prev = self.snapshot()
            cur = prev.snapshot_id if prev else 0
            if expect is not None and cur != expect:
                raise CommitConflict(
                    f"{kind} commit computed against snapshot {expect}, "
                    f"but latest is now {cur} — recompute and retry"
                )
            dv = dv_index
            if dv is None and replace is not True and prev is not None:
                dv = prev.dv_index  # carry existing deletions forward
            bidx = bucket_index
            if bidx is None and prev is not None:
                bidx = prev.bucket_index  # assignments survive any rewrite
            if prev is None or replace is True:
                base = []
            elif replace is False:
                base = self.manifest_entries(prev)
            else:  # recomputed per attempt, so a racing writer's files stay
                base = [e for e in self.manifest_entries(prev) if not drop(e)]
            listing = base + entries
            snap = Snapshot(
                snapshot_id=cur + 1,
                schema_id=schema.schema_id,
                commit_user=os.environ.get("USER", "spark"),
                commit_identifier=(
                    commit_identifier if commit_identifier is not None
                    else cur + 1
                ),
                commit_kind=kind,
                timestamp_ms=int(time.time() * 1000),
                manifest=self._write_manifest(schema, cur + 1, listing),
                total_rows=sum(e["row_count"] for e in listing),
                dv_index=dv,
                bucket_index=bidx,
                changelog=changelog,
            )
            try:
                self._publish(snap)
            except CommitConflict:
                if expect is not None:
                    raise
                continue
            self._maybe_auto_tag(schema, snap.snapshot_id)
            self._maybe_auto_expire(schema)
            return snap
        raise CommitConflict("gave up after 5 retries")

    def _write_manifest(
        self, schema: TableSchema, snapshot_id: int, entries: list[dict]
    ) -> str:
        """Persist a snapshot's file listing, writing O(changed files).

        Callers hand over the FULL entry list (simple to reason about);
        this diffs it against the parent snapshot and persists only a
        delta member plus a tiny manifest-list file — Paimon's base+delta
        manifest design. At 100 TB (~800k files) a commit's manifest I/O
        is a few KB instead of a few hundred MB. When the list reaches
        ``manifest.full-compaction-threshold`` members (default 10), or
        the delta would exceed the full listing, a fresh base is written
        instead — bounding read-side fold cost to ~threshold small files.
        """
        mdir = os.path.join(self.meta_path, "manifest")
        parent = (
            self.snapshot(snapshot_id - 1)
            if (snapshot_id - 1) in self.snapshot_ids()
            else None
        )
        stamp = f"{snapshot_id}-{uuid.uuid4().hex}"

        def write_full() -> str:
            name = f"manifest-{stamp}.json"
            with open(os.path.join(mdir, name), "w") as fh:
                json.dump({"entries": entries}, fh, default=str)
            return name

        if parent is None:
            return write_full()
        prev_by = {e["path"]: e for e in self.manifest_entries(parent)}
        new_by = {e["path"]: e for e in entries}
        adds = [e for p, e in new_by.items() if prev_by.get(p) != e]
        removes = [
            p
            for p in prev_by
            if p not in new_by or prev_by[p] != new_by[p]
        ]
        members = self._manifest_members(parent)
        members = members[1:] if len(members) > 1 else members
        threshold = int(
            schema.options.get("manifest.full-compaction-threshold", "10")
        )
        if (
            len(members) + 1 >= threshold
            or len(adds) + len(removes) >= max(len(entries), 1)
        ):
            return write_full()
        delta_name = f"manifest-delta-{stamp}.json"
        with open(os.path.join(mdir, delta_name), "w") as fh:
            json.dump({"adds": adds, "removes": removes}, fh, default=str)
        list_name = f"manifest-{stamp}.json"
        with open(os.path.join(mdir, list_name), "w") as fh:
            json.dump({"manifests": members + [delta_name]}, fh)
        return list_name

    def _publish(self, snap: Snapshot) -> None:
        """Claim ``snapshot-<id>.json``: O_EXCL-create it (CommitConflict
        when a concurrent commit holds the id) with its payload written in
        one call, then move the LATEST hint."""
        spath = os.path.join(
            self.meta_path, "snapshot", f"snapshot-{snap.snapshot_id}.json"
        )
        try:
            fd = os.open(spath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as exc:  # concurrent commit won this id
            raise CommitConflict(str(exc)) from exc
        with os.fdopen(fd, "w") as fh:
            fh.write(json.dumps(snap.to_json()))
        self._write_latest(snap.snapshot_id)

    def _write_latest(self, snapshot_id: int) -> None:
        """Atomically swap ``snapshot/LATEST``. Readers never use it (the
        highest snapshot file is current); it is kept for Paimon-layout
        tooling."""
        sdir = os.path.join(self.meta_path, "snapshot")
        tmp = os.path.join(sdir, f".LATEST.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(str(snapshot_id))
        os.replace(tmp, os.path.join(sdir, "LATEST"))

    def _maybe_auto_expire(self, schema: TableSchema) -> None:
        """Paimon's per-commit snapshot retention: with
        ``snapshot.num-retained.max`` and/or ``snapshot.time-retained``
        set, every commit trims history to the policy (never below
        ``snapshot.num-retained.min``, default 10) — no external cron.
        Both criteria age from the oldest end, so the drop set is a
        prefix and the standard expiry (which already respects tags,
        consumers, and branches) applies. Cost O(#snapshots) metadata,
        only when the options are set."""
        o = schema.options
        mx = o.get("snapshot.num-retained.max")
        tr = o.get("snapshot.time-retained")
        if mx is None and tr is None:
            return
        ids = self.snapshot_ids()
        mn = int(o.get("snapshot.num-retained.min", "10"))
        if mx is not None:
            mn = min(mn, int(mx))
        drop: set[int] = set()
        if mx is not None and len(ids) > int(mx):
            drop.update(ids[: len(ids) - int(mx)])
        if tr is not None:
            cutoff = int(time.time() * 1000) - _parse_duration_ms(tr)
            for sid in ids[: max(0, len(ids) - mn)]:
                if self.snapshot(sid).timestamp_ms < cutoff:
                    drop.add(sid)
        drop -= set(ids[len(ids) - mn:]) if mn > 0 else set()
        if drop:
            self.expire_snapshots(keep_last=len(ids) - len(drop))

    # -- tags: named immutable snapshot references (Paimon TagManager
    #    parity; surfaced through the same catalog `$` resolution the
    #    reference relies on, PrestoMetadata.java:141) -----------------------

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.meta_path, "tag", f"tag-{name}.json")

    def create_tag(
        self, name: str, snapshot_id: int | None = None, _auto: bool = False
    ) -> None:
        """Pin `name` to a snapshot (default: latest). The tag file stores the
        FULL snapshot payload, so the tag keeps working after the snapshot
        itself is expired — Paimon's tags have the same property."""
        if not name or "/" in name or "$" in name:
            raise ValueError(f"invalid tag name {name!r}")
        snap = self.snapshot(snapshot_id)
        if snap is None:
            raise ValueError("table has no snapshots")
        os.makedirs(os.path.join(self.meta_path, "tag"), exist_ok=True)
        path = self._tag_path(name)
        if os.path.exists(path):
            raise ValueError(f"tag {name!r} already exists")
        payload = snap.to_json()
        payload["tag_name"] = name
        payload["tag_create_ms"] = int(time.time() * 1000)
        if _auto:
            payload["tag_auto"] = True
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(payload, fh, indent=2)
        os.rename(tmp, path)

    _TAG_PERIOD_FORMATS = {"daily": "%Y-%m-%d", "hourly": "%Y-%m-%d %H"}

    def _maybe_auto_tag(self, schema: TableSchema, snapshot_id: int) -> None:
        """Paimon ``tag.automatic-creation=process-time``: after a commit,
        ensure the current period (``tag.creation-period`` daily|hourly,
        UTC) has a tag — the first commit of each period pins it, giving a
        reproducible corpus revision per day/hour with zero operator
        involvement. ``tag.num-retained-max`` prunes the OLDEST
        auto-created tags and ``tag.default-time-retained`` expires
        auto tags past their age (Paimon's auto-tag TTL); manual tags
        are never touched by either."""
        if schema.options.get("tag.automatic-creation") != "process-time":
            return
        period = schema.options.get("tag.creation-period", "daily")
        fmt = self._TAG_PERIOD_FORMATS.get(period)
        if fmt is None:
            raise ValueError(f"unsupported tag.creation-period {period!r}")
        name = time.strftime(fmt, time.gmtime())
        if not os.path.exists(self._tag_path(name)):
            self.create_tag(name, snapshot_id, _auto=True)
        retain = schema.options.get("tag.num-retained-max")
        ttl = schema.options.get("tag.default-time-retained")
        if retain is None and ttl is None:
            return
        auto: list[tuple[str, int]] = []
        for tag in self.list_tags():
            with open(self._tag_path(tag)) as fh:
                d = json.load(fh)
            if d.get("tag_auto"):
                auto.append((tag, int(d.get("tag_create_ms", 0))))
        drop: set[str] = set()
        if retain is not None:
            drop.update(
                t for t, _ in sorted(auto)[: max(0, len(auto) - int(retain))]
            )
        if ttl is not None:
            cutoff = int(time.time() * 1000) - _parse_duration_ms(ttl)
            drop.update(t for t, created in auto if created < cutoff)
        for tag in drop:
            self.delete_tag(tag)

    def delete_tag(self, name: str) -> None:
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            raise ValueError(f"tag {name!r} does not exist") from None

    def list_tags(self) -> list[str]:
        tdir = os.path.join(self.meta_path, "tag")
        if not os.path.isdir(tdir):
            return []
        return sorted(
            f[len("tag-") : -len(".json")]
            for f in os.listdir(tdir)
            if f.startswith("tag-") and f.endswith(".json")
        )

    def tag_snapshot(self, name: str) -> Snapshot:
        try:
            with open(self._tag_path(name)) as fh:
                d = json.load(fh)
        except FileNotFoundError:
            raise ValueError(f"tag {name!r} does not exist") from None
        return Snapshot(
            **{k: d[k] for k in Snapshot.__dataclass_fields__ if k in d}
        )


def _parse_duration_ms(spec: str) -> int:
    """Paimon-style duration strings: ``7 d``, ``24 h``, ``30 min``,
    ``45 s``, ``500 ms`` (unit optional whitespace, default ms)."""
    s = spec.strip().lower()
    units = [("ms", 1), ("min", 60_000), ("s", 1000), ("m", 60_000),
             ("h", 3_600_000), ("d", 86_400_000)]
    for suffix, mult in units:
        if s.endswith(suffix):
            num = s[: -len(suffix)].strip()
            if num:
                return int(float(num) * mult)
    return int(float(s))


def _typed_partition(partition: dict[str, str], schema: TableSchema) -> dict[str, Any]:
    """Partition dir values (strings) → typed python values per schema."""
    out: dict[str, Any] = {}
    for f in schema.fields:
        if f["name"] not in partition:
            continue
        raw = partition[f["name"]]
        t = f["type"]
        if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
            out[f["name"]] = None
        elif t in ("tinyint", "smallint", "int", "bigint") or _is_time_type(t):
            # TIME partitions by its physical micros-since-midnight long
            out[f["name"]] = int(raw)
        elif t in ("float", "double"):
            out[f["name"]] = float(raw)
        elif t == "boolean":
            out[f["name"]] = raw.lower() == "true"
        else:
            out[f["name"]] = raw
    return out


def _footer_stats(meta, statable: set[str]) -> dict[str, dict]:
    """Column min/max/null_count from a parquet footer (metadata only)."""
    agg: dict[str, dict] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in statable:
                continue
            try:
                st = col.statistics
            except Exception:
                # pyarrow cannot extract stats for some physical types
                # (e.g. fixed-len-byte-array decimals); no stats → no
                # skipping for this column, which is always safe
                continue
            if st is None:
                continue
            a = agg.setdefault(name, {"min": None, "max": None, "null_count": 0})
            try:
                if st.has_min_max:
                    mn, mx = st.min, st.max
                    a["min"] = mn if a["min"] is None else min(a["min"], mn)
                    a["max"] = mx if a["max"] is None else max(a["max"], mx)
            except Exception:
                # pyarrow raises lazily on .min/.max for unsupported
                # physical types
                pass
            a["null_count"] += st.null_count or 0
    for a in agg.values():  # compared as native values, stored as JSON
        a["min"], a["max"] = _plain(a["min"]), _plain(a["max"])
    return agg


def _statable(schema: TableSchema) -> set[str]:
    """Columns whose min/max/null counts the manifest records."""
    return {
        f["name"]
        for f in schema.fields
        if not f["type"].startswith(("array", "map", "struct", "binary"))
    }


def _plain(v):
    """A stats value as JSON: text, ISO-8601 dates and times, and decimals
    as exact strings — a float bound rounds, and a rounded bound can skip
    the file holding the boundary value (``_decimal_stats`` reads them)."""
    import datetime

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v


def _decimal_stats(s: dict) -> dict:
    """A decimal column's stats with exact ``Decimal`` bounds. Bounds that
    are not strings (floats, written before decimals were stored exactly)
    are dropped, so such a file is never skipped on them."""
    mn, mx = s.get("min"), s.get("max")
    if isinstance(mn, str) and isinstance(mx, str):
        return {**s, "min": decimal.Decimal(mn), "max": decimal.Decimal(mx)}
    return {**s, "min": None, "max": None}


def _rmtree_quiet(path: str) -> None:
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _copyfile(src: str, dst: str) -> None:
    import shutil

    shutil.copyfile(src, dst)

