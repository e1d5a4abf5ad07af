"""Spark Python DataSource for the table format: ``spark.read.format("paimon")``.

This is the DataSource-API face of the engine (the architecture the
reference implements against Presto's connector SPI — handle resolution
`PrestoMetadata.java:133-165`, split planning `PrestoSplitManager.java:46-82`,
per-split readers `PrestoPageSourceProvider.java:43-86` — re-expressed on
Spark's `pyspark.sql.datasource` SPI):

- ``PaimonDataSource.schema``   — table resolution from the warehouse path.

Every metadata read and write goes through ``tablemeta.TableMeta``, the
Spark-free core ``Table`` is built on (these hooks run where no
SparkSession exists): snapshot resolution, manifest reads, partition
pruning and stats/bloom file skipping, footer stats, and the commit.
- ``PaimonReader.pushFilters``  — receives Catalyst's pushed filters,
  converts the supported subset (=, <, <=, >, >=, IN, IS [NOT] NULL — the
  exact set of ``PrestoFilterConverter.java:71-186``) into our structured
  predicate for partition pruning + manifest-stat file skipping. All
  filters are RETURNED to Spark so it re-applies them — advisory pushdown,
  like the reference keeping the Filter node (`PrestoComputePushdown
  .java:283-284`).
- ``PaimonReader.partitions``   — one input partition per (partition,
  bucket) group for primary-key tables, one per file for append-only.

KNOWN UPSTREAM HAZARD (Spark 4.1.2, pinned by tests/test_pushdown_reuse
.py): Spark caches a Python data source's planned partitions per
``.load()`` handle and re-runs pushdown planning only when the current
query carries a convertible filter — so on a REUSED handle, a filterless
scan silently reuses the last filtered scan's PRUNED plan and drops rows.
Use one ``.load()`` per query (``Table.to_df()`` and ``colocated_join()``
already do); never cache and re-filter one handle.
- ``PaimonReader.read``         — pyarrow parquet scan per partition,
  yielding Arrow RecordBatches; primary-key groups are merged IN the
  partition (pandas), which is the **shuffle-free merge-on-read**: bucketed
  writes guarantee every version of a key lives in one bucket, so the merge
  never crosses partition boundaries. (The DataFrame-path ``Table.to_df``
  merges with a window over a shuffle instead; this reader is the
  bucket-aligned variant SURVEY §7 risk 5 calls for.)
- ``PaimonWriter``              — task-parallel writes: append/overwrite
  for plain tables, upsert/delete (``option("rowkind", "D")``) for
  primary-key tables. Each task stages parquet files + footer stats and
  reports manifest entries in its commit message; the driver-side
  ``commit`` hands them to ``TableMeta._commit``, the one commit the
  Table API uses too (A22 semantics). Bucket
  assignment uses ``functions/xxhash.spark_bucket`` — a pure-Python XXH64
  bit-identical to the JVM ``pmod(xxhash64(pks), n)`` — so DataSource and
  Table-API writes interleave on one table with a consistent bucket layout.

Scale: planning cost is manifest-bounded (driver), reads are Arrow-batched
per task, and the number of input partitions = buckets × partitions, the
same parallelism contract Paimon gives its engines.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

from paimon_presto_spark.plans.predicate import P, Predicate
from paimon_presto_spark.tablemeta import (
    Snapshot,
    TableMeta,
    _footer_stats,
    _is_time_type,
    _rmtree_quiet,
    _statable,
)


def _arrow_type(ddl: str):
    """DDL type string → pyarrow type (the subset the format supports for
    hashable/statable columns; nested types pass through as-is)."""
    import pyarrow as pa

    t = ddl.lower()
    simple = {
        "boolean": pa.bool_(),
        "tinyint": pa.int8(),
        "smallint": pa.int16(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "binary": pa.binary(),
        "date": pa.date32(),
        "timestamp_ntz": pa.timestamp("us"),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    if t in simple:
        return simple[t]
    # TIME = micros-since-midnight bigint (table._parse_type convention)
    if _is_time_type(t):
        return pa.int64()
    if t.startswith("decimal"):
        p, s = t[t.index("(") + 1 : -1].split(",")
        return pa.decimal128(int(p), int(s))
    return None  # nested/unknown: leave the file's own type


_SYS_DDL = {"__seq": "bigint", "__pos": "bigint", "__row_kind": "string"}


def _cast_to_schema(tbl, schema: dict, writing: bool = False):
    """Cast an arrow table's columns to the table's declared types so Spark
    receives exactly the schema it planned for (files written by different
    engines may use wider physical types, e.g. int64 for an int column).

    ``writing=True`` additionally applies WRITE-side constraints — CHAR(n)
    blank-padding and the VARCHAR(n) bound. Reads must NOT enforce them:
    pre-existing files (foreign writers, pre-constraint data) would make
    the whole table unreadable, and the DataFrame read path (Table.to_df)
    applies no such check either.
    """
    import pyarrow as pa

    ddl = {f["name"]: f["type"] for f in schema["fields"]} | _SYS_DDL
    fields = []
    for name in tbl.column_names:
        at = _arrow_type(ddl.get(name, ""))
        fields.append(
            pa.field(name, at if at is not None else tbl.schema.field(name).type)
        )
    tbl = tbl.cast(pa.schema(fields))
    if not writing:
        return tbl
    # CHAR(n) blank-padding and VARCHAR(n) bound enforcement, sharing the
    # DDL parsers with the DataFrame write path (table._char_len /
    # _varchar_len are the single source of truth for the bound rules)
    import pyarrow.compute as pc

    from paimon_presto_spark.table import _char_len, _varchar_len

    for name, t in ddl.items():
        if name not in tbl.column_names:
            continue
        cn = _char_len(t)
        if cn is not None:
            idx = tbl.column_names.index(name)
            tbl = tbl.set_column(
                idx, name, pc.utf8_rpad(tbl.column(name), cn, " ")
            )
        n = _varchar_len(t)
        if n is not None:
            longest = pc.max(pc.utf8_length(tbl.column(name))).as_py()
            if longest is not None and longest > n:
                raise ValueError(
                    f"value too long for type varchar({n}) in column {name!r} "
                    f"(max length {longest})"
                )
    return tbl


def _filters_to_predicate(filters: Sequence[Filter]) -> Predicate | None:
    """Convert Spark's pushed filters (ANDed) to our predicate AST.

    Unsupported shapes are skipped — they stay Spark-side, which is safe
    because pushdown here is advisory (the same contract as the reference's
    ``UnsupportedOperationException`` catch, ``PrestoFilterConverter
    .java:87-90``).
    """
    parts: list[Predicate] = []
    for f in filters:
        try:
            col = f.attribute[-1]  # ColumnPath tuple; nested refs unsupported
            if len(f.attribute) != 1:
                continue
            if isinstance(f, EqualTo):
                parts.append(P.eq(col, f.value))
            elif isinstance(f, GreaterThan):
                parts.append(P.gt(col, f.value))
            elif isinstance(f, GreaterThanOrEqual):
                parts.append(P.gte(col, f.value))
            elif isinstance(f, LessThan):
                parts.append(P.lt(col, f.value))
            elif isinstance(f, LessThanOrEqual):
                parts.append(P.lte(col, f.value))
            elif isinstance(f, In):
                parts.append(P.in_(col, list(f.values)))
            elif isinstance(f, IsNull):
                parts.append(P.is_null(col))
            elif isinstance(f, IsNotNull):
                parts.append(P.not_null(col))
            elif isinstance(f, StringStartsWith):
                parts.append(P.starts_with(col, f.value))
        except Exception:
            continue
    if not parts:
        return None
    pred = parts[0]
    for p in parts[1:]:
        pred = pred & p
    return pred


class PaimonPartition(InputPartition):
    def __init__(
        self,
        files: list[tuple[str, int]],  # (absolute path, writer schema_id)
        merge: str | None,
        schema: dict,
        writer_schemas: dict[int, dict],  # schema_id -> schema JSON
        dv: dict[str, list[int]] | None = None,  # abs path -> deleted row positions
    ):
        self.files = files
        self.merge = merge  # merge-engine name, or None for append-only
        self.schema = schema  # snapshot's table schema JSON
        self.writer_schemas = writer_schemas
        self.dv = dv


def bucket_splits(
    core: TableMeta, snap: Snapshot, entries: list[dict], key
) -> dict[Any, PaimonPartition]:
    """Planned manifest entries → one split per ``key(entry)``, each
    carrying its files' writer schemas and deletion-vector positions.
    Shared by ``PaimonReader.partitions`` and the co-located join planner
    (``sources/colocated.py``)."""
    schema = core.schema(snap.schema_id)
    merge = (
        schema.options.get("merge-engine", "deduplicate")
        if schema.primary_keys
        else None
    )
    dv = core.dv_positions(snap.dv_index)
    writers = {
        sid: core.schema(sid).to_json() for sid in {e["schema_id"] for e in entries}
    }
    groups: dict[Any, list[dict]] = {}
    for e in entries:
        groups.setdefault(key(e), []).append(e)
    return {
        k: PaimonPartition(
            [(os.path.join(core.path, e["path"]), e["schema_id"]) for e in es],
            merge,
            schema.to_json(),
            {e["schema_id"]: writers[e["schema_id"]] for e in es},
            {
                os.path.join(core.path, e["path"]): dv[e["path"]]
                for e in es
                if e["path"] in dv
            }
            or None,
        )
        for k, es in groups.items()
    }


class PaimonReader(DataSourceReader):
    def __init__(self, options: dict):
        self.core = TableMeta(options["path"], options.get("branch"))
        self.snapshot_id = (
            int(options["snapshot"]) if "snapshot" in options else None
        )
        self.tag = options.get("tag")
        self.as_of_ms = (
            int(options["as-of-timestamp-ms"])
            if "as-of-timestamp-ms" in options
            else None
        )
        self.predicate: Predicate | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        self.predicate = _filters_to_predicate(filters)
        # Return ALL filters: Spark re-applies them (advisory pushdown); we
        # only use them to shrink the file list.
        return iter(filters)

    def partitions(self) -> Sequence[PaimonPartition]:
        core = self.core
        snap = core.resolve_snapshot(self.snapshot_id, self.as_of_ms, self.tag)
        if snap is None:
            return [PaimonPartition([], None, core.schema().to_json(), {})]
        entries, _ = core.plan_entries(snap, self.predicate)
        if core.schema(snap.schema_id).primary_keys:
            # one split per (partition, bucket): every version of a key
            # lives in its bucket, so the split merges on its own
            def key(e):
                return json.dumps(e["partition"], sort_keys=True), e["bucket"]
        else:
            def key(e):
                return e["path"]
        splits = list(bucket_splits(core, snap, entries, key).values())
        return splits or [PaimonPartition([], None, {"fields": []}, {})]

    def read(self, partition: PaimonPartition):
        tbl = read_split_arrow(partition)
        if tbl is None:
            return iter(())
        return iter(tbl.to_batches(max_chunksize=4096))


def read_split_arrow(partition: PaimonPartition):
    """One (partition, bucket) split → a fully merged pyarrow Table in the
    snapshot schema (or None for an empty split). This is the executor-side
    read path shared by ``PaimonReader`` and the co-located bucket join
    (``sources/colocated.py``): field-id projection across writer schemas,
    deletion-vector position drops, merge-on-read, schema cast."""
    import pyarrow as pa

    schema = partition.schema
    names = [f["name"] for f in schema["fields"]]
    if not partition.files:
        return None
    # field-id projection: files written under older schemas render
    # through the snapshot schema (renames follow the id, dropped
    # columns vanish, added columns null-fill) — the A18 contract,
    # same as table._project_to on the DataFrame path
    writer_schemas = partition.writer_schemas

    def read_one(f: str):
        t = _read_arrow_file(f)
        dead = (partition.dv or {}).get(f)
        if dead:
            import numpy as np

            mask = np.ones(t.num_rows, dtype=bool)
            mask[dead] = False  # drop deletion-vector positions at scan
            t = t.filter(pa.array(mask))
        return t

    tables = [
        _project_arrow(read_one(f), writer_schemas[sid], schema)
        for f, sid in partition.files
    ]
    tbl = pa.concat_tables(tables, promote_options="permissive")
    if partition.merge is not None:
        tbl = _merge_arrow(tbl, schema, partition.merge)
    tbl = tbl.select([n for n in names if n in tbl.column_names])
    return _cast_to_schema(tbl, schema)


def _read_arrow_file(f: str):
    """Data file → pyarrow Table. Parquet and ORC ride pyarrow's native
    readers; .avro files (``file.format=avro`` tables) decode through the
    pure-Python container codec — per-split parallelism is identical, and
    column names/values match what the writer staged, so downstream
    field-id projection and merge are format-blind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if f.endswith(".orc"):
        import pyarrow.orc as po

        return po.read_table(f)
    if not f.endswith(".avro"):
        return pq.read_table(f)
    from paimon_presto_spark.sources import avroio

    avro_schema, _, _, _ = avroio.read_header(f)
    spark_schema, _ = avroio.avro_to_spark_type(avro_schema)
    rows = list(avroio.read_file_rows(f))
    cols, names = [], []
    sys_types = {
        "__seq": pa.int64(),
        "__pos": pa.int64(),
        "__row_kind": pa.string(),
        "__bucket": pa.int32(),
    }
    for fld in spark_schema.fields:
        names.append(fld.name)
        typ = sys_types.get(fld.name)
        vals = [r.get(fld.name) for r in rows]
        if typ is None:
            cols.append(pa.array(vals))
        else:
            cols.append(pa.array(vals, type=typ))
    return pa.table(dict(zip(names, cols)))


def _project_arrow(tbl, writer_schema: dict, reader_schema: dict):
    """Project a file written under `writer_schema` to `reader_schema` by
    field id (arrow twin of ``table._project_to``)."""
    import pyarrow as pa

    by_id = {f["id"]: f for f in writer_schema["fields"]}
    n = tbl.num_rows
    cols, names = [], []
    for f in reader_schema["fields"]:
        w = by_id.get(f["id"])
        target = _arrow_type(f["type"])
        if w is not None and w["name"] in tbl.column_names:
            col = tbl.column(w["name"])
            if target is not None:
                col = col.cast(target)
            cols.append(col)
        else:
            cols.append(pa.nulls(n, type=target or pa.string()))
        names.append(f["name"])
    for c in ("__seq", "__pos", "__row_kind"):
        if c in tbl.column_names:
            cols.append(tbl.column(c))
            names.append(c)
    return pa.table(dict(zip(names, cols)))


def _merge_arrow(tbl, schema: dict, engine: str):
    """Per-bucket merge-on-read in Arrow/pandas (no shuffle — every version
    of a key is in this bucket by the write-side hash contract)."""
    import pyarrow as pa

    pdf = tbl.to_pandas()
    pks = schema["primary_keys"]
    pdf = pdf.sort_values(["__seq", "__pos"], kind="stable")
    # sequence.field: largest sequence value wins, commit order only
    # breaking ties (twin of table._merge_on_read, incl. its engine
    # validation). NaN sorts first (ascending): null versions always lose.
    seqf = [
        c.strip()
        for c in schema.get("options", {}).get("sequence.field", "").split(",")
        if c.strip()
    ]
    if seqf and engine in ("first-row", "aggregation"):
        raise ValueError(
            f"sequence.field is not supported with merge-engine {engine!r}"
        )
    if seqf:
        pdf = pdf.sort_values(
            seqf + ["__seq", "__pos"], kind="stable", na_position="first"
        )
    if engine == "deduplicate":
        pdf = pdf.drop_duplicates(pks, keep="last")
        pdf = pdf[pdf["__row_kind"] != "D"]
    elif engine == "first-row":
        pdf = pdf[pdf["__row_kind"] != "D"].drop_duplicates(pks, keep="first")
    elif engine == "partial-update":
        pdf = pdf[pdf["__row_kind"] != "D"]
        data_cols = [c for c in pdf.columns if c not in pks and not c.startswith("__")]
        opts = schema.get("options", {})
        groups = {
            opt[len("fields."):-len(".sequence-group")]: [
                c.strip() for c in val.split(",") if c.strip()
            ]
            for opt, val in opts.items()
            if opt.startswith("fields.") and opt.endswith(".sequence-group")
        }
        if groups:
            # sequence-group semantics (pandas twin of table._merge_on_read):
            # group columns order by THEIR sequence column; commit order
            # only breaks ties; null-sequence rows never update the group
            owner = {c: s for s, cs in groups.items() for c in cs}
            base = pdf.drop_duplicates(pks, keep="last")[pks].copy()
            for c in data_cols:
                s = owner.get(c)
                if c in groups:
                    frame = pdf[~pdf[c].isna()].sort_values(
                        [c, "__seq", "__pos"], kind="stable"
                    )
                elif s is not None:
                    frame = pdf[(~pdf[s].isna()) & (~pdf[c].isna())].sort_values(
                        [s, "__seq", "__pos"], kind="stable"
                    )
                else:
                    frame = pdf[~pdf[c].isna()]  # already in commit order
                pick = frame.drop_duplicates(pks, keep="last")[pks + [c]]
                base = base.merge(pick, on=pks, how="left")
            pdf = base
        else:
            filled = pdf.groupby(pks, sort=False)[data_cols].ffill()
            pdf[data_cols] = filled
            pdf = pdf.drop_duplicates(pks, keep="last")
    elif engine == "aggregation":
        pdf = pdf[pdf["__row_kind"] != "D"]
        opts = schema.get("options", {})

        def _collect(distinct):
            def agg(s):
                out = [x for lst in s.dropna() for x in lst]
                return list(dict.fromkeys(out)) if distinct else out
            return agg

        def _merge_map(s):
            vals = s.dropna()
            if not len(vals):
                return None
            merged: dict = {}
            for m in vals:  # arrow maps render as [(k, v), ...]
                merged.update(dict(m))
            return list(merged.items())

        aggs = {}
        for f in schema["fields"]:
            c = f["name"]
            if c in pks:
                continue
            fn = opts.get(f"fields.{c}.aggregate-function", "last_non_null")
            if fn == "collect":
                aggs[c] = _collect(opts.get(f"fields.{c}.distinct") == "true")
            elif fn == "merge_map":
                aggs[c] = _merge_map
            else:
                aggs[c] = {
                    "sum": "sum", "max": "max", "min": "min", "count": "count",
                    "last_non_null": lambda s: s.dropna().iloc[-1] if s.notna().any() else None,
                }[fn]
        pdf = pdf.groupby(pks, as_index=False, sort=False).agg(aggs)
    else:
        raise ValueError(f"unknown merge-engine {engine!r}")
    keep = [f["name"] for f in schema["fields"] if f["name"] in pdf.columns]
    # preserve the writer's arrow types (pandas round-trip can widen)
    target = pa.schema([tbl.schema.field(n) for n in keep])
    return pa.Table.from_pandas(pdf[keep], schema=target, preserve_index=False)


class PaimonCommitMessage(WriterCommitMessage):
    def __init__(self, entries: list[dict]):
        self.entries = entries


class PaimonWriter(DataSourceWriter):
    """Task-parallel writes: append/overwrite for plain tables, upsert (or
    delete via ``option("rowkind", "D")``) for primary-key tables.

    Each task stages its rows as parquet under ``.staging-ds-<id>`` with
    ``tablemeta._footer_stats`` and reports manifest entries; ``commit``
    gives them to ``TableMeta._commit``, the commit every Table-API write
    goes through: it moves the files into ``data/``, writes the manifest
    and claims the next snapshot id, re-stacking on a racing commit's
    manifest and retrying, and runs the retention and auto-tag hooks.
    Primary-key rows carry (``__seq``, ``__pos``, ``__row_kind``) and land
    in the bucket directory chosen by ``functions/xxhash.spark_bucket`` —
    bit-identical to the JVM write path's ``pmod(xxhash64(pks), n)``, so
    DataSource and Table-API writes interleave safely on one table. The
    ``__seq`` stamp is the snapshot id expected at writer construction; as
    on the Table API, a retried commit keeps the stamp its files carry.
    """

    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]  # data root
        self.core = TableMeta(self.path, options.get("branch"))
        self.overwrite = overwrite
        schema = self.core.schema()
        opts = schema.options
        if opts.get("file.format", "parquet") != "parquet":
            raise NotImplementedError(
                "paimon DataSource writes parquet only; write avro tables "
                "via paimon_presto_spark.Catalog (Table.append/upsert)"
            )
        self.schema = schema
        self.pks = schema.primary_keys
        self.row_kind = options.get("rowkind", "I")
        if self.row_kind not in ("I", "D"):
            raise ValueError("rowkind must be 'I' or 'D'")
        # per-row kinds from a column of the written frame (the DataSource
        # twin of the table option rowkind.field — one batch mixes
        # inserts and tombstones). A table DECLARING rowkind.field gets it
        # by default: its writes are CDC batches by contract, and treating
        # a '-D' marker row as a plain insert would store the tombstone as
        # data and leave the key alive.
        self.rowkind_field = options.get("rowkind-field") or opts.get(
            "rowkind.field"
        )
        if self.rowkind_field is not None:
            if not self.pks:
                raise ValueError("rowkind-field requires a primary-key table")
            if "rowkind" in options:
                raise ValueError("rowkind and rowkind-field are exclusive")
            names = set(schema.field_names())
            # "__row_kind" is the changelog stream's own kind column — a
            # paimon→paimon CDC pipe passes it straight through (drop UB
            # rows first: they carry pre-images, UA already replaces)
            if self.rowkind_field not in names and self.rowkind_field != "__row_kind":
                raise ValueError(
                    f"rowkind-field {self.rowkind_field!r} is not a column")
            # mirror Table._check_cdc_batch_supported: on partial-update/
            # aggregation tables the read path's merge filters 'D' rows
            # before combining, so a '-D' tombstone written here would
            # silently no-op — the Table API raises; this path must too
            engine = opts.get("merge-engine", "deduplicate")
            if engine != "deduplicate":
                raise ValueError(
                    f"rowkind-field requires merge-engine deduplicate, "
                    f"got {engine!r} (tombstones would be silently "
                    f"discarded by the merge read path)"
                )
        if self.pks and opts.get("changelog-producer") == "lookup":
            # the lookup producer needs a pre-commit key lookup against the
            # merged state; task-parallel writers can't do that, and a
            # commit WITHOUT a changelog would leave a silent hole in the
            # retraction stream every downstream consumer reads
            raise ValueError(
                "primary-key table has changelog-producer=lookup; write "
                "through Table.upsert()/delete()/merge_into() so every "
                "commit materializes its changelog"
            )
        if self.pks and overwrite:
            raise ValueError(
                "overwrite mode on a primary-key table is ambiguous; use "
                "Table.overwrite() for an explicit full replacement"
            )
        if self.pks and opts.get("bucket") == "-1":
            # bucket assignment needs the key index (a join per commit);
            # the Table API owns dynamic-bucket writes
            raise ValueError(
                "primary-key table uses dynamic bucketing (bucket=-1); write "
                "through Table.upsert()/delete() so keys keep their buckets"
            )
        if self.pks and opts.get("deletion-vectors.enabled") == "true":
            # DV upserts must mark old positions in the same commit (a
            # key-lookup job); task-parallel writers can't do that, so the
            # Table API owns DV mutations
            raise ValueError(
                "primary-key table has deletion-vectors.enabled; write through "
                "Table.upsert()/delete() so the deletion-vector index stays "
                "consistent"
            )
        prev = self.core.snapshot()
        self.next_snapshot = (prev.snapshot_id + 1) if prev else 1
        self.staging = os.path.join(self.path, f".staging-ds-{uuid.uuid4().hex}")

    def write(self, iterator) -> PaimonCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if self.rowkind_field is not None:
            # UB / -U rows are UPDATE pre-images: the UA/+U row already
            # replaces the key, and writing the pre-image (as insert OR
            # tombstone) would race it — cross-task __pos order is salted,
            # so the task-parallel writer cannot resolve within-batch
            # winners the way Table._commit_cdc_batch does. Dropping them
            # is Paimon's own pk-sink treatment of UPDATE_BEFORE; real
            # deletes arrive as -D/D.
            rows = [
                r
                for r in rows
                if str(r[self.rowkind_field]).upper() not in ("UB", "-U")
            ]
        if not rows:
            return PaimonCommitMessage([])
        names = self.schema.field_names()
        types = {f["name"]: f["type"] for f in self.schema.fields}
        part_keys = self.schema.partition_keys
        # index by name, not getattr: Row.__getattr__ rejects the __seq/
        # __row_kind system columns a paimon→paimon changelog pipe carries
        cols = {n: [r[n] for r in rows] for n in names}
        if self.pks:
            from paimon_presto_spark.functions.xxhash import spark_bucket

            nb = self.schema.num_buckets
            pk_t = [(k, types[k]) for k in self.pks]
            buckets = [
                spark_bucket(nb, [(r[k], t) for k, t in pk_t])
                for r in rows
            ]
            # __pos only disambiguates same-key rows inside this commit;
            # a per-task random high word keeps it unique across tasks
            # (same role monotonically_increasing_id plays on the JVM path)
            salt = uuid.uuid4().int & 0x7FFFFFFF
            cols["__seq"] = [self.next_snapshot] * len(rows)
            cols["__pos"] = [(salt << 32) | i for i in range(len(rows))]
            if self.rowkind_field is not None:
                cols["__row_kind"] = [
                    "D"
                    if str(r[self.rowkind_field]).upper() in ("-D", "D")
                    else "I"
                    for r in rows
                ]
            else:
                cols["__row_kind"] = [self.row_kind] * len(rows)
        tbl = pa.table(cols)
        os.makedirs(self.staging, exist_ok=True)
        entries = []
        statable = _statable(self.schema)
        schema_json = self.schema.to_json()
        seq = self.next_snapshot if self.pks else 0

        def _write_group(sub_tbl, partition: dict[str, Any], bucket: int = 0):
            name = f"data-ds-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(self.staging, name)
            pq.write_table(_cast_to_schema(sub_tbl, schema_json, writing=True), dst)
            entries.append(
                {
                    "path": name,  # commit() prefixes its data/ directory
                    # absolute staged location: the streaming runner's
                    # driver-side writer instance is NOT the task's, so
                    # the message must carry where the file actually is
                    "staged": dst,
                    "partition": {k: str(v) for k, v in partition.items()},
                    "bucket": bucket,
                    "row_count": sub_tbl.num_rows,
                    "file_size": os.path.getsize(dst),
                    "schema_id": self.schema.schema_id,
                    "min_seq": seq,
                    "max_seq": seq,
                    "stats": _footer_stats(pq.ParquetFile(dst).metadata, statable),
                }
            )

        out_names = names + (["__seq", "__pos", "__row_kind"] if self.pks else [])
        group_cols = list(part_keys)
        pdf = None
        if self.pks:
            pdf = tbl.to_pandas()
            pdf["__grp_bucket"] = buckets
            group_cols = group_cols + ["__grp_bucket"]
        elif part_keys:
            pdf = tbl.to_pandas()
        if pdf is not None:
            for gvals, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                if not isinstance(gvals, tuple):
                    gvals = (gvals,)
                gmap = dict(zip(group_cols, gvals))
                bucket = int(gmap.pop("__grp_bucket", 0))
                _write_group(
                    pa.Table.from_pandas(sub, preserve_index=False).select(out_names),
                    gmap,
                    bucket,
                )
        else:
            _write_group(tbl, {})
        return PaimonCommitMessage(entries)

    def _discard_staging(self, messages) -> None:
        """Remove the staging dirs of this writer and of `messages`' files
        (a streaming task's dir is not the driver instance's)."""
        for d in {self.staging} | {
            os.path.dirname(e["staged"]) for m in messages if m for e in m.entries
        }:
            _rmtree_quiet(d)

    def commit(self, messages) -> None:
        entries = [e for m in messages if m for e in m.entries]
        for e in entries:
            parts = [f"__part_{k}={v}" for k, v in sorted(e["partition"].items())]
            if self.pks:
                parts.append(f"__bucket={e['bucket']}")
            e["path"] = os.path.join("data", *parts, e["path"])
        if self.overwrite:
            kind = "OVERWRITE"
        elif not self.pks:
            kind = "APPEND"
        elif self.row_kind == "D" and self.rowkind_field is None:
            kind = "DELETE"
        else:
            kind = "UPSERT"
        try:
            self.core._commit(self.schema, kind, entries, replace=self.overwrite)
        finally:
            self._discard_staging(messages)

    def abort(self, messages) -> None:
        self._discard_staging(messages)


class PaimonStreamWriter(PaimonWriter, DataSourceStreamWriter):
    """Streaming sink: ``df.writeStream.format("paimon")`` — every
    micro-batch is one atomic snapshot commit, exactly-once via batch-id
    idempotence (a replayed batch's staged files are discarded, not
    re-committed), the same contract as ``streaming.table_sink`` but
    running on Spark's native sink protocol instead of foreachBatch.

    The ``__seq`` stamp moves from writer construction to per-batch:
    tasks stamp it from the latest snapshot they observe, and the
    driver's commit is the batch writer's ``TableMeta._commit``, which
    re-stacks on a racing external commit instead of failing the batch.
    """

    def __init__(self, options: dict, overwrite: bool):
        super().__init__(options, overwrite=False)
        self.query_name = options.get("query-name", "default")

    def _batches_path(self) -> str:
        return os.path.join(
            self.core.meta_path, "streaming", f"ds-batches-{self.query_name}.json"
        )

    def _committed(self) -> set[int]:
        try:
            with open(self._batches_path()) as fh:
                return set(json.load(fh))
        except FileNotFoundError:
            return set()

    def write(self, iterator):
        # re-resolve the __seq stamp per micro-batch (the batch writer
        # pins it once at construction; a stream commits many times)
        prev = self.core.snapshot()
        self.next_snapshot = (prev.snapshot_id + 1) if prev else 1
        return super().write(iterator)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        done = self._committed()
        if batchId in done:
            # replay of a durable batch: drop its staged files, commit nothing
            self._discard_staging(messages)
            return
        PaimonWriter.commit(self, messages)
        os.makedirs(os.path.dirname(self._batches_path()), exist_ok=True)
        done.add(int(batchId))
        tmp = self._batches_path() + f".{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(sorted(done), fh)
        os.replace(tmp, self._batches_path())

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        self._discard_staging(messages)


class PaimonStreamPartition(InputPartition):
    def __init__(
        self,
        mode: str,  # "files" | "clg" | "dvdiff"
        schema: dict,
        seq: int,
        files: list[tuple[str, int]] | None = None,  # (abs path, schema_id)
        positions: dict[str, tuple[int, list[int]]] | None = None,
        clg_dir: str | None = None,
        writer_schemas: dict[int, dict] | None = None,  # schema_id -> JSON
    ):
        self.mode = mode
        self.schema = schema
        self.writer_schemas = writer_schemas or {}
        self.seq = seq
        self.files = files or []
        self.positions = positions or {}
        self.clg_dir = clg_dir


class PaimonStreamReader(DataSourceStreamReader):
    """Snapshot-range streaming source (``spark.readStream.format("paimon")``).

    Offsets are snapshot ids — the natural exactly-once unit of this
    format: ``latestOffset`` is a driver-side metadata read, each
    micro-batch covers the commits in ``(start, end]``, and COMPACT
    commits are skipped (rewrites are not new data — same contract as
    ``Table.incremental_df``). Tables with ``changelog-producer=lookup``
    stream their materialized retraction changelog (I/UB/UA/D);
    deletion-vector commits re-emit newly-deleted positions as D rows,
    so consumers always see a lossless change stream.

    ``option("consumer-id", name)`` records progress in the table's
    consumer file at each epoch commit — retention then never expires
    unread snapshots (the same guarantee the DataFrame-path consumer
    mechanism gives; here it rides Spark's own offset commits).
    """

    def __init__(self, options: dict):
        self.core = TableMeta(options["path"], options.get("branch"))
        self.consumer = options.get("consumer-id") or options.get("consumer_id")
        self.starting = options.get("startingoffsets", options.get(
            "startingOffsets", "earliest"))
        # Paimon's scan.mode=from-snapshot: begin the stream AT a specific
        # snapshot id (inclusive) — the reproducible-replay startup a
        # backfill pipeline wants. Exclusive with startingOffsets=latest.
        self.from_snapshot = options.get("from-snapshot")
        if self.from_snapshot is not None:
            if str(self.starting).lower() == "latest":
                raise ValueError(
                    "from-snapshot and startingOffsets=latest are exclusive")
            self.from_snapshot = int(self.from_snapshot)

    def initialOffset(self) -> dict:
        if self.consumer:
            nxt = self.core.list_consumers().get(self.consumer)
            if nxt is not None:
                return {"snapshot": nxt - 1}
        if self.from_snapshot is not None:
            return {"snapshot": max(0, self.from_snapshot - 1)}
        if str(self.starting).lower() == "latest":
            return self.latestOffset()
        return {"snapshot": 0}

    def latestOffset(self) -> dict:
        ids = self.core.snapshot_ids()
        return {"snapshot": ids[-1] if ids else 0}

    def partitions(self, start: dict, end: dict) -> Sequence[PaimonStreamPartition]:
        core = self.core
        lo, hi = start["snapshot"], end["snapshot"]
        producer = core.schema().options.get("changelog-producer")
        all_ids = core.snapshot_ids()
        parts: list[PaimonStreamPartition] = []
        prev_paths: set[str] | None = None
        prev_dv = core.snapshot(lo).dv_index if lo in all_ids else None

        def writers(sids) -> dict[int, dict]:
            return {sid: core.schema(sid).to_json() for sid in sids}

        for sid in (i for i in all_ids if lo < i <= hi):
            snap = core.snapshot(sid)
            schema = core.schema(snap.schema_id).to_json()
            entries = core.manifest_entries(snap)
            if producer == "lookup":
                if snap.changelog:
                    parts.append(PaimonStreamPartition(
                        "clg", schema, sid,
                        clg_dir=os.path.join(
                            core.meta_path, "changelog", snap.changelog),
                    ))
                prev_paths = {e["path"] for e in entries}
                prev_dv = snap.dv_index
                continue
            if snap.commit_kind != "COMPACT":
                if prev_paths is None:
                    prev_paths = (
                        {e["path"] for e in
                         core.manifest_entries(core.snapshot(sid - 1))}
                        if sid - 1 in all_ids
                        else set()
                    )
                new = [e for e in entries if e["path"] not in prev_paths]
                for e in new:
                    parts.append(PaimonStreamPartition(
                        "files", schema, sid,
                        files=[(os.path.join(core.path, e["path"]),
                                e["schema_id"])],
                        writer_schemas=writers([e["schema_id"]]),
                    ))
                # deletion-vector diff: positions newly marked dead in this
                # commit come back as D rows (lossless, like incremental_df)
                dv = snap.dv_index
                if dv and dv != prev_dv:
                    diff = core.dv_positions(dv)
                    if prev_dv:
                        old = core.dv_positions(prev_dv)
                        diff = {
                            f: sorted(set(ps) - set(old.get(f, [])))
                            for f, ps in diff.items()
                        }
                    by_schema: dict[str, tuple[int, list[int]]] = {}
                    path_sid = {e["path"]: e["schema_id"] for e in entries}
                    for f, ps in diff.items():
                        if ps and f in path_sid:
                            by_schema[os.path.join(core.path, f)] = (
                                path_sid[f], ps)
                    if by_schema:
                        parts.append(PaimonStreamPartition(
                            "dvdiff", schema, sid,
                            positions=by_schema,
                            writer_schemas=writers(
                                {i for i, _ in by_schema.values()}),
                        ))
            prev_paths = {e["path"] for e in entries}
            prev_dv = snap.dv_index
        return parts

    def read(self, partition: PaimonStreamPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = partition.schema
        names = [f["name"] for f in schema["fields"]]
        out_names = names + [_SEQ, _KIND]

        def finalize(tbl, seq_default: int, kind_default: str):
            n = tbl.num_rows
            cols = []
            for c in out_names:
                if c in tbl.column_names:
                    cols.append(tbl.column(c))
                elif c == _SEQ:
                    cols.append(pa.array([seq_default] * n, type=pa.int64()))
                elif c == _KIND:
                    cols.append(pa.array([kind_default] * n, type=pa.string()))
                else:
                    at = _arrow_type(
                        next(f["type"] for f in schema["fields"] if f["name"] == c)
                    )
                    cols.append(pa.nulls(n, type=at or pa.string()))
            tbl = pa.table(dict(zip(out_names, cols)))
            return iter(_cast_to_schema(tbl, schema).to_batches(max_chunksize=4096))

        if partition.mode == "clg":
            files = [
                os.path.join(partition.clg_dir, f)
                for f in os.listdir(partition.clg_dir)
                if f.startswith("part-") and f.endswith(".parquet")
            ]
            if not files:
                return iter(())
            tbl = pa.concat_tables(
                [pq.read_table(f) for f in files], promote_options="permissive"
            )
            return finalize(tbl, partition.seq, "I")
        if partition.mode == "dvdiff":
            tables = []
            for f, (sid, positions) in partition.positions.items():
                t = _project_arrow(
                    pq.read_table(f).take(positions),
                    partition.writer_schemas[sid],
                    schema,
                )
                tables.append(t.select([c for c in t.column_names if c in names]))
            tbl = pa.concat_tables(tables, promote_options="permissive")
            return finalize(tbl, partition.seq, "D")
        tables = [
            _project_arrow(
                _read_arrow_file(f), partition.writer_schemas[sid], schema
            )
            for f, sid in partition.files
        ]
        if not tables:
            return iter(())
        tbl = pa.concat_tables(tables, promote_options="permissive")
        if "__pos" in tbl.column_names:
            tbl = tbl.drop_columns(["__pos"])
        return finalize(tbl, partition.seq, "I")

    def commit(self, end: dict) -> None:
        if self.consumer:
            self.core.register_consumer(self.consumer, int(end["snapshot"]) + 1)


_SEQ = "__seq"
_KIND = "__row_kind"


def spark_ddl_type(t: str) -> str:
    """Table-schema type → Spark DDL type for Python-DataSource schemas.

    TIME is stored/read as micros-since-midnight bigint (the
    table._parse_type convention); Spark's DDL parser has no TIME.
    CHAR(n)/VARCHAR(n) read as plain string — the bound/padding are
    write-side concerns, and Spark's Arrow conversion for Python data
    sources rejects Char/VarcharType."""
    import re as _re

    if _is_time_type(t):
        return "bigint"
    if _re.match(r"^\s*(var)?char\s*\(\s*\d+\s*\)\s*$", t, _re.I):
        return "string"
    return t


class PaimonDataSource(DataSource):
    """``spark.dataSource.register(PaimonDataSource)`` then
    ``spark.read.format("paimon").option("path", table_dir).load()``;
    ``spark.readStream.format("paimon").option("changelog", "true")``
    streams the table's change rows with snapshot-id offsets."""

    @classmethod
    def name(cls) -> str:
        return "paimon"

    def schema(self) -> str:
        schema = TableMeta(self.options["path"], self.options.get("branch")).schema()
        cols = ", ".join(
            f"`{f['name']}` {spark_ddl_type(f['type'])}" for f in schema.fields
        )
        if self.options.get("changelog") == "true":
            cols += f", `{_SEQ}` bigint, `{_KIND}` string"
        return cols

    def reader(self, schema) -> PaimonReader:
        if self.options.get("changelog") == "true":
            raise ValueError(
                "changelog=true is a streaming option; use spark.readStream "
                "(batch change reads: Table.incremental_df / changelog_df)"
            )
        return PaimonReader(self.options)

    def streamReader(self, schema) -> PaimonStreamReader:
        if self.options.get("changelog") != "true":
            raise ValueError(
                "streaming reads require option(\"changelog\", \"true\") — "
                "the stream carries __seq/__row_kind change semantics"
            )
        return PaimonStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> PaimonWriter:
        return PaimonWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> PaimonStreamWriter:
        if overwrite:
            raise ValueError(
                "streaming into a paimon table is append/upsert per "
                "micro-batch; complete-mode overwrite is not supported"
            )
        return PaimonStreamWriter(self.options, overwrite)
