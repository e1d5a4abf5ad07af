"""Streaming source over a table's changes.

``changelog_stream`` is the ``format("paimon")`` stream reader
(``sources/datasource.PaimonStreamReader``) bound to a ``Table``: offsets
are snapshot ids, and each micro-batch streams the commits in
``(start, end]`` as planned by ``TableMeta.changes`` — the same change feed
``Table.incremental_df`` reads in batch. COMPACT commits are skipped,
deletion-vector deletes arrive as ``D`` rows, and tables with
``changelog-producer=lookup`` stream their retraction changelog
(I/UB/UA/D). Every row carries ``__row_kind`` and the commit sequence
``__seq``, so consumers can apply upserts downstream (the Paimon
"changelog-producer = input" model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paimon_presto_spark import sources
from paimon_presto_spark.table import SEQ_COL, Table


def changelog_stream(
    spark: SparkSession,
    table: Table,
    starting_snapshot: int | None = None,
    consumer_id: str | None = None,
) -> DataFrame:
    """Streaming DataFrame of `table`'s changes: its columns in the latest
    schema plus ``__seq`` and ``__row_kind``. ``starting_snapshot`` is the
    Paimon ``scan.mode=from-snapshot`` startup mode: only commits at or
    after that snapshot are delivered.

    ``consumer_id`` is Paimon's consumer-id streaming mode: the stream
    resumes from the consumer's recorded ``next_snapshot`` (registering the
    consumer at the earliest unexpired snapshot on first use), and — more
    importantly — while the consumer exists, ``expire_snapshots`` will not
    reclaim anything the stream hasn't acknowledged. Pair with
    ``track_consumer`` on the sink side to advance the position as batches
    complete. Explicit ``starting_snapshot`` overrides the recorded
    position (Paimon's reset semantics).
    """
    if consumer_id is not None and consumer_id not in table.list_consumers():
        ids = table.snapshot_ids()
        table.register_consumer(consumer_id, ids[0] if ids else 1)
    options = {
        "path": table.path,
        "branch": table.branch_name,
        "changelog": "true",
        "from-snapshot": starting_snapshot,
        "consumer-id": consumer_id,
    }
    reader = sources.register_datasource(spark).readStream.format("paimon")
    for k, v in options.items():
        if v is not None:
            reader = reader.option(k, str(v))
    return reader.load()


def track_consumer(table: Table, consumer_id: str, fn=None):
    """Wrap a ``foreachBatch`` function so the consumer position advances
    as micro-batches complete (Paimon consumer-id commit semantics: the
    consumer file records the NEXT snapshot the reader needs). The stream
    reader itself acknowledges a batch only when the next run recovers
    its checkpoint; this acknowledges at the end of each batch.

    The position moves to ``max(__seq) + 1`` over the batch — i.e. past
    every fully-processed commit — and only forward, so replays after a
    restart never regress it. ``fn=None`` makes it a progress-only sink
    stage (useful when the real sink is elsewhere in the graph)::

        q = (changelog_stream(spark, t, consumer_id="etl")
             .writeStream
             .foreachBatch(track_consumer(t, "etl", table_sink(dst)))
             .option("checkpointLocation", ckpt).start())

    Retention interplay: ``expire_snapshots`` never reclaims snapshots at
    or above any consumer's recorded position, so a stream that falls
    behind (or is stopped for a weekend) holds its unread history — and
    releasing it is one ``drop_consumer`` call. This is the contract a
    100 TB ingest pipeline needs: retention pressure never silently eats
    a lagging reader's input.
    """
    from pyspark.sql import functions as _F

    def commit_batch(batch_df, batch_id: int) -> None:
        if fn is not None:
            fn(batch_df, batch_id)
        top = batch_df.agg(_F.max(SEQ_COL).alias("m")).collect()[0]["m"]
        if top is None:
            return
        current = table.list_consumers().get(consumer_id, 0)
        if top + 1 > current:
            table.register_consumer(consumer_id, top + 1)

    return commit_batch
