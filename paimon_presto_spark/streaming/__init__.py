"""Structured Streaming over the table format's changes.

The reference connector is batch-only (SURVEY §1.2: Paimon streaming
options are exposed as table DDL passthrough but no streaming read exists
in the connector). This package is the Spark-native extension:
``changelog_stream`` is the ``format("paimon")`` stream reader, whose
offsets are snapshot ids — each micro-batch streams the commits between
two snapshots (the Structured Streaming offset contract), planned by the
same ``TableMeta.changes`` that ``Table.incremental_df`` reads in batch.
"""

from paimon_presto_spark.streaming.dedup import streaming_exact_dedup
from paimon_presto_spark.streaming.lookup import lookup_join
from paimon_presto_spark.streaming.sink import table_sink
from paimon_presto_spark.streaming.source import changelog_stream, track_consumer
from paimon_presto_spark.streaming.windows import sessionized, tumbling_counts

__all__ = [
    "changelog_stream",
    "lookup_join",
    "sessionized",
    "streaming_exact_dedup",
    "table_sink",
    "track_consumer",
    "tumbling_counts",
]
