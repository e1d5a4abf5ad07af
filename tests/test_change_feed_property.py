"""Property test: the change feed reads the same through its batch and
streaming front ends. Random upsert/delete/compact sequences, with and
without deletion vectors: the rows ``changelog_stream`` delivers equal the
rows of ``Table.incremental_df(0)`` (both planned by ``TableMeta.changes``).
"""

import time

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from paimon_presto_spark.streaming import changelog_stream

commands = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete", "compact"]),
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 50)), min_size=1, max_size=3
        ),
    ),
    min_size=1,
    max_size=5,
)


@pytest.mark.parametrize("dv", [False, True], ids=["merge", "dv"])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cmds=commands)
def test_stream_equals_incremental_read(spark, tmp_path_factory, dv, cmds):
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    options = {"bucket": "2"}
    if dv:
        options["deletion-vectors.enabled"] = "true"
    t = c.create_table("d", "t", "k int, v int", primary_keys=["k"], options=options)
    for op, kvs in cmds:
        if t.snapshot() is None and op != "upsert":
            continue  # nothing to compact or delete yet (DV deletes need a base)
        if op == "compact":
            t.compact()
            continue
        df = spark.createDataFrame(list(dict(kvs).items()), "k int, v int")
        (t.upsert if op == "upsert" else t.delete)(df)

    want = sorted(
        (r["rowkind"][1:], r["k"], r["v"]) for r in t.incremental_df(0).collect()
    )
    name = f"feed_{time.time_ns()}"
    q = (
        changelog_stream(spark, t).writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(wh / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["__row_kind"], r["k"], r["v"]) for r in spark.table(name).collect()
    )
    assert got == want
