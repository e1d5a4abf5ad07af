"""Property test: random upsert/delete command sequences replayed through the
table format must equal a plain dict replay (SURVEY §5 — our upgrade over
the reference's fixed-fixture ITCases).
"""

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

commands = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=1, max_size=4
        ),
    ),
    min_size=1,
    max_size=5,
)
# the same commands, each through a drawn front end: the Table API or
# format("paimon") (both commit through tablemeta's one core)
front_commands = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.sampled_from(["api", "datasource"]),
        st.lists(
            st.tuples(st.integers(0, 6), st.integers(0, 100)), min_size=1, max_size=4
        ),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cmds=front_commands)
def test_mor_equals_dict_replay(spark, tmp_path_factory, cmds):
    from paimon_presto_spark.catalog import Catalog
    from paimon_presto_spark.sources.datasource import PaimonDataSource

    spark.dataSource.register(PaimonDataSource)
    wh = tmp_path_factory.mktemp("wh")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "k int, v int", primary_keys=["k"])

    def ds(**opts):
        r = spark.read.format("paimon").option("path", t.path)
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    model: dict[int, int] = {}
    states: dict[int, list] = {}  # snapshot id -> model after it
    for op, front, kvs in cmds:
        # within one commit, later rows of the same key win — emulate by
        # dropping duplicate keys (keep last) before the write, which is the
        # deterministic contract we promise for a single batch
        dedup = {}
        for k, v in kvs:
            dedup[k] = v
        df = spark.createDataFrame(list(dedup.items()), "k int, v int")
        if front == "api":
            (t.upsert if op == "upsert" else t.delete)(df)
        else:
            w = df.write.format("paimon").option("path", t.path)
            if op == "delete":
                w = w.option("rowkind", "D")
            w.mode("append").save()
        if op == "upsert":
            model.update(dedup)
        else:
            for k in dedup:
                model.pop(k, None)
        states[t.snapshot().snapshot_id] = sorted(model.items())

    def rows(df):
        return sorted((r["k"], r["v"]) for r in df.collect())

    assert rows(t.to_df()) == rows(ds()) == sorted(model.items())
    first = min(states)
    assert rows(t.to_df(snapshot_id=first)) == states[first]
    assert rows(ds(snapshot=str(first))) == states[first]


pu_commands = st.lists(
    st.lists(
        st.tuples(
            st.integers(0, 4),
            st.one_of(st.none(), st.integers(0, 50)),
            st.one_of(st.none(), st.integers(0, 50)),
        ),
        min_size=1,
        max_size=3,
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=pu_commands)
def test_partial_update_equals_dict_replay(spark, tmp_path_factory, batches):
    """partial-update merge == per-column latest-non-null dict replay."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_pu")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table(
        "d", "t", "k int, a int, b int", primary_keys=["k"],
        options={"merge-engine": "partial-update"},
    )

    model: dict[int, list] = {}
    for rows in batches:
        dedup = {}
        for k, a, b in rows:
            dedup[k] = (a, b)
        df = spark.createDataFrame(
            [(k, a, b) for k, (a, b) in dedup.items()], "k int, a int, b int"
        )
        t.upsert(df)
        for k, (a, b) in dedup.items():
            cur = model.setdefault(k, [None, None])
            if a is not None:
                cur[0] = a
            if b is not None:
                cur[1] = b

    got = sorted((r["k"], r["a"], r["b"]) for r in t.to_df().collect())
    assert got == sorted((k, v[0], v[1]) for k, v in model.items())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=pu_commands)
def test_aggregation_engine_equals_dict_replay(spark, tmp_path_factory, batches):
    """aggregation merge (sum, max) == dict replay with None-skipping."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_ag")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table(
        "d", "t", "k int, s int, m int", primary_keys=["k"],
        options={
            "merge-engine": "aggregation",
            "fields.s.aggregate-function": "sum",
            "fields.m.aggregate-function": "max",
        },
    )

    model: dict[int, list] = {}
    for rows in batches:
        dedup = {}
        for k, s_, m_ in rows:
            dedup[k] = (s_, m_)
        df = spark.createDataFrame(
            [(k, s_, m_) for k, (s_, m_) in dedup.items()], "k int, s int, m int"
        )
        t.upsert(df)
        for k, (s_, m_) in dedup.items():
            cur = model.setdefault(k, [None, None])
            if s_ is not None:
                cur[0] = s_ if cur[0] is None else cur[0] + s_
            if m_ is not None:
                cur[1] = m_ if cur[1] is None else max(cur[1], m_)

    got = sorted((r["k"], r["s"], r["m"]) for r in t.to_df().collect())
    assert got == sorted((k, v[0], v[1]) for k, v in model.items())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cmds=commands)
def test_incremental_ranges_reconstruct_state(spark, tmp_path_factory, cmds):
    """CDC/MoR coherence: replaying incremental_df change rows over any
    split point reconstructs exactly the merged final state, and the two
    range halves partition the full changelog."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_inc")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "k int, v int", primary_keys=["k"])

    for op, kvs in cmds:
        dedup = {}
        for k, v in kvs:
            dedup[k] = v
        df = spark.createDataFrame(list(dedup.items()), "k int, v int")
        (t.upsert if op == "upsert" else t.delete)(df)

    last = t.snapshot().snapshot_id
    mid = last // 2

    def replay(rows, state):
        for r in rows:  # rows of one commit arrive together; order by commit
            if r["rowkind"] == "-D":
                state.pop(r["k"], None)
            else:
                state[r["k"]] = r["v"]
        return state

    # per-commit replay (commit granularity keeps ordering exact)
    state: dict[int, int] = {}
    for sid in range(1, last + 1):
        state = replay(t.incremental_df(sid - 1, sid).collect(), state)
    merged = sorted((r["k"], r["v"]) for r in t.to_df().collect())
    assert sorted(state.items()) == merged

    # the two halves partition the full range (row multisets)
    full = sorted(map(tuple, t.incremental_df(0, last).collect()))
    halves = sorted(
        map(tuple, t.incremental_df(0, mid).collect()
            + t.incremental_df(mid, last).collect())
    )
    assert full == halves


seq_commands = st.lists(
    st.tuples(
        st.sampled_from(["upsert", "delete"]),
        st.lists(
            st.tuples(
                st.integers(0, 4),                       # key
                st.integers(0, 50),                      # value
                st.one_of(st.none(), st.integers(0, 9)), # version (None loses)
            ),
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=6,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(cmds=seq_commands)
def test_sequence_field_equals_versioned_replay(spark, tmp_path_factory, cmds):
    """sequence.field merge for ANY random history must equal a replay
    that keeps, per key, the row with the largest (version, arrival)
    key — tombstones compete too, and NULL versions always lose to any
    versioned row."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_seq")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table(
        "d", "t", "k int, v int, ver int", primary_keys=["k"],
        options={"sequence.field": "ver"},
    )

    # model: key -> (rank, arrival, value, is_delete); rank = (has_ver, ver)
    model: dict[int, tuple] = {}
    arrival = 0
    for op, rows in cmds:
        df = spark.createDataFrame(rows, "k int, v int, ver int")
        if op == "upsert":
            t.upsert(df)
        else:
            t.delete(df)
        for k, v, ver in rows:
            arrival += 1
            rank = (ver is not None, ver if ver is not None else -1, arrival)
            cur = model.get(k)
            # later arrival wins ties: strictly-greater-or-equal on
            # (has_ver, ver) with arrival as the final component
            if cur is None or rank >= cur[0]:
                model[k] = (rank, v, op == "delete")

    want = sorted(
        (k, val) for k, (rank, val, deleted) in model.items() if not deleted
    )
    got = sorted((r["k"], r["v"]) for r in t.to_df().collect())
    assert [g[0] for g in got] == [w[0] for w in want]
    # values must match too (not just surviving keys)
    assert got == want


merge_ops = st.lists(
    st.tuples(
        st.sampled_from(["update", "delete", "ignore"]),   # when_matched
        st.sampled_from(["insert", "ignore"]),             # when_not_matched
        st.booleans(),                                     # condition on/off
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 40)),
            min_size=1,
            max_size=4,
            unique_by=lambda kv: kv[0],                    # one row per key
        ),
    ),
    min_size=1,
    max_size=5,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 40)),
                     min_size=1, max_size=4, unique_by=lambda kv: kv[0]),
       ops=merge_ops)
def test_merge_into_equals_dict_model(spark, tmp_path_factory, seed, ops):
    """Random merge sequences (update/delete/ignore × insert/ignore, with
    and without a value condition) must equal a plain dict replay of the
    MERGE contract."""
    from paimon_presto_spark.catalog import Catalog

    wh = tmp_path_factory.mktemp("wh_merge")
    c = Catalog(spark, str(wh))
    c.create_database("d", ignore_if_exists=True)
    t = c.create_table("d", "t", "k int, v int", primary_keys=["k"])

    model = dict(seed)
    t.upsert(spark.createDataFrame(seed, "k int, v int"))

    for wm, wnm, use_cond, rows_in in ops:
        df = spark.createDataFrame(rows_in, "k int, v int")
        cond_sql = "v > target.v" if use_cond else None
        t.merge_into(df, when_matched=wm, matched_condition=cond_sql,
                     when_not_matched=wnm)
        for k, v in rows_in:
            matched = k in model
            if matched:
                hit = (v > model[k]) if use_cond else True
                if wm == "update" and hit:
                    model[k] = v
                elif wm == "delete" and hit:
                    del model[k]
            elif wnm == "insert":
                model[k] = v

    got = sorted((r["k"], r["v"]) for r in t.to_df().collect())
    assert got == sorted(model.items())
