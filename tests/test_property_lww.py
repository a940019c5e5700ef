"""Property-based tests (hypothesis): for ANY event sequence, the engine's
LWW dedup and the two-epoch MERGE replay must agree with a trivially-correct
pandas reducer — including delete semantics and arbitrary seq orderings.
SURVEY.md §5 'golden outputs / property-based' row."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from fao_elt_pipelines_spark.lake.table import LakeTable
from fao_elt_pipelines_spark.operators.dedup import lww_dedup

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("epoch", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("last_seq", T.LongType()),
    ]
)


@st.composite
def event_lists(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    seqs = draw(
        st.lists(
            st.integers(min_value=0, max_value=10_000),
            min_size=n, max_size=n, unique=True,
        )
    )
    rows = []
    for i, seq in enumerate(seqs):
        repo = draw(st.sampled_from(["r0", "r1"]))
        path = draw(st.sampled_from(["a", "b", "c"]))
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        rows.append(
            (seq, seq % 2, op, repo, path, f"c{i}", "py", f"content-{repo}-{path}-{seq}")
        )
    return rows


def pandas_lww(rows):
    """The trivially-correct reducer: per key, the max-seq event wins;
    delete winners disappear from live state."""
    df = pd.DataFrame(rows, columns=["seq", "epoch", "op", "repo", "path", "commit", "lang", "content"])
    idx = df.groupby(["repo", "path"])["seq"].idxmax()
    win = df.loc[idx]
    live = win[win["op"] != "delete"]
    return {
        (r.repo, r.path): (r.commit, r.content, r.seq) for r in live.itertuples()
    }


@pytest.mark.parametrize("strategy", ["max_by", "window"])
@given(rows=event_lists())
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lww_dedup_matches_pandas(spark, strategy, rows):
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    got_df = lww_dedup(df, strategy=strategy)
    got = {
        (r["repo"], r["path"]): (r["commit"], r["content"], r["seq"])
        for r in got_df.collect()
        if r["op"] != "delete"
    }
    assert got == pandas_lww(rows)


@given(rows=event_lists())
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_merge_replay_matches_pandas(spark, tmp_path_factory, rows):
    table = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("prop") / "t"), STATE_SCHEMA, n_buckets=4
    )
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    for epoch in (0, 1):
        batch = df.filter(df.epoch == epoch)
        if any(r[1] == epoch for r in rows):  # epoch column
            table.merge_changes(batch, epoch_id=epoch)
    got = {
        (r["repo"], r["path"]): (r["commit"], r["content"], r["last_seq"])
        for r in table.read().collect()
    }
    assert got == pandas_lww(rows)


@given(rows=event_lists())
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_late_and_sorted_strategies_agree(spark, tmp_path_factory, rows):
    """For ANY event sequence — duplicate keys, deletes, arbitrary seq
    interleavings across epochs, both COW and MOR — the late-
    materialization merge (the default) and the sorted single-shuffle
    merge must produce identical final state."""
    base = tmp_path_factory.mktemp("prop_strat")
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    states = {}
    for mode in ("cow", "mor"):
        for strategy in ("late", "sorted"):
            t = LakeTable.create(
                spark, str(base / f"t_{mode}_{strategy}"), STATE_SCHEMA, n_buckets=4
            )
            for epoch in (0, 1):
                batch = df.filter(df.epoch == epoch)
                if any(r[1] == epoch for r in rows):  # epoch column
                    t.merge_changes(batch, epoch_id=epoch, mode=mode, strategy=strategy)
            states[(mode, strategy)] = {
                (r["repo"], r["path"]): (r["commit"], r["content"], r["last_seq"])
                for r in t.read().collect()
            }
    expected = pandas_lww(rows)
    for k, got in states.items():
        assert got == expected, f"{k} diverged"
