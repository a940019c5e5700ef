"""Core CDC engine tests: generator determinism, LWW dedup, COW MERGE with
the sha256 oracle invariant, exactly-once resume, permutation invariance,
schema evolution, lineage/metrics — the re-expression of the reference's
dbt test suite (SURVEY.md §5) as hard pytest failures.
"""

import hashlib
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
from fao_elt_pipelines_spark.lake.lineage import lineage_df
from fao_elt_pipelines_spark.lake.metrics import metrics_df
from fao_elt_pipelines_spark.lake.replay import replay
from fao_elt_pipelines_spark.lake.schema_evo import IncompatibleSchemaChange
from fao_elt_pipelines_spark.lake.table import LakeTable, _state_schema_for, bucket_of
from fao_elt_pipelines_spark.operators.dedup import lww_dedup
from pyspark.sql import types as T

N_EVENTS = 20_000
EPOCH = 5_000

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


@pytest.fixture(scope="module")
def events(spark):
    return binlog.change_events(
        spark, N_EVENTS, n_repos=100, paths_per_repo=50, events_per_epoch=EPOCH
    ).cache()


@pytest.fixture(scope="module")
def events_parquet(spark, events, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("binlog") / "events.parquet")
    events.write.parquet(p)
    return p


def oracle_state(events_parquet: str):
    """Single-threaded DuckDB oracle: LWW per (repo,path), drop deletes."""
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH w AS (
          SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn
          FROM read_parquet('{events_parquet}/*.parquet')
        )
        SELECT repo, path, commit, lang, content, seq
        FROM w WHERE rn = 1 AND op <> 'delete'
        """
    ).fetchall()
    return {
        (r[0], r[1]): (r[2], r[3], hashlib.sha256(r[4].encode()).hexdigest(), r[5])
        for r in rows
    }


def test_generator_deterministic(spark):
    a = binlog.change_events(spark, 1000, n_repos=20).orderBy("seq").collect()
    b = binlog.change_events(spark, 1000, n_repos=20, num_partitions=3).orderBy("seq").collect()
    assert a == b  # partitioning-invariant


def test_generator_skew_and_shape(spark, events):
    counts = events.groupBy("repo").count().orderBy(F.desc("count")).collect()
    total = sum(r["count"] for r in counts)
    # hot head: top repo carries a large multiple of the uniform share
    assert counts[0]["count"] > 5 * total / len(counts)
    assert counts[0]["repo"] in binlog.expected_repos()
    ops = {r["op"] for r in events.select("op").distinct().collect()}
    assert ops == {"insert", "update", "delete"}
    assert events.filter((F.col("op") == "delete") & F.col("content").isNotNull()).count() == 0
    assert events.filter((F.col("op") != "delete") & F.col("content").isNull()).count() == 0


def test_lww_strategies_agree(spark, events):
    a = lww_dedup(events, strategy="max_by").select("repo", "path", "seq")
    b = lww_dedup(events, strategy="window").select("repo", "path", "seq")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_merge_replay_matches_oracle(spark, events, events_parquet, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=16)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    rep = replay(spark, events, table, ckpt)
    assert rep.events_in == N_EVENTS
    assert len(rep.epochs_applied) == N_EVENTS // EPOCH

    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
        for r in table.read().collect()
    }
    assert got == oracle_state(events_parquet)

    # dbt-style contract tests on the final state (SURVEY.md §5)
    state = table.read()
    assert state.groupBy("repo", "path").count().filter("count > 1").count() == 0
    for c in ["repo", "path", "commit", "lang", "content", "content_sha256"]:
        assert state.filter(F.col(c).isNull()).count() == 0
    # recomputed sha equals stored sha
    assert state.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count() == 0
    # singular test analogue: expected repos present (anti-join empty)
    expected = spark.createDataFrame([(r,) for r in binlog.expected_repos()], ["repo"])
    assert expected.join(state, "repo", "left_anti").count() == 0


def test_merge_mor_matches_oracle_and_compact(spark, events, events_parquet, tmp_path):
    """Merge-on-read: delta-only writes at merge time, read-time LWW, and
    compaction that preserves the merged state exactly."""
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=16)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, events, table, ckpt, mode="mor")

    def state():
        return {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
            for r in table.read().collect()
        }

    want = oracle_state(events_parquet)
    assert state() == want
    cur = table.current_snapshot()
    assert any(e.get("kind") == "delta" for e in cur["manifest"])

    assert table.compact() is not None
    assert state() == want  # identical before/after compaction
    cur2 = table.current_snapshot()
    assert all(e.get("kind") == "base" for e in cur2["manifest"])
    assert table.compact() is None  # nothing left to compact

    # mixed-mode follow-up: a COW merge on top of the compacted MOR table
    # (exercises COW consuming prior MOR state paths)
    extra = binlog.change_events(spark, N_EVENTS + 2000, n_repos=100, paths_per_repo=50,
                                 events_per_epoch=EPOCH).filter(F.col("seq") >= N_EVENTS)
    table.merge_changes(extra, epoch_id=99, mode="cow")
    assert table.read().groupBy("repo", "path").count().filter("count > 1").count() == 0


def test_resume_after_crash(spark, events, events_parquet, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=16)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    with pytest.raises(RuntimeError, match="injected failure"):
        replay(spark, events, table, ckpt, fail_after_epochs=2)
    assert len(table.committed_epochs()) == 2
    rep2 = replay(spark, events, table, ckpt)  # resume
    assert len(rep2.epochs_applied) == N_EVENTS // EPOCH - 2
    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
        for r in table.read().collect()
    }
    assert got == oracle_state(events_parquet)
    # re-running the full replay is a no-op (exactly-once)
    rep3 = replay(spark, events, table, ckpt)
    assert rep3.epochs_applied == []


def test_epoch_permutation_invariance(spark, events, events_parquet, tmp_path):
    """Shuffling event order within an epoch yields the same final state."""
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=8)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    shuffled = events.repartition(13, F.col("commit"))  # arbitrary reorder
    replay(spark, shuffled, table, ckpt)
    got = {
        (r["repo"], r["path"]): (r["commit"], r["content_sha256"])
        for r in table.read().collect()
    }
    want = {k: (v[0], v[2]) for k, v in oracle_state(events_parquet).items()}
    assert got == want


def test_time_travel_and_lineage_metrics(spark, events, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=8)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, events, table, ckpt)
    snaps = table.snapshots()
    assert len(snaps) == N_EVENTS // EPOCH
    # time travel: first snapshot only contains epoch-0 winners
    first = table.read(snapshot_id=snaps[0]["snapshot_id"])
    assert first.agg(F.max("last_seq")).collect()[0][0] < EPOCH
    lin = lineage_df(spark, table)
    met = metrics_df(spark, table)
    assert lin.filter(F.col("rows") <= 0).count() == 0
    assert met.count() == len(snaps)
    assert met.agg(F.sum("rows_in_delta")).collect()[0][0] == N_EVENTS
    # lineage rows per current snapshot cover all live files
    cur = table.current_snapshot()
    assert lin.filter(F.col("snapshot_id") == cur["snapshot_id"]).count() == len(cur["manifest"])


def test_schema_evolution_additive(spark, tmp_path):
    ev1 = binlog.change_events(spark, 4000, n_repos=30, events_per_epoch=2000)
    ev2 = binlog.change_events(
        spark, 8000, n_repos=30, events_per_epoch=2000, with_v2_columns=True
    ).filter(F.col("seq") >= 4000)
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=8)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, ev1, table, ckpt)
    assert "author" not in [f.name for f in table.schema().fields]
    replay(spark, ev2, table, ckpt)
    fields = [f.name for f in table.schema().fields]
    assert "author" in fields and "size_bytes" in fields
    state = table.read()
    # old rows NULL-backfilled; new rows populated
    assert state.filter(F.col("last_seq") < 4000).filter(F.col("author").isNotNull()).count() == 0
    assert state.filter(F.col("last_seq") >= 4000).filter(F.col("author").isNull()).count() == 0
    # uniqueness still holds across the evolution boundary
    assert state.groupBy("repo", "path").count().filter("count > 1").count() == 0


def test_schema_evolution_rejects_incompatible(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=4)
    bad = spark.createDataFrame(
        [(1, 0, "insert", "r", "p", "c", "py", 1.5)],
        "seq long, epoch long, op string, repo string, path string, commit string, lang string, content double",
    )
    with pytest.raises(IncompatibleSchemaChange):
        table.merge_changes(bad, epoch_id=0)


def test_state_schema_helper():
    payload = T.StructType([T.StructField("repo", T.StringType())])
    s = _state_schema_for(payload, "seq")
    assert [f.name for f in s.fields] == ["repo", "content_sha256", "last_seq"]


def test_tombstone_expiry_watermark(spark, tmp_path):
    """Compaction with a replay watermark physically drops only tombstones
    the watermark proves dead; without (or below) the watermark the
    tombstone survives and keeps blocking late re-delivery of older
    events for its key."""
    ev_schema = T.StructType(
        [
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )

    def mk(rows):
        return spark.createDataFrame(rows, ev_schema)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(
        mk([(1, "insert", "r", "a", "c1", "py", "A1"), (2, "insert", "r", "b", "c2", "py", "B1")]),
        epoch_id=0, mode="mor",
    )
    table.merge_changes(mk([(5, "delete", "r", "a", "c3", "py", "")]), epoch_id=1, mode="mor")

    # watermark BELOW the delete seq: tombstone must survive compaction
    table.compact(expire_tombstones_below=5)
    phys = table.read(include_tombstones=True)
    assert phys.filter("_is_deleted AND path = 'a'").count() == 1
    # and still outranks a late re-delivered older event for the key
    table.merge_changes(mk([(3, "update", "r", "a", "c4", "py", "A-late")]), epoch_id=2, mode="mor")
    assert table.read().filter("path = 'a'").count() == 0

    # watermark ABOVE every seq: tombstone is dead metadata, dropped
    table.compact(expire_tombstones_below=100)
    phys = table.read(include_tombstones=True)
    assert phys.filter("_is_deleted").count() == 0
    live = {(r["path"], r["last_seq"]) for r in table.read().collect()}
    assert live == {("b", 2)}


def test_replay_expires_tombstones(spark, events, events_parquet, tmp_path):
    """MOR replay with expire_tombstones drops dead tombstones at each
    compaction while the live state still matches the oracle."""
    stored = spark.read.parquet(events_parquet)
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ckpt = CheckpointStore(str(tmp_path / "c.json"))
    replay(spark, stored, table, ckpt, mode="mor", compact_every=2, expire_tombstones=True)
    table.compact(expire_tombstones_below=N_EVENTS)  # final sweep past all seqs
    phys = table.read(include_tombstones=True)
    assert phys.filter("_is_deleted").count() == 0
    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
        for r in table.read().collect()
    }
    assert got == oracle_state(events_parquet)


def test_replay_expiry_guard_rejects_misaligned_source(spark, tmp_path):
    """A source whose later epoch carries a seq below the expiry watermark
    must hard-fail, not silently resurrect deleted keys."""
    ev_schema = "seq LONG, epoch LONG, op STRING, repo STRING, path STRING, commit STRING, lang STRING, content STRING"
    rows = [
        (10, 0, "insert", "r", "a", "c", "py", "X"),
        (11, 0, "delete", "r", "a", "c", "py", ""),
        (12, 1, "insert", "r", "b", "c", "py", "Y"),
        (2, 2, "update", "r", "a", "c", "py", "stale"),  # below watermark
    ]
    ev = spark.createDataFrame(rows, ev_schema)
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=2)
    ckpt = CheckpointStore(str(tmp_path / "c.json"))
    with pytest.raises(RuntimeError, match="tombstone-expiry watermark"):
        replay(spark, ev, table, ckpt, mode="mor", compact_every=1, expire_tombstones=True)


_MISALIGNED_ROWS = [
    (10, 0, "insert", "r", "a", "c", "py", "X"),
    (11, 0, "delete", "r", "a", "c", "py", ""),
    (12, 1, "insert", "r", "b", "c", "py", "Y"),
    (2, 2, "update", "r", "a", "c", "py", "stale"),  # below watermark
]
_EV_SCHEMA = (
    "seq LONG, epoch LONG, op STRING, repo STRING, path STRING, "
    "commit STRING, lang STRING, content STRING"
)


def test_mor_read_merges_only_delta_buckets(spark, tmp_path):
    """Per-bucket MOR read-merge: a delta in 1 of 16 buckets must engage
    the LWW shuffle for that bucket ONLY — the other buckets' base files
    union in raw (read cost proportional to delta coverage) — while the
    merged result stays identical to full-table LWW."""
    rows = [
        (i, 0, "insert", "r", f"p{i}", "c0", "py", f"body-{i}") for i in range(200)
    ]
    ev0 = spark.createDataFrame(rows, _EV_SCHEMA)
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=16)
    table.merge_changes(ev0, epoch_id=0, mode="cow")
    # one MOR update touching a single key -> exactly one delta bucket
    ev1 = spark.createDataFrame(
        [(1000, 1, "update", "r", "p0", "c1", "py", "body-new")], _EV_SCHEMA
    )
    table.merge_changes(ev1, epoch_id=1, mode="mor")

    manifest = table.current_snapshot()["manifest"]
    touched, clean = LakeTable._split_entries_by_delta(manifest)
    touched_buckets = {e["bucket"] for e in touched}
    assert len(touched_buckets) == 1  # only p0's bucket engages the merge
    assert {e["bucket"] for e in clean} == set(range(16)) - touched_buckets

    from tests.plan_utils import n_nodes, plan_of

    df = table.read()
    plan = plan_of(df)
    assert "Union" in plan  # clean buckets bypass the aggregate
    assert n_nodes(plan, "Exchange") == 1, plan

    # result identical to full-table LWW
    got = {(r["repo"], r["path"]): (r["commit"], r["last_seq"]) for r in df.collect()}
    assert got[("r", "p0")] == ("c1", 1000)
    assert len(got) == 200
    assert got[("r", "p7")] == ("c0", 7)


def test_expiry_guard_survives_restart(spark, tmp_path):
    """The expiry watermark is persisted in the checkpoint: a RESUMED
    replay (fresh process, in-memory watermark gone) must still reject a
    later epoch carrying seq below a watermark a previous run expired
    under — the silent-resurrection window the in-memory-only guard had."""
    ev = spark.createDataFrame(_MISALIGNED_ROWS, _EV_SCHEMA)
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=2)
    ckpt = CheckpointStore(str(tmp_path / "c.json"))
    # first run: apply epochs 0-1 only, expiring tombstones (arms watermark)
    replay(
        spark, ev.filter("epoch <= 1"), table, ckpt,
        mode="mor", compact_every=1, expire_tombstones=True,
    )
    assert ckpt.expiry_watermark("binlog") is not None
    # restarted run (new replay() call == new process state): epoch 2 must
    # hard-fail even though THIS run never expired anything
    with pytest.raises(RuntimeError, match="tombstone-expiry watermark"):
        replay(spark, ev, table, ckpt, mode="mor", compact_every=1, expire_tombstones=True)
    assert ("r", "a") not in {
        (r["repo"], r["path"]) for r in table.read().collect()
    }  # deleted key stayed deleted


def test_expiry_guard_fires_before_merge_fast_stats(spark, tmp_path):
    """With collect_delta_stats=False the precondition must still be
    checked BEFORE merge_changes commits: the violating batch may not
    reach the snapshot (previously the check ran post-commit, leaving the
    resurrected key in the table even as the error raised)."""
    ev = spark.createDataFrame(_MISALIGNED_ROWS, _EV_SCHEMA)
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=2)
    ckpt = CheckpointStore(str(tmp_path / "c.json"))
    with pytest.raises(RuntimeError, match="tombstone-expiry watermark"):
        replay(
            spark, ev, table, ckpt,
            mode="mor", compact_every=1, expire_tombstones=True,
            collect_delta_stats=False,
        )
    assert table.committed_epochs() == {0, 1}  # epoch 2 never committed
    state = {(r["repo"], r["path"]): r["content_sha256"] for r in table.read().collect()}
    assert ("r", "a") not in state  # no resurrect
    assert ("r", "b") in state


def test_expire_snapshots_gc_and_exactly_once(spark, tmp_path):
    """expire_snapshots deletes files only dead snapshots reference, keeps
    the current state byte-identical, makes expired time travel a clear
    error, and — critically — preserves replay-skip for epochs whose
    snapshots were expired (exactly-once survives GC)."""
    import os

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(mk([(1, 0, "insert", "r", "a", "c1", "py", "A")]), epoch_id=0, mode="cow")
    table.merge_changes(mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1, mode="cow")
    table.merge_changes(mk([(3, 2, "insert", "r", "b", "c3", "py", "C")]), epoch_id=2, mode="cow")
    before = {(r["repo"], r["path"], r["content_sha256"]) for r in table.read().collect()}
    all_files_before = {
        e["path"] for s in table.snapshots() for e in s["manifest"]
    }

    out = table.expire_snapshots(keep_last=1)
    assert out["expired"] == 2 and out["files_deleted"] > 0
    # current state unchanged
    after = {(r["repo"], r["path"], r["content_sha256"]) for r in table.read().collect()}
    assert after == before
    # retained files exist, dead files gone
    live = {e["path"] for s in table.snapshots() for e in s["manifest"]}
    assert all(os.path.exists(p) for p in live)
    assert not any(os.path.exists(p) for p in all_files_before - live)
    # expired time travel is a clear error
    with pytest.raises(ValueError, match="expired"):
        table.read(snapshot_id=1)
    # exactly-once survives: epochs 0-2 all still recognized as committed
    assert table.committed_epochs() == {0, 1, 2}
    sid = table.merge_changes(
        mk([(0, 0, "insert", "r", "a", "cX", "py", "STALE")]), epoch_id=0, mode="cow"
    )
    assert sid == table.current_snapshot()["snapshot_id"]  # replay-skipped
    assert {(r["repo"], r["path"], r["content_sha256"]) for r in table.read().collect()} == before


def test_changes_between_incremental_read(spark, tmp_path):
    """changes_between returns exactly the interval's MOR delta rows with
    the derived _op column — the no-shuffle CDC-read surface."""

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(mk([(1, 0, "insert", "r", "a", "c1", "py", "A")]), epoch_id=0, mode="mor")
    s1 = table.current_snapshot()["snapshot_id"]
    table.merge_changes(
        mk([(2, 1, "update", "r", "a", "c2", "py", "B"),
            (3, 1, "insert", "r", "b", "c3", "py", "C")]),
        epoch_id=1, mode="mor",
    )
    table.merge_changes(mk([(4, 2, "delete", "r", "b", "c4", "py", "")]), epoch_id=2, mode="mor")
    got = {
        (r["path"], r["_op"], r["last_seq"])
        for r in table.changes_between(s1).collect()
    }
    assert got == {("a", "upsert", 2), ("b", "upsert", 3), ("b", "delete", 4)}
    # full-history read includes the first epoch too
    assert len(table.changes_between(None).collect()) == 4
    # compaction moves bytes, not logical state: no new "changes"
    s_last = table.current_snapshot()["snapshot_id"]
    table.compact()
    assert table.changes_between(s_last).count() == 0


def test_commit_cas_conflict_and_epoch_retry(spark, tmp_path):
    """Optimistic-concurrency commit: of two writers targeting the same
    metadata version, exactly one wins; the loser raises
    CommitConflictError and an epoch-level retry (the engine's recovery
    contract) converges to the correct state."""
    from fao_elt_pipelines_spark.lake.table import CommitConflictError

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(mk([(1, 0, "insert", "r", "a", "c1", "py", "A")]), epoch_id=0)

    # the raw CAS: two writers race for the same version — second loses
    meta = table._load_metadata()
    v = table._version()
    table._write_metadata(dict(meta), version=v + 1)
    with pytest.raises(CommitConflictError, match="concurrent writer"):
        table._write_metadata(dict(meta), version=v + 1)

    # simulate a full competing commit landing mid-merge: epoch retry must
    # converge (idempotent), with both the competitor's and our state live
    class RaceOnce:
        def __init__(self, t):
            self.t, self.fired = t, False
            self.orig = t._write_data_files

        def __call__(self, *a, **k):
            entries = self.orig(*a, **k)
            if not self.fired:
                self.fired = True
                # competitor commits between our data write and our commit
                m = self.t._load_metadata()
                self.t._write_metadata(m, version=self.t._version() + 1)
            return entries

    racer = RaceOnce(table)
    table._write_data_files = racer
    with pytest.raises(CommitConflictError):
        table.merge_changes(
            mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1
        )
    # retry the epoch (replay's recovery path) — now succeeds
    table.merge_changes(mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1)
    table._write_data_files = racer.orig
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in table.read().collect()}
    import hashlib as _h

    assert got == {("r", "a"): _h.sha256(b"B").hexdigest()}
    assert table.committed_epochs() == {0, 1}


def test_cas_crash_wedge_repair(spark, tmp_path):
    """A writer that crashed between the v{N+1} link and the VERSION
    pointer advance must not wedge the table: the durable-but-unpointed
    metadata version is repaired forward by the next commit attempt, so
    a single retry succeeds instead of livelocking on CommitConflictError
    forever (ADVICE r2 high)."""
    import os
    import shutil

    from fao_elt_pipelines_spark.lake.table import CommitConflictError

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(mk([(1, 0, "insert", "r", "a", "c1", "py", "A")]), epoch_id=0)
    v = table._version()
    # simulate the crash: v{N+1}.metadata.json fully durable, VERSION stale
    shutil.copy(
        os.path.join(table.meta_dir, f"v{v}.metadata.json"),
        os.path.join(table.meta_dir, f"v{v + 1}.metadata.json"),
    )
    assert table._version() == v  # pointer really is stale

    # first attempt targets v+1, collides with the orphaned file, and must
    # REPAIR the pointer while raising the conflict
    with pytest.raises(CommitConflictError):
        table.merge_changes(
            mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1
        )
    assert table._version() == v + 1  # repaired forward

    # the retry re-reads the repaired version and succeeds (no livelock)
    table.merge_changes(mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1)
    got = {(r["repo"], r["path"]): r["content_sha256"] for r in table.read().collect()}
    assert got == {("r", "a"): hashlib.sha256(b"B").hexdigest()}
    assert table.committed_epochs() == {0, 1}


def test_expire_snapshots_commits_before_deleting(spark, tmp_path):
    """expire_snapshots must commit the pruned metadata BEFORE deleting
    dead files (Iceberg's order): a crash mid-deletion then leaves only
    orphan files, never a snapshot log pointing at deleted files
    (ADVICE r2 medium)."""
    import os as _os

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(mk([(1, 0, "insert", "r", "a", "c1", "py", "A")]), epoch_id=0, mode="cow")
    table.merge_changes(mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1, mode="cow")
    before = {(r["repo"], r["path"], r["content_sha256"]) for r in table.read().collect()}

    real_remove = _os.remove
    calls = {"n": 0}

    def crashing_remove(p):
        if p.endswith(".parquet"):
            calls["n"] += 1
            raise OSError("simulated crash during file deletion")
        return real_remove(p)

    import fao_elt_pipelines_spark.lake.table as table_mod

    orig = table_mod.os.remove
    table_mod.os.remove = crashing_remove
    try:
        with pytest.raises(OSError, match="simulated crash"):
            table.expire_snapshots(keep_last=1)
    finally:
        table_mod.os.remove = orig
    assert calls["n"] == 1  # deletion was reached — AFTER the commit

    # the metadata commit already landed: snapshot log is pruned, every
    # file it references still exists, reads are clean
    snaps = table.snapshots()
    assert len(snaps) == 1
    assert all(_os.path.exists(e["path"]) for s in snaps for e in s["manifest"])
    after = {(r["repo"], r["path"], r["content_sha256"]) for r in table.read().collect()}
    assert after == before
    # exactly-once preserved through the interrupted expiry
    assert table.committed_epochs() == {0, 1}


def test_changes_between_expired_cursor_raises(spark, tmp_path):
    """Resuming an incremental read from an expired cursor must be a hard
    error, not a silent full-history reprocess (ADVICE r2 low)."""

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    table.merge_changes(mk([(1, 0, "insert", "r", "a", "c1", "py", "A")]), epoch_id=0, mode="mor")
    s1 = table.current_snapshot()["snapshot_id"]
    table.merge_changes(mk([(2, 1, "update", "r", "a", "c2", "py", "B")]), epoch_id=1, mode="mor")
    table.merge_changes(mk([(3, 2, "insert", "r", "b", "c3", "py", "C")]), epoch_id=2, mode="mor")
    table.expire_snapshots(keep_last=1)
    assert not any(s["snapshot_id"] <= s1 for s in table.snapshots())
    with pytest.raises(ValueError, match="expired"):
        table.changes_between(s1)
    # a retained cursor still works
    s_cur = table.current_snapshot()["snapshot_id"]
    assert table.changes_between(s_cur).count() == 0


def test_metadata_size_flat_vs_history(spark, tmp_path):
    """The scale contract of the manifest-file split: bytes WRITTEN per
    commit (metadata JSON + the new manifest file) must not grow with
    snapshot-log length when the live file set is constant — the
    O(snapshots × files) growth the inline format had. Each snapshot's
    manifest is written once, immutably, to metadata/manifests/."""
    import os

    def mk(rows):
        return spark.createDataFrame(rows, _EV_SCHEMA)

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)

    def commit_cost(i):
        """Bytes this commit wrote: its metadata version minus the pointer
        log's irreducible per-snapshot summary line, plus its manifest."""
        table.merge_changes(
            mk([(i + 1, i, "update", "r", "a", f"c{i}", "py", f"B{i}")]),
            epoch_id=i, mode="cow",
        )
        v = table._version()
        meta_bytes = os.path.getsize(os.path.join(table.meta_dir, f"v{v}.metadata.json"))
        snap = table.current_snapshot()
        mf_bytes = os.path.getsize(os.path.join(table.meta_dir, snap["manifest_file"]))
        return meta_bytes, mf_bytes

    costs = [commit_cost(i) for i in range(12)]
    # manifest bytes: same single-bucket file set every time → flat
    mf = [c[1] for c in costs]
    assert max(mf[2:]) <= 1.2 * min(mf[2:]) + 64
    # metadata JSON grows only by the O(1) pointer+summary line per
    # snapshot (~hundreds of bytes), NOT by a re-inlined manifest: the
    # marginal growth per commit must be far below one manifest's size
    # and must not itself grow with history (flat slope).
    deltas = [costs[i + 1][0] - costs[i][0] for i in range(4, len(costs) - 1)]
    assert max(deltas) < 800, deltas
    assert max(deltas) - min(deltas) < 200, deltas
    # and no snapshot entry in the serialized metadata carries an inline manifest
    import json as _json

    with open(os.path.join(table.meta_dir, f"v{table._version()}.metadata.json")) as f:
        raw = _json.load(f)
    assert all("manifest" not in s and "manifest_file" in s for s in raw["snapshots"])
    # expire_snapshots prunes manifests and old metadata versions too
    table.expire_snapshots(keep_last=2)
    mfs = os.listdir(table.manifest_dir)
    assert len(mfs) == len(table.snapshots())
    vs = [f for f in os.listdir(table.meta_dir) if f.endswith(".metadata.json")]
    assert len(vs) <= 12  # window of 10 + current + expiry commit


def test_size_based_compaction_trigger(spark, tmp_path):
    """compact_delta_ratio triggers compaction on accumulated MOR delta
    BYTES (manifest stats) relative to base bytes — not on epoch count.
    Tiny deltas under a big base must never trigger at a high ratio (where
    a count policy would have fired repeatedly), must trigger at a low
    ratio, and with no base yet the delta file count bounds read
    amplification instead."""

    def ev(spark_rows):
        return spark.createDataFrame(spark_rows, _EV_SCHEMA)

    def ops(table):
        return [s["operation"] for s in table.snapshots()]

    def run(ratio, big=4000, small=5, epochs=6):
        tdir = tmp_path / f"t_{str(ratio).replace('.', '_')}"
        table = LakeTable.create(spark, str(tdir), STATE_SCHEMA, n_buckets=4)
        rows = [
            (i, 0, "insert", "r", f"p{i}", "c0", "py", "x" * 200) for i in range(big)
        ]
        seq = big
        for ep in range(1, epochs + 1):
            for j in range(small):
                rows.append((seq, ep, "update", "r", f"p{j}", f"c{ep}", "py", "y" * 50))
                seq += 1
        events = ev(rows)
        ckpt = CheckpointStore(str(tdir) + ".ckpt.json")
        # epoch 0 (the big one) becomes base via the first compaction the
        # no-base file-count rule performs; later tiny epochs then
        # exercise the byte-ratio rule
        replay(spark, events, table, ckpt, mode="mor", compact_delta_ratio=ratio)
        return table

    # high ratio: tiny deltas never reach 90% of base bytes -> after the
    # initial no-base compaction, NO further compactions (count policy
    # compact_every=2 would have fired ~3 times)
    t_hi = run(0.9)
    ds = t_hi.delta_stats()
    assert ds["base_bytes"] > 0 and ds["delta_bytes"] > 0  # deltas accrued, kept
    n_compact_hi = ops(t_hi).count("compact")
    assert ds["delta_bytes"] < 0.9 * ds["base_bytes"]
    # low ratio: the same tiny deltas DO trip the byte rule repeatedly
    t_lo = run(0.005)
    n_compact_lo = ops(t_lo).count("compact")
    assert n_compact_lo > n_compact_hi, (n_compact_lo, n_compact_hi)
    # after a size-triggered compaction the delta footprint resets to zero
    assert ops(t_lo)[-1] == "compact" and t_lo.delta_stats()["delta_bytes"] == 0
    # state identical under either policy (compaction is physical only)
    a = {(r["repo"], r["path"], r["content_sha256"]) for r in t_hi.read().collect()}
    b = {(r["repo"], r["path"], r["content_sha256"]) for r in t_lo.read().collect()}
    assert a == b and len(a) == 4000


def test_epoch_batch_grouping_and_resume(spark, events, events_parquet, tmp_path):
    """epoch_batch groups consecutive pending epochs into one merge+commit:
    final state must equal per-epoch replay's, every epoch id must be
    recorded for exactly-once (a rerun skips ALL of them), and a crash
    between groups resumes without duplicate or lost applies."""
    stored = spark.read.parquet(events_parquet)

    # batched replay (4 epochs -> 2 groups of 2)
    t_b = LakeTable.create(spark, str(tmp_path / "b"), STATE_SCHEMA, n_buckets=8)
    ck_b = CheckpointStore(str(tmp_path / "b.ckpt.json"))
    rep = replay(spark, stored, t_b, ck_b, mode="mor", epoch_batch=2)
    assert rep.epochs_applied == [0, 1, 2, 3]
    assert len(t_b.snapshots()) == 2  # one snapshot per GROUP
    assert t_b.committed_epochs() == {0, 1, 2, 3}

    # state identical to per-epoch replay
    t_1 = LakeTable.create(spark, str(tmp_path / "s"), STATE_SCHEMA, n_buckets=8)
    rep1 = replay(spark, stored, t_1, CheckpointStore(str(tmp_path / "s.ckpt.json")), mode="mor")
    key = lambda t: {(r["repo"], r["path"], r["content_sha256"], r["last_seq"]) for r in t.read().collect()}
    assert key(t_b) == key(t_1)
    assert rep.events_in == rep1.events_in == N_EVENTS

    # rerun: every epoch skipped, no new snapshot
    n_snaps = len(t_b.snapshots())
    ck_fresh = CheckpointStore(str(tmp_path / "b2.ckpt.json"))  # checkpoint
    # loss: table-level exactly-once must skip every epoch of both groups
    rep2 = replay(spark, stored, t_b, ck_fresh, mode="mor", epoch_batch=2)
    assert rep2.epochs_applied == [] and rep2.epochs_skipped == [0, 1, 2, 3]
    assert len(t_b.snapshots()) == n_snaps

    # crash after the first group; resume applies only the second
    t_c = LakeTable.create(spark, str(tmp_path / "c"), STATE_SCHEMA, n_buckets=8)
    ck_c = CheckpointStore(str(tmp_path / "c.ckpt.json"))
    with pytest.raises(RuntimeError, match="injected failure"):
        replay(spark, stored, t_c, ck_c, mode="mor", epoch_batch=2, fail_after_epochs=2)
    assert t_c.committed_epochs() == {0, 1}
    rep3 = replay(spark, stored, t_c, ck_c, mode="mor", epoch_batch=2)
    assert rep3.epochs_applied == [2, 3]
    assert key(t_c) == key(t_1)


def test_epoch_batch_auto_policy(spark, events, events_parquet, tmp_path, monkeypatch):
    """epoch_batch='auto' batches small epochs (one merge+commit for the
    whole pending run here: 5k-event epochs are far below 50k/core × 8)
    and leaves large epochs unbatched (simulated by shrinking the per-core
    target below the epoch size). State always equals per-epoch replay's."""
    from fao_elt_pipelines_spark.lake import replay as replay_mod

    stored = spark.read.parquet(events_parquet)
    key = lambda t: {(r["repo"], r["path"], r["content_sha256"], r["last_seq"])
                     for r in t.read().collect()}

    t_ref = LakeTable.create(spark, str(tmp_path / "ref"), STATE_SCHEMA, n_buckets=8)
    replay(spark, stored, t_ref, CheckpointStore(str(tmp_path / "ref.ckpt.json")), mode="mor")

    # small epochs -> one group
    t_a = LakeTable.create(spark, str(tmp_path / "auto"), STATE_SCHEMA, n_buckets=8)
    rep = replay(spark, stored, t_a,
                 CheckpointStore(str(tmp_path / "auto.ckpt.json")),
                 mode="mor", epoch_batch="auto")
    assert rep.epochs_applied == [0, 1, 2, 3]
    assert len(t_a.snapshots()) == 1
    assert t_a.committed_epochs() == {0, 1, 2, 3}
    assert key(t_a) == key(t_ref)

    # epochs at/above the per-group target -> unbatched (one snapshot each)
    monkeypatch.setattr(replay_mod, "AUTO_ROWS_PER_CORE", 1)
    t_u = LakeTable.create(spark, str(tmp_path / "unb"), STATE_SCHEMA, n_buckets=8)
    rep_u = replay(spark, stored, t_u,
                   CheckpointStore(str(tmp_path / "unb.ckpt.json")),
                   mode="mor", epoch_batch="auto")
    assert rep_u.epochs_applied == [0, 1, 2, 3]
    assert len(t_u.snapshots()) == 4
    assert key(t_u) == key(t_ref)

    # SKEWED epoch sizes -> groups formed by each group's ACCUMULATED
    # size, not a uniform count from the global mean (which here is 5k,
    # giving batch=1 and four snapshots — the mean-based bug): sizes
    # [250, 250, 15000, 4500] with target ~1000 must group [0,1,2] (the
    # two tiny epochs accumulate, the big one closes the group) + [3]
    from pyspark.sql import functions as F

    par = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(replay_mod, "AUTO_ROWS_PER_CORE", max(1, -(-1000 // par)))
    skew = stored.withColumn(
        "epoch",
        F.when(F.col("seq") < 250, 0)
        .when(F.col("seq") < 500, 1)
        .when(F.col("seq") < 15_500, 2)
        .otherwise(3),
    )
    t_s = LakeTable.create(spark, str(tmp_path / "skew"), STATE_SCHEMA, n_buckets=8)
    rep_s = replay(spark, skew, t_s,
                   CheckpointStore(str(tmp_path / "skew.ckpt.json")),
                   mode="mor", epoch_batch="auto")
    assert rep_s.epochs_applied == [0, 1, 2, 3]
    assert len(t_s.snapshots()) == 2
    assert t_s.committed_epochs() == {0, 1, 2, 3}
    assert key(t_s) == key(t_ref)


def test_point_lookup_prunes_to_one_bucket(spark, events, events_parquet, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=16)
    replay(spark, events, table, CheckpointStore(str(tmp_path / "ckpt.json")))
    (repo, path), (commit, lang, sha, last_seq) = next(iter(oracle_state(events_parquet).items()))

    df = table.lookup(repo, path)
    row = df.collect()
    assert len(row) == 1
    assert (row[0]["commit"], row[0]["content_sha256"], row[0]["last_seq"]) == (commit, sha, last_seq)

    # the scan must touch exactly one bucket's files, not the table
    snap = table.current_snapshot()
    by_bucket: dict[int, set] = {}
    for e in snap["manifest"]:
        by_bucket.setdefault(e["bucket"], set()).add(e["path"])
    touched = {f.removeprefix("file://") for f in df.inputFiles()}
    assert len(by_bucket) > 1  # table actually spans buckets
    owners = {b for b, files in by_bucket.items() if touched & files}
    assert len(owners) == 1
    assert touched <= by_bucket[owners.pop()]

    # missing key resolves through the same pruned path to zero rows
    assert table.lookup(repo, "no/such/path.xyz").count() == 0


def test_point_lookup_prunes_files_by_repo_stats(spark, tmp_path):
    """File-level stats pruning BELOW the bucket: two appends with disjoint
    repo ranges put ≥2 files in each bucket; a lookup must open only files
    whose manifest repo-bounds can contain the key, not the whole bucket."""
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=4)

    def batch(prefix):
        rows = [
            (f"{prefix}/repo{i:03d}", f"src/f{j}.py", "c0", "py", "x", "sha", i * 100 + j)
            for i in range(40)
            for j in range(5)
        ]
        return spark.createDataFrame(rows, STATE_SCHEMA)

    table.append(batch("aaa"))
    table.append(batch("zzz"))

    snap = table.current_snapshot()
    df = table.lookup("aaa/repo007", "src/f3.py")
    assert df.count() == 1
    b = next(
        e["bucket"]
        for e in snap["manifest"]
        if e["path"] in {f.removeprefix("file://") for f in df.inputFiles()}
    )
    bucket_files = [e for e in snap["manifest"] if e["bucket"] == b]
    # both appends landed a file in this bucket, but only the aaa-range
    # file(s) were opened
    assert len(bucket_files) >= 2
    touched = {f.removeprefix("file://") for f in df.inputFiles()}
    assert all(e["stats"]["repo"][0] <= "aaa/repo007" <= e["stats"]["repo"][1]
               for e in bucket_files if e["path"] in touched)
    assert len(touched) < len(bucket_files)

    # stats never prune a live key: every row remains reachable
    assert table.lookup("zzz/repo039", "src/f4.py").count() == 1

    # repo-range scan: correct rows, and only aaa-bounded files opened
    sc = table.scan_repos("aaa/repo000", "aaa/repo009")
    assert sc.count() == 10 * 5
    assert {r["repo"] for r in sc.select("repo").distinct().collect()} == {
        f"aaa/repo{i:03d}" for i in range(10)
    }
    sc_files = {f.removeprefix("file://") for f in sc.inputFiles()}
    zzz_files = {
        e["path"] for e in snap["manifest"] if e["stats"]["repo"][0].startswith("zzz")
    }
    assert zzz_files and not (sc_files & zzz_files)


def test_epoch_batch_respects_max_epochs(spark, events, events_parquet, tmp_path):
    """A batched group must be truncated to the caller's max_epochs budget,
    not applied whole: epoch_batch=8 with max_epochs=2 applies exactly 2."""
    stored = spark.read.parquet(events_parquet)
    t = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "c.json"))
    rep = replay(spark, stored, t, ck, mode="mor", epoch_batch=8, max_epochs=2)
    assert rep.epochs_applied == [0, 1]
    assert t.committed_epochs() == {0, 1}
    # resume with no cap applies the rest exactly once
    rep2 = replay(spark, stored, t, ck, mode="mor", epoch_batch=8)
    assert set(rep2.epochs_applied) == set(range(N_EVENTS // EPOCH)) - {0, 1}


def test_rebucket_online_layout_evolution(spark, events, events_parquet, tmp_path):
    """Bucket-count evolution (Iceberg partition-spec evolution for
    bucket[N]): rewrite into a new layout without changing logical state.
    Exactly-once, tombstones, point lookups, incremental reads, and time
    travel must all survive the layout change."""
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=8)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, events, table, ckpt, mode="mor")
    want = oracle_state(events_parquet)
    pre_sid = table.current_snapshot()["snapshot_id"]
    pre_tombstones = table.read(include_tombstones=True).filter("_is_deleted").count()
    assert pre_tombstones > 0  # the generator emits deletes

    # no-op when the count is unchanged: same snapshot, no rewrite
    assert table.rebucket(8) == pre_sid

    sid = table.rebucket(48)
    assert sid == pre_sid + 1
    assert table.n_buckets == 48

    def state():
        return {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
            for r in table.read().collect()
        }

    # logical state identical; tombstones physically preserved
    assert state() == want
    assert table.read(include_tombstones=True).filter("_is_deleted").count() == pre_tombstones
    snap = table.current_snapshot()
    assert all(e["kind"] == "base" for e in snap["manifest"])
    assert max(e["bucket"] for e in snap["manifest"]) >= 8  # new layout in effect

    # tombstone still outranks a late re-delivery of an older event
    dead = table.read(include_tombstones=True).filter("_is_deleted").first()
    late = spark.createDataFrame(
        [(dead["repo"], dead["path"], "c0", "py", "zombie", int(dead["last_seq"]) - 1, "upsert", 999)],
        "repo string, path string, commit string, lang string, content string, seq long, op string, epoch int",
    )
    table.merge_changes(late, epoch_id=999, mode="mor")
    assert table.lookup(dead["repo"], dead["path"]).count() == 0

    # exactly-once is layout-independent: even with the checkpoint hint
    # lost, a full re-replay recognizes every epoch from the (rebucketed)
    # table's snapshot log and applies nothing
    rep = replay(spark, events, table, CheckpointStore(str(tmp_path / "ckpt2.json")), mode="mor")
    assert rep.epochs_applied == []
    assert set(rep.epochs_skipped) == set(range(N_EVENTS // EPOCH))

    # point lookup prunes to one NEW-layout bucket
    (repo, path), (commit, lang, sha, last_seq) = next(iter(want.items()))
    df = table.lookup(repo, path)
    assert df.count() == 1
    by_bucket: dict[int, set] = {}
    for e in table.current_snapshot()["manifest"]:
        by_bucket.setdefault(e["bucket"], set()).add(e["path"])
    touched = {f.removeprefix("file://") for f in df.inputFiles()}
    owners = {b for b, files in by_bucket.items() if touched & files}
    assert len(owners) == 1

    # incremental read across the rebucket: the rewrite is bytes moved,
    # not logical changes — only the post-rebucket late merge shows up
    chg = table.changes_between(pre_sid)
    assert chg.count() == 1 and chg.first()["seq" if "seq" in chg.columns else "last_seq"] is not None

    # time travel to the pre-rebucket snapshot reads the OLD manifest
    old = table.read(snapshot_id=pre_sid)
    got_old = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
        for r in old.collect()
    }
    assert got_old == want

    # a point scan at the pre-rebucket snapshot hashes into THAT
    # snapshot's 8-bucket space, not the table's current 48
    pt = table.scan_where({"repo": (repo, repo), "path": (path, path)}, snapshot_id=pre_sid)
    got = [(r["commit"], r["lang"], r["content_sha256"], r["last_seq"]) for r in pt.collect()]
    assert got == [(commit, lang, sha, last_seq)]
    old_b = bucket_of((repo, path), 8)
    old_files = {e["path"] for s in table.snapshots() if s["snapshot_id"] == pre_sid
                 for e in s["manifest"] if e["bucket"] == old_b}
    opened = {f.removeprefix("file://") for f in pt.inputFiles()}
    assert opened and opened <= old_files

    # a subsequent merge lands in the new layout and stays consistent
    extra = binlog.change_events(
        spark, N_EVENTS + 2000, n_repos=100, paths_per_repo=50, events_per_epoch=EPOCH
    ).filter(F.col("seq") >= N_EVENTS)
    table.merge_changes(extra, epoch_id=1000, mode="cow")
    st = table.read()
    assert st.groupBy("repo", "path").count().filter("count > 1").count() == 0
    assert st.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count() == 0


def test_rebucket_empty_table_metadata_only(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    assert table.rebucket(16) is None
    assert table.n_buckets == 16
    table.append(
        spark.createDataFrame(
            [("r", "p", "c", "py", "x", 1)],
            "repo string, path string, commit string, lang string, content string, last_seq long",
        )
    )
    assert {e["bucket"] for e in table.current_snapshot()["manifest"]} <= set(range(16))


def test_replay_quarantines_malformed_events(spark, events, events_parquet, tmp_path):
    """Dead-letter split: malformed events (null key, null seq, unknown op,
    payload-less upsert) land in the epoch-partitioned quarantine table
    with a reason, the valid remainder merges normally, and a re-applied
    epoch rewrites (not duplicates) its own dead letters."""
    from fao_elt_pipelines_spark.lake.quarantine import read_dead_letters

    bad = spark.createDataFrame(
        [
            (None, "p1", "c", "py", "x", 10_000_000, "insert", 0),      # null_key
            ("", "p2", "c", "py", "x", 10_000_001, "insert", 0),        # null_key (empty)
            ("r3", "p3", "c", "py", "x", None, "insert", 1),            # null_seq
            ("r4", "p4", "c", "py", "x", 10_000_002, "chaos", 1),       # unknown_op
            ("r5", "p5", "c", "py", None, 10_000_003, "update", 2),     # null_content
            (None, "p6", "c", "py", None, None, "chaos", 3),            # precedence: null_key
        ],
        "repo string, path string, commit string, lang string, content string, seq long, op string, epoch int",
    )
    dirty = events.unionByName(bad.withColumn("ingest_ts", F.lit(None).cast("timestamp")), allowMissingColumns=True) \
        if "ingest_ts" in events.columns else events.unionByName(bad)
    qdir = str(tmp_path / "dead_letters")

    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=8)
    rep = replay(
        spark, dirty, table, CheckpointStore(str(tmp_path / "c1.json")),
        mode="mor", quarantine_dir=qdir,
    )
    assert rep.events_in == N_EVENTS  # applied = valid events only

    # final state is exactly the clean-stream oracle: no malformed row
    # leaked into the merge, no valid row was lost to the split
    got = {
        (r["repo"], r["path"]): (r["commit"], r["lang"], r["content_sha256"], r["last_seq"])
        for r in table.read().collect()
    }
    assert got == oracle_state(events_parquet)

    dl = read_dead_letters(spark, qdir)
    rows = {(r["path"], r["_dead_letter_reason"]) for r in dl.collect()}
    assert rows == {
        ("p1", "null_key"), ("p2", "null_key"), ("p3", "null_seq"),
        ("p4", "unknown_op"), ("p5", "null_content"), ("p6", "null_key"),
    }
    # epoch lineage preserved on the dead letters themselves
    assert {r["epoch"] for r in dl.collect()} == {0, 1, 2, 3}
    # ...and in the merge metrics
    by_epoch = {m["epoch_id"]: m.get("rows_quarantined") for m in rep.metrics}
    assert by_epoch[0] == 2 and by_epoch[1] == 2 and by_epoch[2] == 1 and by_epoch[3] == 1

    # re-apply with a lost checkpoint: table-level exactly-once skips the
    # merges, and the dead letters are NOT re-split (no epoch re-applies),
    # so the quarantine table is unchanged — not doubled
    rep2 = replay(
        spark, dirty, table, CheckpointStore(str(tmp_path / "c2.json")),
        mode="mor", quarantine_dir=qdir,
    )
    assert rep2.epochs_applied == []
    assert read_dead_letters(spark, qdir).count() == 6

    # crash-retry idempotency at the epoch grain: force epoch 0 to re-apply
    # on a FRESH table — its dead letters overwrite partition epoch=0 only
    t2 = LakeTable.create(spark, str(tmp_path / "state2"), STATE_SCHEMA, n_buckets=8)
    replay(spark, dirty, t2, CheckpointStore(str(tmp_path / "c3.json")),
           mode="mor", quarantine_dir=qdir, max_epochs=1)
    dl2 = read_dead_letters(spark, qdir)
    assert dl2.filter("epoch = 0").count() == 2
    assert dl2.count() == 6  # other epochs' letters untouched


def test_replay_without_quarantine_unchanged(spark, events, events_parquet, tmp_path):
    """Default path (no quarantine_dir) must not change: well-formed
    streams replay identically with the feature off."""
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=8)
    rep = replay(spark, events, table, CheckpointStore(str(tmp_path / "c.json")), mode="mor")
    assert rep.events_in == N_EVENTS
    assert all("rows_quarantined" not in m for m in rep.metrics)


def test_replay_sparse_epoch_domain(spark, tmp_path):
    """Batch epochs and a streaming driver's namespaced epochs (1e6+) can
    feed one table: the epoch loop iterates the epochs PRESENT, never the
    dense min..max range (which would mean a million empty driver
    slices), and the final state equals plain LWW over everything."""
    ev = binlog.change_events(spark, 4_000, n_repos=30, events_per_epoch=1_000)
    sparse = ev.withColumn(
        "epoch",
        F.when(F.col("epoch") >= 2, F.col("epoch") + 1_000_000).otherwise(
            F.col("epoch")
        ),
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "c.json"))
    t0 = time.time()
    rep = replay(spark, sparse, table, ck, mode="mor")
    assert time.time() - t0 < 120  # dense-range iteration would crawl
    assert rep.epochs_applied == [0, 1, 1_000_002, 1_000_003]
    got = {
        (r["repo"], r["path"]): r["last_seq"] for r in table.read().collect()
    }
    want = {
        (r["repo"], r["path"]): r["seq"]
        for r in lww_dedup(ev).filter(F.col("op") != "delete").collect()
    }
    assert got == want

    # a straggler epoch arriving later (inside the old gap) still applies
    # on a checkpoint-loss resume: the absent epoch was never falsely
    # recorded as committed, and the table-level skip protects the rest.
    # (With the checkpoint intact, epochs below the cursor are skipped by
    # the documented O(1) monotonic-resume contract.)
    extra = binlog.change_events(spark, 5_000, n_repos=30, events_per_epoch=1_000)
    straggler = extra.filter(F.col("epoch") == 4).withColumn("epoch", F.lit(500_000))
    ck2 = CheckpointStore(str(tmp_path / "c2.json"))  # checkpoint lost
    rep2 = replay(spark, sparse.unionByName(straggler), table, ck2, mode="mor")
    assert rep2.epochs_applied == [500_000]
    assert rep2.epochs_skipped == [0, 1, 1_000_002, 1_000_003]


def test_replay_null_epoch_rejected_or_quarantined(spark, tmp_path):
    """A null-epoch event can never be assigned to a slice — it must be
    dead-lettered (quarantine on) or refuse the replay (quarantine off),
    never silently vanish."""
    ev = binlog.change_events(spark, 2_000, n_repos=10, events_per_epoch=1_000)
    bad = spark.createDataFrame(
        [("rX", "pX", "c", "py", "x", 9_000_000, "insert", None)],
        "repo string, path string, commit string, lang string, content string, seq long, op string, epoch long",
    )
    dirty = ev.withColumn("epoch", F.col("epoch").cast("long")).unionByName(
        bad, allowMissingColumns=True
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "c.json"))
    with pytest.raises(ValueError, match="null 'epoch'"):
        replay(spark, dirty, table, ck, mode="mor")

    from fao_elt_pipelines_spark.lake.quarantine import read_dead_letters

    qdir = str(tmp_path / "dead")
    rep = replay(spark, dirty, table, ck, mode="mor", quarantine_dir=qdir)
    assert rep.epochs_applied == [0, 1]
    dl = read_dead_letters(spark, qdir)
    assert dl.filter(
        (F.col("repo") == "rX") & (F.col("_dead_letter_reason") == "null_epoch")
    ).count() == 1
    assert table.read().filter(F.col("repo") == "rX").count() == 0


def test_replay_no_stats_cow_counts_true_events(spark, tmp_path):
    """events_in under collect_delta_stats=False must never inflate: COW
    rewrites whole (cumulative) buckets, and counting the rewritten-file
    rows would report a multiple of the true event count. COW pays one
    count of the slice (exact); MOR reads delta-file rows from the
    manifest (the group's LWW winners — a documented lower bound)."""
    ev = binlog.change_events(spark, 4_000, n_repos=30, events_per_epoch=1_000)
    for mode in ("mor", "cow"):
        table = LakeTable.create(
            spark, str(tmp_path / f"t_{mode}"), STATE_SCHEMA, n_buckets=8
        )
        ck = CheckpointStore(str(tmp_path / f"c_{mode}.json"))
        rep = replay(
            spark, ev, table, ck, mode=mode, collect_delta_stats=False
        )
        assert rep.epochs_applied == [0, 1, 2, 3]
        if mode == "cow":
            assert rep.events_in == 4_000
        else:
            assert 0 < rep.events_in <= 4_000


def test_lookup_join_enriches_with_bucket_pruned_state(spark, events, events_parquet, tmp_path):
    """Flink-style lookup join: a small probe batch is enriched with the
    table's current row per key, scanning ONLY the probe keys' buckets
    (inputFiles audit), with MOR-correct LWW inside those buckets."""
    table = LakeTable.create(spark, str(tmp_path / "state"), STATE_SCHEMA, n_buckets=16)
    replay(spark, events, table, CheckpointStore(str(tmp_path / "ckpt.json")))
    oracle = oracle_state(events_parquet)
    items = sorted(oracle.items())[:3]
    probe = spark.createDataFrame(
        [(r, p, f"probe-{i}") for i, ((r, p), _) in enumerate(items)],
        "repo string, path string, probe_tag string",
    )
    out = table.lookup_join(probe)
    rows = {(r["repo"], r["path"]): r for r in out.collect()}
    assert len(rows) == 3
    for (r, p), (commit, lang, sha, last_seq) in items:
        got = rows[(r, p)]
        assert (got["state_commit"], got["state_content_sha256"], got["state_last_seq"]) == (
            commit, sha, last_seq,
        )
        assert got["probe_tag"].startswith("probe-")
    # pruning audit: files read ⊆ the probe keys' buckets only
    from fao_elt_pipelines_spark.lake.table import bucket_expr

    want = {
        r["b"]
        for r in probe.select(bucket_expr(16).alias("b")).distinct().collect()
    }
    by_bucket: dict[int, set] = {}
    for e in table.current_snapshot()["manifest"]:
        by_bucket.setdefault(e["bucket"], set()).add(e["path"])
    touched = {f.removeprefix("file://") for f in out.inputFiles() if "/state/" in f}
    owners = {b for b, files in by_bucket.items() if touched & files}
    assert owners <= want and owners
    assert len(by_bucket) > len(want)  # pruning actually excluded buckets

    # a key absent from the table survives a left join with null state
    miss = spark.createDataFrame(
        [("no_such_repo", "no/file.py", "x")], "repo string, path string, probe_tag string"
    )
    row = table.lookup_join(miss).collect()[0]
    assert row["state_last_seq"] is None and row["probe_tag"] == "x"
