"""Crash debris and torn control files.

Orphan-file GC (LakeTable.remove_orphan_files): uncommitted debris — a
CAS loser's data files, a crashed writer's manifest, stale commit temp
files — is collected after the safety horizon, while referenced files and
younger (possibly in-flight) files are untouched. Control files go through
``lake.durable``: a torn one raises a named error, the writers fsync in
crash-safe order, and a crash at any durable write resumes to the state
of an uncrashed run."""

import os
import re
import shutil
import stat
import time

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView, _contrib
from fao_elt_pipelines_spark.lake.replay import replay
from fao_elt_pipelines_spark.lake.table import CommitConflictError, LakeTable
from scripts.table_tool import cmd_check

from tests.test_engine_core import STATE_SCHEMA
from tests.test_mv import _Kill

HOUR_MS = 3600 * 1000


def _next_ms():
    """Spin until the millisecond clock ticks — commit timestamps in the
    age-based tests must be strictly ordered, not same-ms coincident."""
    t0 = int(time.time() * 1000)
    while int(time.time() * 1000) <= t0:
        time.sleep(0.0005)


def _mk_with_commits(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    ev = binlog.change_events(spark, 4000, n_repos=20, paths_per_repo=20, events_per_epoch=2000)
    for e in (0, 1):
        _next_ms()
        t.merge_changes(ev.filter(F.col("epoch") == e), epoch_id=e)
    return t


def test_orphans_collected_referenced_kept(spark, tmp_path):
    t = _mk_with_commits(spark, tmp_path)
    before = {tuple(r) for r in t.read().collect()}
    sid1 = t.history()[0]["snapshot_id"]

    # a CAS loser: data files + manifest written, commit never landed
    ev = binlog.change_events(spark, 1000, n_repos=20, paths_per_repo=20, events_per_epoch=1000)
    loser = ev.withColumn("_is_deleted", F.lit(False)).withColumn(
        "_bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(4)).cast("int")
    ).drop("op", "epoch", "ingest_ts").withColumnRenamed("seq", "last_seq")
    orphan_entries = t._write_data_files(loser, source_epoch=99)
    orphan_paths = [e["path"] for e in orphan_entries]
    orphan_manifest = os.path.join(t.manifest_dir, "snap-99-deadbeef.json")
    with open(orphan_manifest, "w") as f:
        f.write("[]")
    stale_tmp = os.path.join(t.meta_dir, "v99.metadata.json.tmp.dead")
    with open(stale_tmp, "w") as f:
        f.write("{}")
    assert all(os.path.exists(p) for p in orphan_paths)

    # inside the safety horizon nothing moves (in-flight writers look
    # exactly like this)
    assert t.remove_orphan_files(older_than_ms=24 * HOUR_MS) == {
        "data_files": 0,
        "manifest_files": 0,
        "bloom_sidecars": 0,
    }
    assert all(os.path.exists(p) for p in orphan_paths)

    # past the horizon the debris goes, referenced files stay
    now = int(time.time() * 1000)
    removed = t.remove_orphan_files(older_than_ms=HOUR_MS, _now_ms=now + 2 * HOUR_MS)
    assert removed["data_files"] == len(orphan_paths)
    assert removed["manifest_files"] == 1
    assert not any(os.path.exists(p) for p in orphan_paths)
    assert not os.path.exists(orphan_manifest)
    assert not os.path.exists(stale_tmp)

    # the table is untouched: current read and time travel bit-identical
    assert {tuple(r) for r in t.read().collect()} == before
    assert t.read(snapshot_id=sid1).count() > 0


def test_expire_age_based_retention(spark, tmp_path):
    """older_than_ms keeps young snapshots beyond keep_last; old ones go."""
    t = _mk_with_commits(spark, tmp_path)  # 2 merge snapshots
    ev = binlog.change_events(spark, 2000, n_repos=20, paths_per_repo=20, events_per_epoch=1000)
    _next_ms()
    t.merge_changes(ev.filter(F.col("seq") < 1000), epoch_id=2)
    snaps = t.history()
    now = snaps[-1]["timestamp_ms"] + 1
    # horizon straddles the log: snapshots 2 and 3 are "young", 1 is "old"
    horizon = now - snaps[1]["timestamp_ms"] + 1
    rep = t.expire_snapshots(keep_last=1, older_than_ms=horizon, _now_ms=now)
    assert rep["expired"] == 1
    kept_ids = [s["snapshot_id"] for s in t.snapshots()]
    assert kept_ids == [snaps[1]["snapshot_id"], snaps[2]["snapshot_id"]]
    # age floor never undercuts keep_last: everything-young → no-op
    rep2 = t.expire_snapshots(keep_last=1, older_than_ms=10**12, _now_ms=now)
    assert rep2["expired"] == 0


# ------------------------------------------------- torn control files


def test_torn_control_files_raise_named_error(tmp_path):
    """A control file published without its data (empty or truncated)
    names itself instead of surfacing a bare JSONDecodeError: table
    metadata, manifest, checkpoint and MV marker reads raise
    TornFileError with the path, and ``table_tool check`` reports a torn
    VERSION / current metadata / manifest file as an issue line. Metadata
    and manifest reads start no JVM (spark=None)."""
    from fao_elt_pipelines_spark.lake.durable import TornFileError

    def truncate_half(fp):
        with open(fp) as f:
            n = len(f.read())
        os.truncate(fp, n // 2)
        return fp

    src = LakeTable.create(None, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=4)
    src._commit("append", [], [], epoch_id=0, summary={})
    assert cmd_check(src)["ok"]
    for rel in (
        "VERSION",
        f"v{src._version()}.metadata.json",
        src.current_snapshot()["manifest_file"],
    ):
        t = LakeTable(None, shutil.copytree(src.path, str(tmp_path / rel.replace("/", "_"))))
        torn = truncate_half(os.path.join(t.meta_dir, rel))
        with pytest.raises(TornFileError, match=re.escape(torn)):
            t.current_snapshot()["manifest"]
        rep = cmd_check(t)
        assert not rep["ok"] and any(torn in i for i in rep["issues"]), rep
    assert cmd_check(src)["ok"]  # the original is untouched

    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    ck.commit("binlog", 0, 10)
    torn = truncate_half(ck.path)
    with pytest.raises(TornFileError, match=re.escape(torn)):
        ck.last_epoch()

    mv_dir = tmp_path / "mv"
    mv_dir.mkdir()
    (mv_dir / "v0.commit.json").write_text("")
    with pytest.raises(TornFileError, match=re.escape(str(mv_dir / "v0.commit.json"))):
        IncrementalGoldView(None, None, str(mv_dir)).cursor()


def test_durable_writes_fsync_file_before_publish_and_dir_after(tmp_path, monkeypatch):
    """Power-loss ordering: the temp file's data is fsynced before the
    replace/link makes it visible, and the directory is fsynced after so
    the publish itself survives. A lost create leaves no temp file."""
    from fao_elt_pipelines_spark.lake import durable

    calls = []
    real_fsync, real_replace, real_link = os.fsync, os.replace, os.link

    def fsync(fd):
        calls.append("fsync-dir" if stat.S_ISDIR(os.fstat(fd).st_mode) else "fsync-file")
        real_fsync(fd)

    def recorded(name, fn):
        def call(a, b):
            calls.append(name)
            fn(a, b)
        return call

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", recorded("replace", real_replace))
    monkeypatch.setattr(os, "link", recorded("link", real_link))

    durable.replace_json(str(tmp_path / "ptr"), 7)
    durable.replace_json(str(tmp_path / "ptr"), 8)
    assert calls == ["fsync-file", "replace", "fsync-dir"] * 2
    calls.clear()
    durable.create_json(str(tmp_path / "once.json"), {"a": 1})
    assert calls == ["fsync-file", "link", "fsync-dir"]
    with pytest.raises(FileExistsError):
        durable.create_json(str(tmp_path / "once.json"), {"a": 2})
    assert durable.load_json(str(tmp_path / "ptr")) == 8
    assert durable.load_json(str(tmp_path / "once.json")) == {"a": 1}
    assert sorted(os.listdir(tmp_path)) == ["once.json", "ptr"]  # no temp debris


# ------------------------------------------- crash matrix (one seam)


def _site(path, obj):
    """Which commit-protocol step a durable write is."""
    name = os.path.basename(path)
    if name == "VERSION":
        return "version"
    if name.endswith(".metadata.json"):
        snaps = obj["snapshots"]
        return "compact" if snaps and snaps[-1]["operation"] == "compact" else "metadata"
    if os.path.basename(os.path.dirname(path)) == "manifests":
        return "manifest"
    return {"ckpt.json": "checkpoint", "cursor.json": "mv_hint"}.get(name, "mv_marker")


def _workload(spark, root, events):
    """Tiny MOR replay (3 epochs → merge, merge, compaction, merge) plus
    one MV refresh; a rerun on the same directories is the resume."""
    tp = os.path.join(root, "t")
    table = (
        LakeTable(spark, tp)
        if LakeTable.exists(tp)
        else LakeTable.create(spark, tp, STATE_SCHEMA, n_buckets=2)
    )
    ck = CheckpointStore(os.path.join(root, "ckpt.json"))
    try:
        replay(spark, events, table, ck, mode="mor", compact_every=2)
    except CommitConflictError:
        # a commit that died between the metadata link and the VERSION
        # advance: the first retry repairs the pointer and conflicts (the
        # documented CAS contract), the re-offer then skips the epoch
        replay(spark, events, table, ck, mode="mor", compact_every=2)
    view = IncrementalGoldView(spark, table, os.path.join(root, "mv"))
    view.refresh()
    return table, view


@pytest.fixture(scope="module")
def crash_events(spark):
    return binlog.change_events(
        spark, 60, n_repos=4, paths_per_repo=5, events_per_epoch=20
    ).cache()


@pytest.fixture(scope="module")
def uncrashed(spark, crash_events, tmp_path_factory):
    table, _ = _workload(spark, str(tmp_path_factory.mktemp("uncrashed")), crash_events)
    return sorted(map(tuple, table.read().collect())), table.committed_epochs()


@pytest.mark.parametrize(
    "site,nth",
    [
        ("manifest", 2),  # second merge's manifest
        ("metadata", 3),  # second merge's metadata link, the CAS (v0 CREATE is #1)
        ("version", 3),  # second merge's pointer
        ("checkpoint", 2),
        ("compact", 1),
        ("mv_marker", 1),
        ("mv_hint", 1),
    ],
)
def test_crash_at_each_durable_write_resumes_exactly(
    spark, crash_events, uncrashed, tmp_path, monkeypatch, site, nth
):
    """Kill the run at the ``nth`` durable write of one commit-protocol
    step — after its temp file is written, before it is published — then
    rerun: table contents and committed epochs equal an uncrashed run,
    the MV equals a full recompute, ``table_tool check`` is clean and
    orphan GC leaves no temp debris."""
    from fao_elt_pipelines_spark.lake import durable

    seen = []

    def crashing(real):
        def write(path, obj):
            seen.append(_site(path, obj))
            if seen.count(site) == nth and seen[-1] == site:
                d, name = os.path.split(path)
                with open(os.path.join(d, f".{name}.killed.tmp"), "w") as f:
                    f.write("{")  # the dead writer's unpublished temp file
                raise _Kill(f"killed at {site} #{nth}: {path}")
            real(path, obj)
        return write

    monkeypatch.setattr(durable, "replace_json", crashing(durable.replace_json))
    monkeypatch.setattr(durable, "create_json", crashing(durable.create_json))
    with pytest.raises(_Kill):
        _workload(spark, str(tmp_path), crash_events)
    monkeypatch.undo()

    table, view = _workload(spark, str(tmp_path), crash_events)
    rows, epochs = uncrashed
    assert sorted(map(tuple, table.read().collect())) == rows
    assert table.committed_epochs() == epochs
    mv = {tuple(r) for r in view.read().collect()}
    assert mv == {tuple(r) for r in _contrib(table.read()).collect()}
    assert cmd_check(table)["ok"]
    table.remove_orphan_files(older_than_ms=0, _now_ms=int(time.time() * 1000) + 1000)
    assert [f for _, _, fs in os.walk(table.path) for f in fs if ".tmp" in f] == []
    assert table.read().count() == len(rows)
