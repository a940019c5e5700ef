"""Incremental materialized-view maintenance (lake/mv.py): the signed-delta
fold over the changelog's interval image must equal a full recompute over
the merged table — including deletes — in both COW and MOR modes, and the
incremental refresh must read only touched buckets."""

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView, _contrib
from fao_elt_pipelines_spark.lake.replay import replay
from fao_elt_pipelines_spark.lake.table import LakeTable

from tests.interval_cases import INTERVAL_CASES
from tests.test_engine_core import STATE_SCHEMA


@pytest.fixture(scope="module")
def mv_events(spark):
    return binlog.change_events(
        spark, 16_000, n_repos=60, paths_per_repo=40, events_per_epoch=4_000
    ).cache()


def _rows(df):
    return {tuple(r) for r in df.select("repo", "n_paths", "total_bytes").collect()}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_incremental_refresh_equals_full_recompute(spark, mv_events, tmp_path, mode):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))

    # epochs 0-2 → first refresh is a full compute
    replay(spark, mv_events, table, ck, mode=mode, max_epochs=3)
    rep = view.refresh()
    assert rep["mode"] == "full"
    assert _rows(view.read()) == _rows(_contrib(table.read()))

    # final epoch → MOR interval is the delta files (small → delta
    # algebra); COW rewrote every touched bucket whole, so the interval
    # is table-sized and refresh must choose recompute on its own
    replay(spark, mv_events, table, ck, mode=mode)
    rep = view.refresh()
    if mode == "mor":
        assert rep["mode"] == "incremental"
        assert 0 < rep["touched_buckets"] <= 8
    else:
        assert rep["mode"] == "full" and rep["reason"] == "large interval"
    assert _rows(view.read()) == _rows(_contrib(table.read()))

    # deletes actually exercised: some repo shrank or lost paths vs a
    # pure-append world (the generator emits tombstones)
    live = table.read().count()
    raw_keys = (
        mv_events.filter(F.col("op") != "delete")
        .select("repo", "path").distinct().count()
    )
    assert live < raw_keys

    # idempotent no-op when the cursor is current
    assert view.refresh()["mode"] == "noop"

    # full=True recompute agrees with the incrementally-maintained state
    inc = _rows(view.read())
    view.refresh(full=True)
    assert _rows(view.read()) == inc


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_refresh_reads_touched_buckets_only(spark, mv_events, tmp_path, mode):
    """Locality: a one-key delta must refresh via exactly one of the 8
    buckets — the before/after reads cannot degrade to a table scan.
    Holds for COW too: the rewrite is confined to the key's bucket."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode=mode)
    view.refresh()

    one = spark.createDataFrame(
        [(10_000_000, "insert", "solo_repo", "only/path.py", "c9", "py", "xyz")],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    )
    table.merge_changes(one, epoch_id=99, mode=mode)
    rep = view.refresh()
    assert rep["mode"] == "incremental"
    assert rep["touched_buckets"] == 1
    assert _rows(view.read()) == _rows(_contrib(table.read()))
    assert view.read().filter("repo = 'solo_repo'").count() == 1


@pytest.mark.parametrize("case", sorted(INTERVAL_CASES))
def test_incremental_refresh_over_interval_cases(spark, mv_events, tmp_path, case):
    """Compaction (with and without tombstone expiry), delete + re-insert,
    late events and multi-generation intervals: the incremental refresh
    must equal a full recompute, and an interval of LWW losers must leave
    the view unchanged."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor")
    view.refresh()
    old = _rows(view.read())

    INTERVAL_CASES[case](spark, table)
    assert view.refresh()["mode"] == "incremental"
    got = _rows(view.read())
    assert got == _rows(_contrib(table.read()))
    assert (got == old) == (case == "late_events_lose")


def test_refresh_falls_back_to_full_on_expired_cursor(spark, mv_events, tmp_path):
    """expire_snapshots past the view's cursor makes the interval
    unreconstructable — refresh must degrade to a full recompute (with the
    reason surfaced), not wedge or silently double-count."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor", max_epochs=2)
    view.refresh()

    replay(spark, mv_events, table, ck, mode="mor")
    table.expire_snapshots(keep_last=1)
    rep = view.refresh()
    assert rep["mode"] == "full" and rep["reason"] == "cursor expired"
    assert _rows(view.read()) == _rows(_contrib(table.read()))


def test_refresh_survives_schema_evolution_in_interval(spark, mv_events, tmp_path):
    """An additive schema evolution inside the change interval (merge
    carrying a new column) must leave the incremental refresh exact:
    old files read the new column as NULL, contributions only touch
    (repo, content)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor")
    view.refresh()

    evolved = spark.createDataFrame(
        [(20_000_000, "insert", "evo_repo", "a.py", "c1", "py", "body", 7)],
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string, stars long",
    )
    table.merge_changes(evolved, epoch_id=77, mode="mor")
    rep = view.refresh()
    assert rep["mode"] == "incremental"
    assert _rows(view.read()) == _rows(_contrib(table.read()))
    assert view.read().filter("repo = 'evo_repo'").count() == 1


def test_refresh_overwrite_forces_recompute(spark, mv_events, tmp_path):
    """overwrite drops rows without tombstoned file-adds — the delta
    algebra can't see the retractions, so refresh must detect the
    operation and recompute (not silently keep stale aggregates)."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor")
    view.refresh()

    keep_one = table.read().filter("repo = 'repo_00000'")
    table.overwrite(keep_one)
    rep = view.refresh()
    assert rep["mode"] == "full" and rep["reason"] == "non-incremental operation in interval"
    got = _rows(view.read())
    assert got == _rows(_contrib(table.read()))
    assert {r[0] for r in got} == {"repo_00000"}


def test_refresh_noop_advance_and_commit_conflict(spark, mv_events, tmp_path):
    """A compact-only interval advances the cursor without a Spark write
    (marker shares the data dir); a racing commit for the same version
    loses the marker CAS with MVCommitConflict."""
    from fao_elt_pipelines_spark.lake.mv import MVCommitConflict

    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    mv_dir = str(tmp_path / "mv")
    view = IncrementalGoldView(spark, table, mv_dir)
    replay(spark, mv_events, table, ck, mode="mor")
    view.refresh()

    import os as _os

    cur = view.cursor()
    dirs_before = {d for d in _os.listdir(mv_dir) if d.startswith("data-")}
    table.compact()
    rep = view.refresh()
    assert rep["mode"] == "noop"
    after = view.cursor()
    assert after["version"] == cur["version"] + 1 and after["dir"] == cur["dir"]
    assert {d for d in _os.listdir(mv_dir) if d.startswith("data-")} == dirs_before
    assert after["snapshot_id"] == table.current_snapshot()["snapshot_id"]

    # CAS: another refresh committed the next version after we pinned our
    # base (simulated with an injected marker + explicit base_version) →
    # the loser gets MVCommitConflict and its fresh data dir is removed
    import json as _json

    taken = dict(after, version=after["version"] + 1)
    with open(_os.path.join(mv_dir, f"v{taken['version']}.commit.json"), "x") as f:
        _json.dump(taken, f)
    with pytest.raises(MVCommitConflict):
        view._commit_state(
            view.read(), after["snapshot_id"], base_version=after["version"]
        )
    assert {d for d in _os.listdir(mv_dir) if d.startswith("data-")} == dirs_before


def test_refresh_crash_leaves_old_state(spark, mv_events, tmp_path, monkeypatch):
    """A refresh that dies before the commit marker (the commit point)
    must leave the previous state fully readable — at worst an orphan
    data directory — and the retry must converge. A crash AFTER the
    marker but before the cursor.json hint swap is also covered: the
    cursor rolls forward from the markers."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor", max_epochs=3)
    view.refresh()
    before = _rows(view.read())
    cursor_before = view.cursor()

    replay(spark, mv_events, table, ck, mode="mor")
    real_marker = IncrementalGoldView._commit_marker

    def boom(self, version, payload):
        raise RuntimeError("injected crash before commit marker")

    monkeypatch.setattr(IncrementalGoldView, "_commit_marker", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        view.refresh()
    monkeypatch.undo()

    assert view.cursor() == cursor_before
    assert _rows(view.read()) == before
    rep = view.refresh()
    assert rep["mode"] == "incremental"
    assert _rows(view.read()) == _rows(_contrib(table.read()))

    # crash between marker create and hint swap: cursor() rolls forward
    # from the markers even though cursor.json lags
    import json as _json
    import os as _os

    del real_marker  # (unused: the marker is hand-written to skip the hint swap)
    cur = view.cursor()
    nxt = dict(cur, version=cur["version"] + 1)
    with open(
        _os.path.join(str(tmp_path / "mv"), f"v{nxt['version']}.commit.json"), "x"
    ) as f:
        _json.dump(nxt, f)
    healed = view.cursor()
    assert healed["version"] == nxt["version"] and healed["dir"] == cur["dir"]


def test_refresh_rebucket_forces_recompute(spark, mv_events, tmp_path):
    """A rebucket inside the refresh interval remaps keys across buckets:
    pre-rebucket change entries carry OLD-layout bucket ids, so the
    touched-bucket image pruning would read the wrong buckets. Refresh
    must detect the operation and recompute — and an interval with a
    rebucket PLUS a later merge must still end exactly equal to the full
    aggregate."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor", max_epochs=3)
    view.refresh()

    table.rebucket(24)
    replay(spark, mv_events, table, ck, mode="mor")  # final epoch, new layout
    rep = view.refresh()
    assert rep["mode"] == "full" and rep["reason"] == "non-incremental operation in interval"
    assert _rows(view.read()) == _rows(_contrib(table.read()))

    # next interval (merge only, new layout) is incremental again
    extra = binlog.change_events(
        spark, 18_000, n_repos=60, paths_per_repo=40, events_per_epoch=4_000
    ).filter(F.col("seq") >= 16_000)
    table.merge_changes(extra, epoch_id=50, mode="mor")
    rep = view.refresh()
    assert rep["mode"] == "incremental"
    assert _rows(view.read()) == _rows(_contrib(table.read()))


def test_refresh_sees_overwrite_to_empty(spark, mv_events, tmp_path):
    """Truncate-to-empty commits an overwrite with ZERO manifest entries;
    the empty change interval must not advance the cursor past it (the
    non-incremental-op check runs first), or the view would report the
    old rows forever."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    view = IncrementalGoldView(spark, table, str(tmp_path / "mv"))
    replay(spark, mv_events, table, ck, mode="mor")
    view.refresh()
    assert view.read().count() > 0

    table.overwrite(table.read().limit(0))
    rep = view.refresh()
    assert rep["mode"] == "full" and rep["reason"] == "non-incremental operation in interval"
    assert view.read().count() == 0
    assert view.cursor()["snapshot_id"] == table.current_snapshot()["snapshot_id"]
