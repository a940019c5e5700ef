"""Row-level changelog reads (lake/changelog.py): the derived CDC-emit
surface must equal a brute diff of the two snapshot states, reconstruct
the after-image when applied by a consumer, restrict its scan to the
interval's touched buckets on the incremental path, and fall back to a
full diff across non-incremental operations (overwrite)."""

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake.changelog import (
    DELETE,
    INSERT,
    UPDATE_POST,
    UPDATE_PRE,
    apply_row_changes,
    row_changes,
)
from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
from fao_elt_pipelines_spark.lake.replay import replay
from fao_elt_pipelines_spark.lake.table import LakeTable

from tests.interval_cases import INTERVAL_CASES
from tests.plan_utils import plan_of
from tests.test_engine_core import STATE_SCHEMA

KEYS = ("repo", "path")


@pytest.fixture(scope="module")
def cl_events(spark):
    return binlog.change_events(
        spark, 16_000, n_repos=60, paths_per_repo=40, events_per_epoch=4_000
    ).cache()


def _state_rows(df):
    return {tuple(r) for r in df.select(*STATE_SCHEMA.fieldNames()).collect()}


def _brute_diff(before_rows, after_rows):
    """Expected changelog from two collected states, key → classification."""
    b = {(r[0], r[1]): r for r in before_rows}
    a = {(r[0], r[1]): r for r in after_rows}
    out = set()
    for k in a.keys() - b.keys():
        out.add((INSERT,) + a[k])
    for k in b.keys() - a.keys():
        out.add((DELETE,) + b[k])
    for k in a.keys() & b.keys():
        if a[k] != b[k]:
            out.add((UPDATE_PRE,) + b[k])
            out.add((UPDATE_POST,) + a[k])
    return out


def _changelog_rows(ch):
    return {
        (r["_change_type"],) + tuple(r[c] for c in STATE_SCHEMA.fieldNames())
        for r in ch.collect()
    }


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changelog_equals_brute_state_diff(spark, cl_events, tmp_path, mode):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode=mode, max_epochs=2)
    sid1 = table.current_snapshot()["snapshot_id"]
    before = _state_rows(table.read(snapshot_id=sid1))
    replay(spark, cl_events, table, ck, mode=mode)
    sid2 = table.current_snapshot()["snapshot_id"]
    after = _state_rows(table.read(snapshot_id=sid2))

    ch = row_changes(table, sid1, sid2)
    assert _changelog_rows(ch) == _brute_diff(before, after)
    # snapshot-id lineage columns ride along on every row
    ids = ch.select("_from_snapshot_id", "_to_snapshot_id").distinct().collect()
    assert [(r[0], r[1]) for r in ids] == [(sid1, sid2)]
    # updates come in exactly matched pre/post pairs
    pairs = (
        ch.filter(F.col("_change_type").isin(UPDATE_PRE, UPDATE_POST))
        .groupBy(*KEYS)
        .agg(F.collect_set("_change_type").alias("ts"))
        .collect()
    )
    assert pairs and all(sorted(r["ts"]) == [UPDATE_POST, UPDATE_PRE] for r in pairs)


@pytest.mark.parametrize("case", sorted(INTERVAL_CASES))
def test_interval_image_equals_brute_state_diff(spark, cl_events, tmp_path, case):
    """The one-scan interval image (from-snapshot files of the touched
    buckets ∪ the interval's added files) must classify exactly like a
    diff of the two snapshot states, including intervals whose
    to-snapshot files differ from that union — and without a diff join."""
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode="mor")
    sid1 = table.current_snapshot()["snapshot_id"]
    before = _state_rows(table.read(snapshot_id=sid1))
    INTERVAL_CASES[case](spark, table)
    sid2 = table.current_snapshot()["snapshot_id"]
    after = _state_rows(table.read(snapshot_id=sid2))

    ch = row_changes(table, sid1, sid2)
    assert "FullOuter" not in plan_of(ch)
    got = _changelog_rows(ch)
    assert got == _brute_diff(before, after)
    assert (not got) == (case == "late_events_lose")


def test_apply_reconstructs_after_image(spark, cl_events, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode="mor", max_epochs=2)
    sid1 = table.current_snapshot()["snapshot_id"]
    replay(spark, cl_events, table, ck, mode="mor")
    sid2 = table.current_snapshot()["snapshot_id"]

    rebuilt = apply_row_changes(
        table.read(snapshot_id=sid1), row_changes(table, sid1, sid2)
    )
    assert _state_rows(rebuilt) == _state_rows(table.read(snapshot_id=sid2))


def test_initial_load_emits_state_as_inserts(spark, cl_events, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode="mor", max_epochs=2)
    ch = row_changes(table, None)
    assert {r[0] for r in ch.select("_change_type").distinct().collect()} == {INSERT}
    assert ch.count() == table.read().count()  # no spurious extra rows
    assert {r[1:] for r in _changelog_rows(ch)} == _state_rows(table.read())


def test_empty_and_compact_only_intervals_emit_nothing(spark, cl_events, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode="mor")
    sid = table.current_snapshot()["snapshot_id"]
    assert row_changes(table, sid, sid).count() == 0
    table.compact()
    sid2 = table.current_snapshot()["snapshot_id"]
    assert sid2 != sid
    # bytes moved, no logical change — and no data IO either
    ch = row_changes(table, sid, sid2)
    assert ch.count() == 0 and not ch.inputFiles()


def test_incremental_path_reads_touched_buckets_only(spark, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    ev = binlog.change_events(spark, 8_000, n_repos=60, paths_per_repo=40,
                              events_per_epoch=8_000)
    replay(spark, ev, table, ck, mode="mor")
    sid1 = table.current_snapshot()["snapshot_id"]
    one = (
        table.read().limit(1)
        .select("repo", "path", "commit", "lang",
                F.lit("new-content").alias("content"),
                F.lit("update").alias("op"),
                (F.col("last_seq") + 1_000_000).alias("seq"))
    )
    table.merge_changes(one, epoch_id=999, mode="mor")
    sid2 = table.current_snapshot()["snapshot_id"]

    ch = row_changes(table, sid1, sid2)
    rows = _changelog_rows(ch)
    assert {r[0] for r in rows} == {UPDATE_PRE, UPDATE_POST}
    # both images were bucket-pruned: every scanned file sits in a bucket
    # the one-key interval touched (1 of 8), never the other 7
    meta = table._load_metadata()
    touched = {e["bucket"] for e in table._changes_entries(sid1, sid2, meta=meta)}
    assert len(touched) == 1
    allowed = {
        e["path"]
        for s in meta["snapshots"]
        for e in s["manifest"]
        if e["bucket"] in touched
    }
    from urllib.parse import urlparse

    scanned = {urlparse(f).path for f in ch.inputFiles()}
    assert scanned and scanned <= allowed


def test_overwrite_interval_falls_back_to_full_diff(spark, cl_events, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode="mor", max_epochs=2)
    sid1 = table.current_snapshot()["snapshot_id"]
    before = _state_rows(table.read(snapshot_id=sid1))
    # truncate-reload to a 100-row subset: the dropped rows are invisible
    # to the file-add walk — only a full diff can retract them
    keep = table.read(snapshot_id=sid1).orderBy("repo", "path").limit(100)
    table.overwrite(keep, epoch_id=1_000)
    sid2 = table.current_snapshot()["snapshot_id"]
    after = _state_rows(table.read(snapshot_id=sid2))
    assert len(after) == 100 and len(before) > 100

    ch = row_changes(table, sid1, sid2)
    assert "FullOuter" in plan_of(ch)  # the two-image fallback, not the interval image
    assert _changelog_rows(ch) == _brute_diff(before, after)


def test_replicate_mirrors_source_exactly_once(spark, cl_events, tmp_path):
    src = LakeTable.create(spark, str(tmp_path / "src"), STATE_SCHEMA, n_buckets=8)
    tgt = LakeTable.create(spark, str(tmp_path / "tgt"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    mck = CheckpointStore(str(tmp_path / "mirror.json"))
    from fao_elt_pipelines_spark.lake.changelog import replicate

    # initial load: no cursor → whole state arrives as inserts
    replay(spark, cl_events, src, ck, mode="mor", max_epochs=2)
    rep = replicate(src, tgt, mck)
    assert rep["mode"] == "incremental" and rep["from"] is None
    assert _state_rows(tgt.read()) == _state_rows(src.read())

    # incremental interval, including deletes that must retract in target
    replay(spark, cl_events, src, ck, mode="mor")
    rep = replicate(src, tgt, mck)
    assert rep["mode"] == "incremental"
    assert _state_rows(tgt.read()) == _state_rows(src.read())

    # caught up → noop; stale cursor (crash before cursor write) → the
    # target's own committed-epoch record recovers the true position, so
    # the re-offered interval is never even diffed: the call resolves to
    # a noop and the cursor heals, state unchanged — exactly-once at
    # mirror granularity
    assert replicate(src, tgt, mck)["mode"] == "noop"
    healthy = _state_rows(tgt.read())
    n_tgt = len(tgt.snapshots())
    doc = mck.load()
    stale_from = src._load_metadata()["snapshots"][1]["snapshot_id"]
    doc["sources"]["changelog-mirror"]["epoch"] = stale_from
    mck._write(doc)
    rep = replicate(src, tgt, mck)
    assert rep["mode"] == "noop"
    assert _state_rows(tgt.read()) == healthy
    assert len(tgt.snapshots()) == n_tgt  # no junk re-merge commit
    assert mck.last_epoch("changelog-mirror") == src.current_snapshot()["snapshot_id"]
    # seq_hi holds a LOG position (the source's binlog high-water mark),
    # never a snapshot id — consumers derive watermarks from it. The oracle
    # is the max seq over every replayed event (tombstones included), not
    # the live-row max, which undercounts when the log's tail is a delete.
    max_seq = cl_events.agg(F.max("seq")).collect()[0][0]
    assert mck.load()["sources"]["changelog-mirror"]["seq_hi"] == max_seq


def test_replicate_recovers_cursor_past_advanced_head(spark, cl_events, tmp_path):
    """Crash between target commit and cursor advance, THEN the source
    head moves: the widened interval diffs under a NEW epoch id, so the
    committed-epoch skip alone cannot save us. A key inserted in the
    applied-but-uncursored interval and deleted in the next one diffs to
    nothing endpoint-to-endpoint — without cursor recovery from the
    target's committed epochs, its insert would strand in the mirror."""
    src = LakeTable.create(spark, str(tmp_path / "src"), STATE_SCHEMA, n_buckets=8)
    tgt = LakeTable.create(spark, str(tmp_path / "tgt"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    mck = CheckpointStore(str(tmp_path / "mirror.json"))
    from fao_elt_pipelines_spark.lake.changelog import replicate

    replay(spark, cl_events, src, ck, mode="mor", max_epochs=2)
    replicate(src, tgt, mck)
    synced_from = mck.last_epoch("changelog-mirror")

    row = lambda op, seq: (
        spark.createDataFrame(
            [("zz_repo", "zz_path", "c1", "python", "transient")],
            "repo string, path string, commit string, lang string, content string",
        ).select("*", F.lit(op).alias("op"), F.lit(seq).cast("long").alias("seq"))
    )
    # interval I1: brand-new key K arrives and IS mirrored...
    src.merge_changes(row("insert", 50_000_000), epoch_id=800, mode="mor")
    assert replicate(src, tgt, mck)["mode"] == "incremental"
    assert tgt.read().filter(F.col("repo") == "zz_repo").count() == 1
    # ...but the cursor write crashed
    doc = mck.load()
    doc["sources"]["changelog-mirror"]["epoch"] = synced_from
    mck._write(doc)
    # interval I2: K is deleted upstream; K is absent at BOTH endpoints
    # of the widened (synced_from, head] interval
    src.merge_changes(row("delete", 50_000_001), epoch_id=801, mode="mor")
    rep = replicate(src, tgt, mck)
    assert rep["mode"] == "incremental"
    assert tgt.read().filter(F.col("repo") == "zz_repo").count() == 0
    assert _state_rows(tgt.read()) == _state_rows(src.read())


def test_replicate_skips_compact_only_interval(spark, cl_events, tmp_path):
    """A compaction on the source moves bytes, not logic: the mirror
    must advance its cursor without committing anything on the target
    (no empty merge snapshot, no Spark job over an empty changelog)."""
    src = LakeTable.create(spark, str(tmp_path / "src"), STATE_SCHEMA, n_buckets=8)
    tgt = LakeTable.create(spark, str(tmp_path / "tgt"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    mck = CheckpointStore(str(tmp_path / "mirror.json"))
    from fao_elt_pipelines_spark.lake.changelog import replicate

    replay(spark, cl_events, src, ck, mode="mor")
    replicate(src, tgt, mck)
    n_tgt = len(tgt.snapshots())

    src.compact()
    rep = replicate(src, tgt, mck)
    assert rep["mode"] == "noop" and rep["reason"] == "no logical change"
    assert len(tgt.snapshots()) == n_tgt
    assert mck.last_epoch("changelog-mirror") == src.current_snapshot()["snapshot_id"]
    assert _state_rows(tgt.read()) == _state_rows(src.read())


def test_replicate_carries_schema_evolution(spark, cl_events, tmp_path):
    """An additive column arriving upstream must flow through the
    changelog into the mirror: the interval's post-images carry the new
    field, the target's merge reconciles its registry, and both tables
    agree on the full evolved row set."""
    src = LakeTable.create(spark, str(tmp_path / "src"), STATE_SCHEMA, n_buckets=8)
    tgt = LakeTable.create(spark, str(tmp_path / "tgt"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    mck = CheckpointStore(str(tmp_path / "mirror.json"))
    from fao_elt_pipelines_spark.lake.changelog import replicate

    replay(spark, cl_events, src, ck, mode="mor", max_epochs=2)
    replicate(src, tgt, mck)

    evolved = (
        src.read().orderBy("repo", "path").limit(5)
        .select("repo", "path", "commit", "lang",
                F.lit("evolved-content").alias("content"),
                F.lit(7).cast("int").alias("stars"),
                F.lit("update").alias("op"),
                (F.col("last_seq") + 10_000_000).alias("seq"))
    )
    src.merge_changes(evolved, epoch_id=777, mode="mor")
    assert replicate(src, tgt, mck)["mode"] == "incremental"

    cols = sorted(c for c in tgt.read().columns)
    assert "stars" in cols
    full = lambda t: {tuple(r) for r in t.read().select(*cols).collect()}
    assert full(tgt) == full(src)
    assert tgt.read().filter(F.col("stars") == 7).count() == 5


def test_replicate_resyncs_past_expired_cursor(spark, cl_events, tmp_path):
    src = LakeTable.create(spark, str(tmp_path / "src"), STATE_SCHEMA, n_buckets=8)
    tgt = LakeTable.create(spark, str(tmp_path / "tgt"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    mck = CheckpointStore(str(tmp_path / "mirror.json"))
    from fao_elt_pipelines_spark.lake.changelog import replicate

    replay(spark, cl_events, src, ck, mode="mor", max_epochs=2)
    replicate(src, tgt, mck)
    replay(spark, cl_events, src, ck, mode="mor")
    src.expire_snapshots(keep_last=1)  # mirror cadence fell behind retention
    rep = replicate(src, tgt, mck)
    assert rep["mode"] == "resync" and rep["reason"] == "cursor expired"
    assert _state_rows(tgt.read()) == _state_rows(src.read())


def test_expired_from_snapshot_raises(spark, cl_events, tmp_path):
    table = LakeTable.create(spark, str(tmp_path / "t"), STATE_SCHEMA, n_buckets=8)
    ck = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, cl_events, table, ck, mode="mor")
    sids = [s["snapshot_id"] for s in table._load_metadata()["snapshots"]]
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        row_changes(table, sids[0])
