"""Per-file Bloom filters for point-lookup file skipping (lake/bloom.py,
LakeTable.build_blooms / scan_where point predicates).

Claims under test: (1) CROSS-SIDE DETERMINISM — the JVM probe-position
expression and the driver-side probe compute identical positions, so
(2) NO FALSE NEGATIVES — every value present in a file passes that
file's bloom, hence pruning is EXACT: scan_where on a point key equals
read()+filter under any layout, with or without blooms, with MOR deltas
present (delta buckets exempt); (3) the LAYOUT EFFECT — on files whose
[min, max] all straddle the probed key (the hash-bucketed norm), min/max
prunes nothing while blooms prune almost everything; (4) incremental
builds skip already-covered files.
"""

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake import bloom as BL
from fao_elt_pipelines_spark.lake.table import LakeTable, bucket_of
from scripts.replay_job import STATE_SCHEMA

N_EVENTS = 6_000


@pytest.fixture(scope="module")
def events(spark):
    # many distinct paths, few repos: a 100-row file covers ~100 of 512
    # path values, so a point path probe is absent from most files —
    # exactly the population blooms prune and min/max can't (the linear
    # repo layout below records no path stats at all)
    return binlog.change_events(
        spark, N_EVENTS, n_repos=8, paths_per_repo=512,
        events_per_epoch=N_EVENTS, num_partitions=8,
    ).persist()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory, events):
    t = LakeTable.create(
        spark, str(tmp_path_factory.mktemp("bloom") / "t"), STATE_SCHEMA,
        n_buckets=4,
    )
    t.merge_changes(events, epoch_id=0)
    # small files in repo order: path values interleave arbitrarily
    # within each file and path min/max is not even recorded
    t.cluster(["repo"], strategy="linear", max_records_per_file=100)
    n = t.build_blooms(["path"])
    assert n > 0
    return t


def test_probe_positions_cross_side(spark):
    """The conv(md5)-based JVM expression and hashlib driver twin agree
    on every probe position for representative values."""
    vals = ["src/dir_3/file_7.py", "", "repo_00000", "42", "é-ü", "a|b"]
    df = spark.createDataFrame([(v,) for v in vals], "v string").select(
        "v", *BL._position_exprs("v", BL.DEFAULT_M_BITS, BL.DEFAULT_K)
    )
    for row in df.collect():
        got = [row[f"_p{i}"] for i in range(BL.DEFAULT_K)]
        assert got == BL.probe_positions(
            row["v"], BL.DEFAULT_M_BITS, BL.DEFAULT_K
        ), row["v"]


def test_no_false_negatives_and_layout_effect(spark, table):
    """Every (file, path-value) actually in a base file passes its bloom;
    and on this hash-bucketed layout a point path lookup keeps ~only the
    files that truly contain the key."""
    meta = table._load_metadata()
    blooms = table._load_blooms(meta)
    snap = table.current_snapshot()
    base = [e for e in snap["manifest"] if e.get("kind") != "delta"]
    truth = {}  # file -> set of paths actually present
    for e in base:
        rows = spark.read.parquet(e["path"]).select("path").distinct().collect()
        truth[e["path"]] = {r["path"] for r in rows}
    probed_files = 0
    for e in base:
        rec = blooms.get((e["path"], "path"))
        assert rec is not None, f"no bloom row for {e['path']}"
        probed_files += 1
        for v in truth[e["path"]]:
            assert BL.probe(rec[0], v, rec[1], rec[2])  # no false negatives
    assert probed_files == len(base)
    # layout effect: every file's [min,max] straddles a mid-range path
    # (hash-bucketed writes interleave keys), so min/max alone keeps all
    # files in candidate buckets; the bloom must beat that
    probe_key = sorted(truth[base[0]["path"]])[0]  # a real key
    df, pruned, total = table.scan_where(
        {"path": (probe_key, probe_key)}, with_stats=True
    )
    truly_contain = sum(1 for fs in truth.values() if probe_key in fs)
    kept = total - pruned
    assert kept < len(base), "bloom pruned nothing on a point lookup"
    # exactness: kept files must cover all true occurrences
    assert kept >= truly_contain
    expect = table.read().filter(F.col("path") == probe_key)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))


def test_absent_key_prunes_everything(table):
    df, pruned, total = table.scan_where(
        {"path": ("no/such/file.xyz",) * 2}, with_stats=True
    )
    assert df.count() == 0
    # min/max can't rule the key out of straddling files; the bloom can:
    # with no true occurrences every bloomed base file is prunable (FPR
    # aside — allow a couple of false positives)
    assert pruned >= total - 3


def test_point_scan_exact_with_mor_delta(spark, table, events):
    """A MOR delta exempts its bucket from non-key-column and bloom
    pruning (key-column bounds still prune there, see LakeTable._plan):
    the point read on ``path`` stays exactly read()+filter."""
    late = events.filter(F.col("seq") % 97 == 0).withColumn(
        "seq", F.col("seq") + 1_000_000
    )
    table.merge_changes(late, epoch_id=1, mode="mor")
    probe_key = table.read().select("path").first()["path"]
    df = table.scan_where({"path": (probe_key, probe_key)})
    expect = table.read().filter(F.col("path") == probe_key)
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))


def test_incremental_build_skips_covered_files(spark, table):
    assert table.build_blooms(["path"]) == 0  # all base files covered
    # a new column's blooms build for every base file; the path blooms
    # are not rebuilt (sidecar registry grows by one)
    before = len(table._load_metadata().get("bloom_sidecars") or ())
    n = table.build_blooms(["repo"])
    assert n > 0
    assert len(table._load_metadata().get("bloom_sidecars") or ()) == before + 1


def test_non_str_int_probe_never_prunes():
    assert BL.probe(b"\x00" * (BL.DEFAULT_M_BITS // 8), 1.5,
                    BL.DEFAULT_M_BITS, BL.DEFAULT_K)
    assert BL.probe(b"\x00" * (BL.DEFAULT_M_BITS // 8), True,
                    BL.DEFAULT_M_BITS, BL.DEFAULT_K)


def test_cli_build_blooms_and_point_scan(spark, tmp_path, events):
    """Ops surface in a separate process: `table_tool build-blooms`
    registers a sidecar, a point `scan-where` prunes with it and returns
    the exact rows."""
    import json
    import subprocess
    import sys as _sys

    repo_root = __file__.rsplit("/tests/", 1)[0]
    tool = f"{repo_root}/scripts/table_tool.py"
    t = LakeTable.create(spark, str(tmp_path / "t_cli"), STATE_SCHEMA, n_buckets=4)
    t.merge_changes(events, epoch_id=0)
    t.cluster(["repo"], strategy="linear", max_records_per_file=100)
    key = t.read().select("commit").first()["commit"]
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "build-blooms", "--cols", "commit", "--m-bits", "8192"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.splitlines()[-1])
    assert payload["bloom_rows_built"] > 0 and payload["sidecars"]
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "scan-where", "--where", f"commit:{key}:{key}", "--limit", "5"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.splitlines()[-1])
    assert payload["files_pruned"] > 0
    assert [r["commit"] for r in payload["rows"]] == [key]


def test_token_blooms_distributed_grep(spark, tmp_path, events):
    """Token mode: a grep for a seq-specific token (present in exactly one
    row's content) reads ~one file; results equal the full-scan filter
    under identical tokenization; value and token blooms over the same
    column are independent indexes."""
    from fao_elt_pipelines_spark.lake.bloom import TOKEN_SEP

    t = LakeTable.create(spark, str(tmp_path / "t_grep"), STATE_SCHEMA, n_buckets=4)
    t.merge_changes(events, epoch_id=0)
    t.cluster(["repo"], strategy="linear", max_records_per_file=100)
    n = t.build_blooms(["content"], m_bits=1 << 15, mode="tokens")
    assert n > 0
    # content embeds the row's seq digits: a token that exists in exactly
    # one live row (take one from the data)
    row = t.read().select("last_seq").orderBy("last_seq").first()
    token = str(row["last_seq"])
    df, pruned, total = t.scan_contains("content", token, with_stats=True)
    expect = t.read().filter(
        F.array_contains(F.split(F.col("content"), TOKEN_SEP), token)
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))
    assert df.count() >= 1
    assert pruned > total // 2, f"token grep pruned only {pruned}/{total}"
    # a token absent from the corpus prunes everything (modulo FPR)
    _, pruned2, total2 = t.scan_contains("content", "zz_no_such_token_zz",
                                         with_stats=True)
    assert pruned2 >= total2 - 3
    # common token appears everywhere: nothing pruned, still exact
    df3 = t.scan_contains("content", "src")
    expect3 = t.read().filter(
        F.array_contains(F.split(F.col("content"), TOKEN_SEP), "src")
    )
    assert df3.count() == expect3.count()
    # value blooms on the same column don't answer token probes
    meta = t._load_metadata()
    assert all(key[1] == "content#tokens" for key in t._load_blooms(meta))
    with pytest.raises(ValueError, match="single identifier"):
        t.scan_contains("content", "two tokens")


def test_cli_token_grep(spark, tmp_path, events):
    import json
    import subprocess
    import sys as _sys

    repo_root = __file__.rsplit("/tests/", 1)[0]
    tool = f"{repo_root}/scripts/table_tool.py"
    t = LakeTable.create(spark, str(tmp_path / "t_cli_grep"), STATE_SCHEMA,
                         n_buckets=4)
    t.merge_changes(events, epoch_id=0)
    t.cluster(["repo"], strategy="linear", max_records_per_file=100)
    token = str(t.read().select("last_seq").orderBy("last_seq").first()["last_seq"])
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "build-blooms", "--cols", "content", "--m-bits", "32768", "--tokens"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1])["bloom_rows_built"] > 0
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "grep", "--col", "content", "--token", token, "--limit", "5"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.splitlines()[-1])
    assert payload["files_pruned"] > 0
    assert payload["rows"] and all(token in r["content"] for r in payload["rows"])


def test_orphan_gc_unregistered_sidecar_only(spark, tmp_path, events):
    """GC removes a bloom sidecar dir whose registration never landed,
    and never touches registered ones (their rows stay valid forever —
    keyed by immutable COW file paths)."""
    import os
    import shutil as _sh

    t = LakeTable.create(spark, str(tmp_path / "t_gc"), STATE_SCHEMA, n_buckets=4)
    t.merge_changes(events.limit(500), epoch_id=0)
    t.build_blooms(["commit"])
    registered = t._load_metadata()["bloom_sidecars"]
    assert len(registered) == 1
    # simulate a CAS-loser: a sidecar dir that is on disk but unregistered
    src_dir = os.path.join(t.meta_dir, registered[0])
    loser = os.path.join(t.meta_dir, "blooms", "bloom-deadbeef.parquet")
    _sh.copytree(src_dir, loser)
    old = 1_000_000_000  # far in the past
    os.utime(loser, (old, old))
    removed = t.remove_orphan_files(older_than_ms=3600 * 1000)
    assert removed["bloom_sidecars"] == 1
    assert not os.path.exists(loser)
    assert os.path.exists(src_dir)
    # registered blooms still answer probes after GC
    key = t.read().select("commit").first()["commit"]
    assert t.scan_where({"commit": (key, key)}).count() == 1


def test_replay_maintains_blooms(spark, tmp_path, events):
    """bloom_cols on the replay loop: sidecars exist at replay end, cover
    every base file, and the point lookup returns exactly the LWW state's
    row — on a table built through the operational path (MOR + compaction
    cadence), not a hand-assembled one."""
    from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
    from fao_elt_pipelines_spark.lake.replay import replay

    ev = events.withColumn("epoch", (F.col("seq") % 4).cast("int"))
    t = LakeTable.create(spark, str(tmp_path / "t_replay"), STATE_SCHEMA,
                         n_buckets=4)
    ckpt = CheckpointStore(str(tmp_path / "ckpt.json"))
    replay(spark, ev, t, ckpt, epoch_col="epoch", mode="mor",
           compact_every=2, bloom_cols=["commit"])
    meta = t._load_metadata()
    assert meta.get("bloom_sidecars")
    blooms = t._load_blooms(meta)
    base = [e for e in t.current_snapshot()["manifest"]
            if e.get("kind") != "delta"]
    assert all((e["path"], "commit") in blooms for e in base)
    key = t.read().select("commit").first()["commit"]
    df, pruned, total = t.scan_where({"commit": (key, key)}, with_stats=True)
    assert [r["commit"] for r in df.collect()] == [key]


def test_value_mode_rejects_nonintegral_columns(spark, tmp_path):
    """Float/bool/decimal value blooms would prune on diverging string
    renderings — refused at build time; token mode stays allowed."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("content", T.StringType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("last_seq", T.LongType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t_typed"), schema, n_buckets=2)
    df = spark.createDataFrame(
        [("r1", "p1", 1.0, "cc", 1), ("r2", "p2", 2.5, "dd", 2)],
        "repo string, path string, score double, content string, seq long",
    ).withColumn("op", F.lit("insert"))
    t.merge_changes(df, epoch_id=0)
    with pytest.raises(ValueError, match="string/integral"):
        t.build_blooms(["score"])
    assert t.build_blooms(["score"], mode="tokens") > 0


def test_mismatched_probe_type_skips_bloom(spark, tmp_path, events):
    """A probe whose Python type doesn't match the column's Spark type
    must not consult the bloom: an int probed against a string column's
    bloom (built from Spark string casts) would hash a different
    rendering and could prune files that contain the match. The bloom is
    skipped (zero pruning here — commit has no min/max stats either) and
    the row filter stays authoritative."""
    t = LakeTable.create(spark, str(tmp_path / "t_mm"), STATE_SCHEMA, n_buckets=2)
    t.merge_changes(events.limit(300), epoch_id=0)
    t.build_blooms(["commit", "last_seq"])
    # int probe on the STRING column: bloom must be skipped — were it
    # consulted, int(12345)'s hash is absent and every file would prune
    _, pruned_mm, total = t.scan_where({"commit": (12345, 12345)}, with_stats=True)
    assert pruned_mm == 0, "type-mismatched probe consulted the bloom"
    # correctly-typed probes DO consult: int on the integral column,
    # str on the string column, both exact
    seq = t.read().select("last_seq").first()["last_seq"]
    expect = t.read().filter(F.col("last_seq") == seq)
    df2, _, _ = t.scan_where({"last_seq": (seq, seq)}, with_stats=True)
    assert sorted(map(tuple, df2.collect())) == sorted(map(tuple, expect.collect()))
    key = t.read().select("commit").first()["commit"]
    df3, pruned3, _ = t.scan_where({"commit": (key, key)}, with_stats=True)
    assert df3.count() == 1 and pruned3 > 0


def test_all_null_column_covered_and_converges(spark, tmp_path, events):
    """Files whose column reads all-NULL get an ALL-ZERO bloom row: the
    point scan prunes them (c = v never matches NULL) and a second build
    finds them covered (returns 0, registry stable) instead of
    rescanning forever."""
    t = LakeTable.create(spark, str(tmp_path / "t_null"), STATE_SCHEMA,
                         n_buckets=4)
    t.merge_changes(events.limit(300), epoch_id=0)
    # additive evolution: a later epoch carries a new column; files in
    # buckets that epoch didn't touch physically lack it and read NULL
    late = (events.limit(8)
            .withColumn("seq", F.col("seq") + 1_000_000)
            .withColumn("branch", F.lit("main")))
    t.merge_changes(late, epoch_id=1)
    n = t.build_blooms(["branch"])
    assert n > 0  # every base file got a row despite zero probes
    assert t.build_blooms(["branch"]) == 0  # converged
    sidecars = len(t._load_metadata()["bloom_sidecars"])
    assert t.build_blooms(["branch"]) == 0
    assert len(t._load_metadata()["bloom_sidecars"]) == sidecars
    df, pruned, total = t.scan_where(
        {"branch": ("no_such_branch", "no_such_branch")}, with_stats=True
    )
    assert df.count() == 0 and pruned >= total - 2


def test_force_rebuild_resizes_spec(spark, tmp_path, events):
    """force=True re-blooms covered files; the newer (resized) rows
    supersede at load time."""
    t = LakeTable.create(spark, str(tmp_path / "t_force"), STATE_SCHEMA,
                         n_buckets=2)
    t.merge_changes(events.limit(300), epoch_id=0)
    assert t.build_blooms(["commit"], m_bits=1024) > 0
    assert t.build_blooms(["commit"], m_bits=4096) == 0  # respec ignored...
    assert t.build_blooms(["commit"], m_bits=4096, force=True) > 0  # ...without force
    blooms = t._load_blooms(t._load_metadata())
    assert all(m == 4096 for (_b, m, _k) in blooms.values())
    key = t.read().select("commit").first()["commit"]
    assert t.scan_where({"commit": (key, key)}).count() == 1


def test_sidecar_registry_consolidates(spark, tmp_path, events):
    """Past the threshold the registry folds into ONE sidecar with
    later-wins dedup; probes still answer identically."""
    t = LakeTable.create(spark, str(tmp_path / "t_cons"), STATE_SCHEMA,
                         n_buckets=2)
    t.merge_changes(events.limit(300), epoch_id=0)
    for _ in range(t._SIDECAR_COMPACT_THRESHOLD):
        t.build_blooms(["commit"], force=True)
    sidecars = t._load_metadata()["bloom_sidecars"]
    assert len(sidecars) == 1, sidecars
    key = t.read().select("commit").first()["commit"]
    df, pruned, total = t.scan_where({"commit": (key, key)}, with_stats=True)
    assert df.count() == 1 and pruned > 0


def test_multi_token_and_grep(spark, tmp_path, events):
    """Conjunction grep: pruning compounds (any term's proven absence
    drops the file) and rows contain ALL terms — equal to the full-scan
    double filter."""
    from fao_elt_pipelines_spark.lake.bloom import TOKEN_SEP

    t = LakeTable.create(spark, str(tmp_path / "t_and"), STATE_SCHEMA,
                         n_buckets=4)
    t.merge_changes(events, epoch_id=0)
    t.cluster(["repo"], strategy="linear", max_records_per_file=100)
    t.build_blooms(["content"], m_bits=1 << 15, mode="tokens")
    row = t.read().select("repo", "last_seq").first()
    pair = [row["repo"], str(row["last_seq"])]  # both tokens in one row
    df, pruned, total = t.scan_contains("content", pair, with_stats=True)
    toks = F.split(F.col("content"), TOKEN_SEP)
    expect = t.read().filter(
        F.array_contains(toks, pair[0]) & F.array_contains(toks, pair[1])
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))
    assert df.count() >= 1
    # the rare term alone prunes most files; the conjunction prunes at
    # least as many as its most selective member
    _, pruned_rare, _ = t.scan_contains("content", pair[1], with_stats=True)
    assert pruned >= pruned_rare > 0
    with pytest.raises(ValueError, match="identifier"):
        t.scan_contains("content", [])
    with pytest.raises(ValueError, match="identifier"):
        t.scan_contains("content", ["ok", "not ok"])


def test_time_travel_point_scan(spark, tmp_path, events):
    """scan_where/scan_contains at a historical snapshot: blooms built
    for the old files still answer (COW-immutable paths), pruning works,
    and the result equals read(snapshot_id)+filter — including a key
    whose value CHANGED after the snapshot."""
    t = LakeTable.create(spark, str(tmp_path / "t_tt"), STATE_SCHEMA,
                         n_buckets=4)
    t.merge_changes(events.limit(400), epoch_id=0)
    t.cluster(["repo"], strategy="linear", max_records_per_file=50)
    t.build_blooms(["commit"], m_bits=1 << 14)
    sid_old = t.current_snapshot()["snapshot_id"]
    victim = t.read().select("repo", "path", "commit").first()
    # overwrite the victim key after the snapshot
    upd = (events.limit(1)
           .withColumn("repo", F.lit(victim["repo"]))
           .withColumn("path", F.lit(victim["path"]))
           .withColumn("seq", F.lit(10_000_000))
           .withColumn("op", F.lit("update")))
    t.merge_changes(upd, epoch_id=1)
    # current scan: old commit's row is gone from the live state
    cur = t.scan_where({"commit": (victim["commit"],) * 2})
    assert cur.count() == 0
    # historical scan: the old commit is there, bloom-pruned
    df, pruned, total = t.scan_where(
        {"commit": (victim["commit"],) * 2}, with_stats=True,
        snapshot_id=sid_old,
    )
    expect = t.read(snapshot_id=sid_old).filter(
        F.col("commit") == victim["commit"]
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, expect.collect()))
    assert df.count() == 1 and pruned > 0
    # a time-travel point lookup is scan_where on both keys: the bucket
    # tier opens only files of the victim key's bucket at sid_old
    key = {"repo": (victim["repo"],) * 2, "path": (victim["path"],) * 2}
    pt = t.scan_where(key, snapshot_id=sid_old)
    assert [r["commit"] for r in pt.collect()] == [victim["commit"]]
    b = bucket_of((victim["repo"], victim["path"]), 4)
    old_files = {e["path"] for s in t.snapshots() if s["snapshot_id"] == sid_old
                 for e in s["manifest"] if e["bucket"] == b}
    opened = {f.removeprefix("file://") for f in pt.inputFiles()}
    assert opened and opened <= old_files
