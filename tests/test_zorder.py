"""Z-order clustering + manifest-stats pruning (lake/zorder.py,
LakeTable.cluster / scan_where).

The claim under test is twofold: (1) CORRECTNESS — clustering rewrites
the exact same physical rows (any strategy, tombstones included) and
scan_where returns exactly read()+filter under every layout, including
with MOR deltas present (delta buckets exempt from non-key pruning); (2) the
LAYOUT EFFECT — under linear (repo, path) order a path-range predicate
prunes ~nothing, under z-order it prunes files on BOTH dimensions.
"""

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake.table import LakeTable
from scripts.replay_job import STATE_SCHEMA

N_EVENTS = 40_000


@pytest.fixture(scope="module")
def events(spark):
    # repo = user % n_repos and path = id % paths_per_repo are independent
    # dimensions — the shape where single-key sorting can't serve both
    return binlog.change_events(
        spark, N_EVENTS, n_repos=48, paths_per_repo=96,
        events_per_epoch=N_EVENTS, num_partitions=8,
    ).persist()


def _mk_table(spark, tmp_path, events, name):
    t = LakeTable.create(spark, str(tmp_path / name), STATE_SCHEMA, n_buckets=4)
    t.merge_changes(events, epoch_id=0)
    return t


def _state(df):
    return {
        (r["repo"], r["path"]): (r["content_sha256"], r["last_seq"])
        for r in df.collect()
    }


@pytest.mark.parametrize("strategy", ["zorder", "linear"])
def test_cluster_preserves_state_exactly(spark, tmp_path, events, strategy):
    t = _mk_table(spark, tmp_path, events, f"t_{strategy}")
    before = _state(t.read())
    sid = t.cluster(["repo", "path"], bins=64, strategy=strategy,
                    max_records_per_file=500)
    assert sid is not None
    assert _state(t.read()) == before
    # physical row multiset preserved too (tombstones included)
    snap = t.current_snapshot()
    assert snap["operation"] == "cluster"
    assert snap["summary"]["rows_written"] == sum(
        e["rows"] for e in snap["manifest"]
    )


def test_scan_where_exact_and_prunes_by_layout(spark, tmp_path, events):
    """The A/B: identical rows, two layouts; a path-range scan must prune
    materially more files under z-order than under linear (repo, path)
    order, and both must return exactly read()+filter."""
    results = {}
    for strategy in ("zorder", "linear"):
        t = _mk_table(spark, tmp_path, events, f"ab_{strategy}")
        t.cluster(["repo", "path"], bins=64, strategy=strategy,
                  max_records_per_file=150)
        bounds = {"path": ("src/dir_3/", "src/dir_5/")}
        df, pruned, total = t.scan_where(bounds, with_stats=True)
        expected = t.read().filter(
            F.col("path").between("src/dir_3/", "src/dir_5/")
        )
        assert _state(df) == _state(expected)
        assert total > 20  # the layout genuinely split into many files
        results[strategy] = (pruned, total)
    z_pruned, z_total = results["zorder"]
    l_pruned, l_total = results["linear"]
    assert z_total == l_total
    # linear (repo, path) order leaves path bounds ~full-width per file;
    # z-order must prune a material fraction AND beat linear clearly
    assert z_pruned >= z_total // 3, results
    assert z_pruned > l_pruned * 2, results


def test_scan_where_repo_still_prunes_after_zorder(spark, tmp_path, events):
    """Z-ordering trades a LITTLE leading-key tightness — repo-range scans
    must still prune under z-order (bounds stay recorded per file)."""
    t = _mk_table(spark, tmp_path, events, "t_repo")
    t.cluster(["repo", "path"], bins=64, max_records_per_file=500)
    df, pruned, total = t.scan_where(
        {"repo": ("repo_00010", "repo_00020")}, with_stats=True
    )
    expected = t.read().filter(F.col("repo").between("repo_00010", "repo_00020"))
    assert _state(df) == _state(expected)
    assert pruned > 0, (pruned, total)


def test_scan_where_prune_tiers_under_mor_deltas(spark, tmp_path, events):
    """With MOR deltas present, key-column bounds still prune files in
    delta-carrying buckets (every image of a key shares its key columns),
    while a non-key bound prunes nothing there: a ``last_seq`` upper bound
    would drop the newer delta image and resurface the older base image.
    Both scans equal read()+filter."""
    t = _mk_table(spark, tmp_path, events, "t_mor")
    t.cluster(["repo", "path"], bins=64, max_records_per_file=500)
    # second epoch lands as MOR deltas over a subset of keys
    upd = binlog.change_events(
        spark, 2_000, n_repos=48, paths_per_repo=96,
        events_per_epoch=2_000, num_partitions=4,
    ).withColumn("seq", F.col("seq") + N_EVENTS)
    t.merge_changes(upd, epoch_id=1, mode="mor")
    manifest = t.current_snapshot()["manifest"]
    delta_buckets = {e["bucket"] for e in manifest if e["kind"] == "delta"}
    outside = sum(e["bucket"] not in delta_buckets for e in manifest)

    bounds = {"path": ("src/dir_3/", "src/dir_5/")}
    df, pruned, total = t.scan_where(bounds, with_stats=True)
    expected = t.read().filter(
        F.col("path").between("src/dir_3/", "src/dir_5/")
    )
    assert _state(df) == _state(expected)
    assert pruned > outside, (pruned, total, outside)  # some in delta buckets

    df, pruned, total = t.scan_where({"last_seq": (None, N_EVENTS - 1)}, with_stats=True)
    expected = t.read().filter(F.col("last_seq") <= N_EVENTS - 1)
    assert _state(df) == _state(expected)
    assert pruned <= outside, (pruned, total, outside)


def test_interleave_msb_aligned_variable_width():
    """Unequal widths MSB-align: the wide column's surplus bits refine the
    BOTTOM of the code; both columns' top bits share the top positions.
    Widths (3, 1), a=0b101, b=0b1 -> out bits (a2, b0, a1, a0) = 0b1101."""
    import numpy as np

    from fao_elt_pipelines_spark.lake.zorder import _interleave

    a = np.array([0b101], dtype=np.int64)
    b = np.array([0b1], dtype=np.int64)
    assert _interleave([a, b], [3, 1])[0] == 0b1101
    # equal widths reduce to classic alternation (MSB-first):
    # a=0b10, b=0b01 -> (a1, b1, a0, b0) = 0b1001
    a2 = np.array([0b10], dtype=np.int64)
    b2 = np.array([0b01], dtype=np.int64)
    assert _interleave([a2, b2], [2, 2])[0] == 0b1001


def test_cutpoints_saturate_to_power_of_two(spark):
    """A column whose cardinality undershoots `bins` is recut so its
    occupied-bin count is an exact power of two — no holes, no
    skew-populated top bit — and _col_nbits matches exactly."""
    from fao_elt_pipelines_spark.lake.zorder import _col_nbits, sample_cutpoints

    rows = [(f"v{i % 12:02d}", i) for i in range(120)]
    df = spark.createDataFrame(rows, "s string, x int")
    cuts = sample_cutpoints(df, ["s", "x"], bins=64, fraction=1.0)
    occ_s = len(cuts["s"]) + 1
    occ_x = len(cuts["x"]) + 1
    assert occ_s == 8  # 12 distinct snaps down to 8
    assert occ_x == 64  # 120 distinct saturates the requested bins
    assert _col_nbits(cuts, ["s", "x"], 64) == [3, 6]


def test_cdc_cluster_scan_entry_prunes_files(spark, sf_dir):
    """The registry entry's physical pipeline (merge -> z-order cluster ->
    scan_where) actually prunes files on the path predicate at the entry's
    own settings — the values themselves are driver/oracle-checked by
    test_entry_oracle; this pins the LAYOUT effect the entry exists to
    certify. Reuses the table the entry just built (same deterministic
    temp dir) rather than rebuilding it."""
    import hashlib
    import os
    import tempfile

    from fao_elt_pipelines_spark.lake.table import LakeTable
    from fao_elt_pipelines_spark.plans.queries import q_cdc_cluster_scan

    rows = q_cdc_cluster_scan(spark, sf_dir).count()
    assert rows > 0
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    t = LakeTable(spark, os.path.join(tempfile.gettempdir(), f"fao_elt_cluster_scan_{tag}"))
    _, pruned, total = t.scan_where({"path": ("src/f_1", "src/f_2")}, with_stats=True)
    assert total > 4, "entry settings must split buckets into multiple files"
    assert pruned >= 1, "z-order + path bounds must prune at least one file"


def test_cluster_guards(spark, tmp_path, events):
    t = _mk_table(spark, tmp_path, events, "t_guard")
    with pytest.raises(ValueError, match="strategy"):
        t.cluster(["repo"], strategy="hilbert")
    with pytest.raises(ValueError, match="not in table schema"):
        t.cluster(["no_such_col"])


def test_cli_cluster_and_scan_where_process_level(spark, tmp_path, events):
    """Drive the ops surface in a separate process: `table_tool cluster`
    commits a cluster snapshot, `table_tool scan-where` prunes files and
    returns in-range rows only."""
    import json
    import subprocess
    import sys as _sys

    repo_root = __file__.rsplit("/tests/", 1)[0]
    tool = f"{repo_root}/scripts/table_tool.py"
    t = _mk_table(spark, tmp_path, events, "t_cli")
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "cluster", "--cols", "repo,path", "--bins", "64"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1])["cluster_snapshot_id"] is not None
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "scan-where", "--where", "path:src/dir_3/:src/dir_5/", "--limit", "500"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.splitlines()[-1])
    assert payload["files_total"] > 0
    assert payload["rows"] and all(
        "src/dir_3/" <= r["path"] <= "src/dir_5/" for r in payload["rows"]
    )


def test_cli_scan_where_numeric_bounds(spark, tmp_path, events):
    """Regression: --where on an int-stats column (last_seq) must coerce
    the bounds to numbers, not compare str against int stats."""
    import json
    import subprocess
    import sys as _sys

    repo_root = __file__.rsplit("/tests/", 1)[0]
    tool = f"{repo_root}/scripts/table_tool.py"
    t = _mk_table(spark, tmp_path, events, "t_cli_num")
    out = subprocess.run(
        [_sys.executable, tool, "--table", t.path, "--cores", "4",
         "scan-where", "--where", f"last_seq:0:{N_EVENTS}", "--limit", "1"],
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = json.loads(out.stdout.splitlines()[-1])
    assert payload["rows"]
