"""Answers the driver already holds must not cost Spark jobs: the point
lookup's bucket comes from a driver-side XXH64 that must agree with the
writer's ``bucket_expr`` on every key, and building a read over a table of
more than 32 files (Spark's default parallel-listing threshold) runs no
file-listing or schema-inference job."""

import random

import pytest
from pyspark.sql import functions as F

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView
from fao_elt_pipelines_spark.lake.table import (
    LakeTable,
    _stats_may_contain,
    bucket_expr,
    bucket_of,
)

from tests.test_engine_core import STATE_SCHEMA

N_BUCKETS = (16, 64, 7)


def _random_str(rng: random.Random) -> str | None:
    roll = rng.random()
    if roll < 0.08:
        return None
    if roll < 0.16:
        return ""
    # lengths straddle XXH64's 32-byte stripe, 8-byte lane and 4-byte tail
    out = []
    for _ in range(rng.choice([1, 3, 4, 5, 7, 8, 9, 12, 31, 32, 33, 47, 64, 70])):
        kind = rng.random()
        if kind < 0.55:
            out.append(chr(rng.randint(0x20, 0x7E)))
        elif kind < 0.65:
            out.append("\x00")
        elif kind < 0.85:
            out.append(chr(rng.randint(0x80, 0xD7FF)))  # 2-3 byte UTF-8
        else:
            out.append(chr(rng.randint(0x10000, 0x10FFFF)))  # 4-byte UTF-8
    return "".join(out)


def test_driver_hash_matches_bucket_expr(spark):
    rng = random.Random(20240607)
    keys = [(_random_str(rng), _random_str(rng)) for _ in range(3000)]
    keys += [(None, None), ("", ""), ("\x00", None), (None, "\x00")]
    df = spark.createDataFrame(keys, "repo string, path string")
    rows = df.select(
        "repo", "path", *[bucket_expr(n).alias(f"b{n}") for n in N_BUCKETS]
    ).collect()
    assert sorted(map(tuple, [r[:2] for r in rows]), key=repr) == sorted(keys, key=repr)
    mismatches = [
        (r["repo"], r["path"], n)
        for r in rows
        for n in N_BUCKETS
        if bucket_of((r["repo"], r["path"]), n) != r[f"b{n}"]
    ]
    assert not mismatches, mismatches[:5]


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def many_file_table(spark, tmp_path_factory):
    """3 MOR generations x 16 buckets = 48 files, over few repos so every
    file's repo bounds overlap every repo scan."""
    root = tmp_path_factory.mktemp("jobs")
    events = binlog.change_events(
        spark, 3000, n_repos=12, paths_per_repo=40, events_per_epoch=1000
    )
    table = LakeTable.create(spark, str(root / "t"), STATE_SCHEMA, n_buckets=16)
    for epoch in range(3):
        table.merge_changes(events.filter(F.col("epoch") == epoch), epoch_id=epoch, mode="mor")
    view = IncrementalGoldView(spark, table, str(root / "mv"))
    view.refresh()
    key = tuple(table.read().select("repo", "path").first())
    return table, view, key


def test_building_reads_runs_no_spark_job(spark, many_file_table):
    table, view, (repo, path) = many_file_table
    assert len(table.current_snapshot()["manifest"]) > 32

    built, n_jobs = {}, {}
    for name, build in [
        ("read", table.read),
        ("scan_repos", lambda: table.scan_repos(repo)),
        ("lookup", lambda: table.lookup(repo, path)),
        ("mv_read", view.read),
    ]:
        built[name], n_jobs[name] = _jobs(spark, f"build_{name}", build)
    assert n_jobs == dict.fromkeys(n_jobs, 0)
    # the shapes above cross Spark's default listing threshold
    assert len(built["read"].inputFiles()) > 32
    assert len(built["scan_repos"].inputFiles()) > 32


def test_lookup_runs_no_job_beyond_its_scan(spark, many_file_table):
    table, _, (repo, path) = many_file_table
    # the bucket comes from Spark's own hash here, independent of bucket_of
    b = table.read().filter((F.col("repo") == repo) & (F.col("path") == path)).select(
        bucket_expr(16).alias("b")
    ).first()["b"]
    entries = [
        e
        for e in table.current_snapshot()["manifest"]
        if e["bucket"] == b and _stats_may_contain(e, "repo", repo)
    ]
    scan = table._read_entries(table._load_metadata(), entries).filter((F.col("repo") == repo) & (F.col("path") == path))
    want, scan_jobs = _jobs(spark, "scan", scan.collect)
    got, lookup_jobs = _jobs(spark, "lookup", lambda: table.lookup(repo, path).collect())
    assert got == want and len(got) == 1
    assert lookup_jobs == scan_jobs


def test_each_read_loads_metadata_once(spark, many_file_table, monkeypatch):
    """A read resolves its snapshot, schema and file list from ONE
    metadata load."""
    table, _, (repo, path) = many_file_table
    loads = []
    real = LakeTable._load_metadata
    monkeypatch.setattr(LakeTable, "_load_metadata", lambda self: loads.append(1) or real(self))
    n_loads = {}
    for name, build in [
        ("read", table.read),
        ("lookup", lambda: table.lookup(repo, path)),
        ("scan_repos", lambda: table.scan_repos(repo)),
        ("scan_where", lambda: table.scan_where({"path": (path, path)})),
        ("scan_contains", lambda: table.scan_contains("content", "x")),
    ]:
        loads.clear()
        build()
        n_loads[name] = len(loads)
    assert n_loads == dict.fromkeys(n_loads, 1)
