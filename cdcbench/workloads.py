"""The workloads: backfill and consume.

Each drives the engine's public entry points (``binlog.change_events``,
``lake.replay.replay``, ``LakeTable``, ``IncrementalGoldView``,
``changelog.row_changes``) from one process and checks the result against
the DuckDB oracle outside the timed region.

Both use the same source shape: 1000 log-uniform (Zipf-like) repos x 200
paths, a 16-bucket merge-on-read table. Sizes scale with ``seconds``.

Set-up order, the same in every run: JVM start, a warmup on a small
binlog generated afresh, then the workload's binlog (generated or taken
from the input cache), then the prefill. The binlog step is not part of
``setup_s``: a cache hit costs nothing and a miss several seconds, so it
would make set-up time depend on which runs came before. Because it
comes after the warmup, the later phases start from the same warmed JVM
either way.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from fao_elt_pipelines_spark import binlog
from fao_elt_pipelines_spark.lake import changelog
from fao_elt_pipelines_spark.lake.checkpoint import CheckpointStore
from fao_elt_pipelines_spark.lake.mv import IncrementalGoldView
from fao_elt_pipelines_spark.lake.replay import replay
from fao_elt_pipelines_spark.lake.table import LakeTable

from cdcbench.oracle import Oracle
from cdcbench.trace import Tracer

N_REPOS = 1000
PATHS_PER_REPO = 200
N_BUCKETS = 16
#: binlogs kept in the input cache (two workloads x ten seeds fit);
#: older ones are evicted
CACHE_KEEP = 24
#: size of the warmup binlog, generated in every run with a fixed seed
WARM_EVENTS = 20_000
HOT_REPO = "repo_00000"

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


@dataclass
class Run:
    spark: SparkSession
    tracer: Tracer
    work: str
    cache: str
    seed: int
    seconds: int
    cores: int
    attempted: int = 0
    failed: int = 0
    setup: dict[str, float] = field(default_factory=dict)
    metrics: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict[str, Any] = field(default_factory=dict)

    def op(self, name: str, fn: Callable[[], Any]) -> Any:
        """One counted operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            sys.stderr.write(f"operation {name} failed:\n{traceback.format_exc()}")
            return None

    def gc_s(self) -> float:
        """Cumulative GC time of the JVM (driver and executors share it in
        local mode)."""
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def check(self, name: str, ok: bool, detail: Any = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            sys.stderr.write(f"check {name} failed: {detail}\n")


def _generate(run: Run, path: str, n_events: int, events_per_epoch: int, seed: int) -> None:
    binlog.change_events(
        run.spark, n_events, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
        events_per_epoch=events_per_epoch, seed=seed,
        num_partitions=max(run.cores, n_events // 250_000),
    ).write.partitionBy("epoch").parquet(path)


def _generator_digest() -> str:
    """sha256 of the generator's source: a changed generator gets a new
    cache entry instead of an old binlog."""
    with open(binlog.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _binlog(run: Run, name: str, n_events: int, events_per_epoch: int) -> str:
    """Epoch-partitioned binlog parquet for (generator, seed, shape),
    generated once and reused from the cache by later runs with the same
    inputs. Its time is ``binlog.generate_s``, outside ``setup_s``."""
    key = (f"{name}-seed{run.seed}-n{n_events}-e{events_per_epoch}"
           f"-r{N_REPOS}x{PATHS_PER_REPO}-g{_generator_digest()}")
    path = os.path.join(run.cache, key)
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + f".tmp{os.getpid()}"
        _generate(run, tmp, n_events, events_per_epoch, run.seed)
        os.rename(tmp, path)
        entries = sorted(
            (os.path.getmtime(os.path.join(run.cache, e)), e) for e in os.listdir(run.cache)
        )
        for _, old in entries[:-CACHE_KEEP]:
            shutil.rmtree(os.path.join(run.cache, old), ignore_errors=True)
    run.layer["binlog.generate_s"] = time.perf_counter() - t0
    return path


def _link_epochs(src: str, dst: str, epochs: range) -> None:
    """Hard-link the partition dirs of ``epochs`` from a cached binlog."""
    os.makedirs(dst, exist_ok=True)
    for e in epochs:
        part = f"epoch={e}"
        os.makedirs(os.path.join(dst, part))
        for f in os.listdir(os.path.join(src, part)):
            os.link(os.path.join(src, part, f), os.path.join(dst, part, f))


def _noop(df: Any) -> None:
    df.write.format("noop").mode("overwrite").save()


def _new_table(run: Run, name: str = "table") -> tuple[LakeTable, CheckpointStore]:
    root = os.path.join(run.work, name)
    table = LakeTable.create(run.spark, os.path.join(root, "table"), STATE_SCHEMA, n_buckets=N_BUCKETS)
    return table, CheckpointStore(os.path.join(root, "ckpt.json"))


def _warmup(run: Run) -> None:
    """Untimed: the first plans of each kind in a JVM run several times
    slower than later ones (JIT, codegen caches). A small binlog with a
    fixed seed is generated in every run, so this costs the same whether
    or not the workload's binlog is cached. Its two epochs go through two
    replay() calls, an MV build and refresh, the changelog, each read
    path and a compaction."""
    t0 = time.perf_counter()
    src = os.path.join(run.work, "warmup-binlog")
    _generate(run, src, WARM_EVENTS, WARM_EVENTS // 2, seed=0)
    table, ckpt = _new_table(run, "warmup")
    view = IncrementalGoldView(run.spark, table, os.path.join(run.work, "warmup-mv"))
    replay(run.spark, run.spark.read.parquet(src), table, ckpt, mode="mor", max_epochs=1)
    view.refresh()
    from_sid = view.cursor()["snapshot_id"]
    replay(run.spark, run.spark.read.parquet(src), table, ckpt, mode="mor")
    view.refresh()
    changelog.row_changes(table, from_sid).groupBy("_change_type").count().collect()
    for i in range(2):
        table.lookup(HOT_REPO, f"src/dir_{i}/file_{i}.py").collect()
    _noop(table.scan_repos(HOT_REPO))
    _noop(table.read())
    table.compact()
    run.setup["setup.warmup_s"] = time.perf_counter() - t0


def _instrument(run: Run, table: LakeTable, ckpt: CheckpointStore) -> None:
    """Spans around the public methods replay() calls (traced runs only)."""
    run.tracer.instrument(table, "merge_changes", "merge")
    run.tracer.instrument(table, "compact", "compact")
    run.tracer.instrument(ckpt, "commit", "checkpoint")


def _time_groups(table: LakeTable, ckpt: CheckpointStore) -> list[float]:
    """Per merge group, the time from its ``merge_changes`` call to the end
    of its checkpoint commit (compactions fall between groups); appended
    to the returned list as replay() runs."""
    groups: list[float] = []
    started: list[float] = []
    merge, commit = table.merge_changes, ckpt.commit

    def timed_merge(*args: Any, **kwargs: Any) -> Any:
        started.append(time.perf_counter())
        return merge(*args, **kwargs)

    def timed_commit(*args: Any, **kwargs: Any) -> Any:
        out = commit(*args, **kwargs)
        groups.append(time.perf_counter() - started[-1])
        return out

    table.merge_changes = timed_merge  # type: ignore[method-assign]
    ckpt.commit = timed_commit  # type: ignore[method-assign]
    return groups


def _table_mb(table: LakeTable) -> float:
    total = 0
    for root, _, files in os.walk(table.path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def _check_state(run: Run, oracle: Oracle, table: LakeTable, state: str) -> None:
    """Live rows read through the engine vs the oracle's LWW fold."""
    live = run.op("read_live", lambda: table.read()
                  .select("repo", "path", "content_sha256", "last_seq").toArrow())
    if live is not None:
        got, want = oracle.digest_arrow(live), oracle.digest(state)
        run.check("live_rows", got == want, f"engine {got} vs oracle {want}")


def backfill(run: Run) -> None:
    """Bulk catch-up: one replay() of 4 large epochs into an empty table,
    repeated on fresh tables; the medians resist a slow spell of the host."""
    n = 40_000 * run.seconds
    per_epoch = n // 4
    reps = 3
    run.info.update(events=n, epochs=4, events_per_epoch=per_epoch, replays=reps)
    _warmup(run)
    src = _binlog(run, "backfill", n, per_epoch)
    run.setup["setup.prefill_s"] = 0.0
    # one untimed call of the full size first: the first replay of this
    # size still runs slower while the JIT settles
    t0 = time.perf_counter()
    table, ckpt = _new_table(run, "warm-call")
    replay(run.spark, run.spark.read.parquet(src), table, ckpt,
           mode="mor", compact_every=2, epoch_batch="auto")
    run.setup["setup.warmup_s"] += time.perf_counter() - t0

    walls: list[float] = []
    groups: list[float] = []
    tables: list[LakeTable] = []
    gc0 = run.gc_s()
    t_start = time.perf_counter()
    for i in range(reps):
        table, ckpt = _new_table(run, f"table{i}")
        tables.append(table)
        _instrument(run, table, ckpt)
        call_groups = _time_groups(table, ckpt)
        t0 = time.perf_counter()
        with run.tracer.span("replay"):
            rep = run.op("replay", lambda: replay(
                run.spark, run.spark.read.parquet(src), table, ckpt,
                mode="mor", compact_every=2, epoch_batch="auto",
            ))
        walls.append(time.perf_counter() - t0)
        groups.extend(call_groups)
        run.check("events_in", rep is not None and rep.events_in == n,
                  None if rep is None else rep.events_in)
        run.check("epochs", rep is not None and rep.epochs_applied == [0, 1, 2, 3],
                  None if rep is None else rep.epochs_applied)
    run.layer["timed_s"] = time.perf_counter() - t_start
    run.layer["jvm.gc_s"] = run.gc_s() - gc0
    run.metrics["wall_s"] = statistics.median(walls)
    run.metrics["p50_s"] = statistics.median(groups or walls)
    run.metrics["table_mb"] = statistics.median(_table_mb(t) for t in tables)
    run.info.update(replay_s=walls, group_s=groups, events_per_s=n / run.metrics["wall_s"])

    oracle = Oracle(src, run.cores)
    try:
        oracle.materialize("head")
        for table in tables:
            _check_state(run, oracle, table, "head")
    finally:
        oracle.close()


@dataclass
class Round:
    """What one consume round produced, for the untimed checks."""
    epoch: int
    keys: list[tuple[str, str, str, int]]
    wall_s: float = 0.0
    commit_s: float = 0.0
    lookup_s: list[float] = field(default_factory=list)
    applied: Any = None
    refreshed: Any = None
    counts: Any = None
    found: list[Any] = field(default_factory=list)


def _consume_round(run: Run, table: LakeTable, ckpt: CheckpointStore,
                   view: IncrementalGoldView, live_dir: str, pending: str,
                   rnd: Round, from_sid: int) -> None:
    """One epoch lands and is applied, then the consumers read it."""
    t0 = time.perf_counter()
    # the epoch lands (atomic rename into the binlog dir): clock starts
    os.rename(os.path.join(pending, f"epoch={rnd.epoch}"),
              os.path.join(live_dir, f"epoch={rnd.epoch}"))
    with run.tracer.span("replay"):
        rep = run.op("replay", lambda: replay(
            run.spark, run.spark.read.parquet(live_dir), table, ckpt,
            mode="mor", epoch_batch="auto",
        ))
    rnd.commit_s = time.perf_counter() - t0
    rnd.applied = None if rep is None else rep.epochs_applied
    with run.tracer.span("refresh"):
        rnd.refreshed = run.op("refresh", view.refresh)
    with run.tracer.span("row_changes"):
        # counting per change type forces the whole diff: the
        # classification compares every column of both images
        rnd.counts = run.op("row_changes", lambda: changelog.row_changes(table, from_sid)
                            .groupBy("_change_type").count().collect())
    for repo, path, _, _ in rnd.keys:
        t = time.perf_counter()
        with run.tracer.span("lookup"):
            rnd.found.append(run.op("lookup", lambda: table.lookup(repo, path).collect()))
        rnd.lookup_s.append(time.perf_counter() - t)
    for repo in (HOT_REPO, rnd.keys[-1][0]):
        with run.tracer.span("scan_repos"):
            run.op("scan_repos", lambda: _noop(table.scan_repos(repo)))
    with run.tracer.span("read"):
        run.op("read", lambda: _noop(table.read()))
    rnd.wall_s = time.perf_counter() - t0


def _check_round(run: Run, oracle: Oracle, view: IncrementalGoldView, rnd: Round) -> None:
    before, after = f"s{rnd.epoch - 1}", f"s{rnd.epoch}"
    run.check("epochs", rnd.applied == [rnd.epoch], rnd.applied)
    run.check("refresh_incremental",
              rnd.refreshed is not None and rnd.refreshed.get("mode") == "incremental",
              rnd.refreshed)
    mv_rows = run.op("mv_read", lambda: view.read().collect())
    if mv_rows is not None:
        got = {(r["repo"], int(r["n_paths"]), int(r["total_bytes"])) for r in mv_rows}
        want = oracle.per_repo(after)
        run.check("mv_rows", got == want, f"{len(got ^ want)} rows differ")
    if rnd.counts is not None:
        got = {r["_change_type"]: r["count"] for r in rnd.counts}
        want = {k: v for k, v in oracle.change_counts(before, after).items() if v}
        run.check("row_changes", got == want, f"engine {got} vs oracle {want}")
    for key, rows in zip(rnd.keys, rnd.found):
        got = None if rows is None else [
            (r["repo"], r["path"], r["content_sha256"], r["last_seq"]) for r in rows
        ]
        run.check("lookup_row", got == [key], f"engine {got} vs oracle {key}")


def consume(run: Run) -> None:
    """Readers beside a tailed writer, in rounds on a table of many
    merge-on-read delta generations. Each round lands one epoch into the
    binlog dir, applies it with its own replay() over the whole dir (a
    scheduled re-run), and runs the consumers over it: MV refresh,
    changelog, point lookups, repo scans and a full read. The medians
    over the rounds resist a slow spell of the host."""
    prefill, rounds, per_epoch = 4, 3, 12_500
    per_round = 2 * max(1, (3 * run.seconds) // 10)  # lookups, half hot, half cold
    epochs = list(range(prefill, prefill + rounds))
    run.info.update(prefill_epochs=prefill, rounds=rounds,
                    events_per_epoch=per_epoch, lookups_per_round=per_round)
    _warmup(run)
    src = _binlog(run, "consume", (prefill + len(epochs)) * per_epoch, per_epoch)
    live_dir = os.path.join(run.work, "binlog")
    pending = os.path.join(run.work, "pending")
    _link_epochs(src, live_dir, range(prefill))
    _link_epochs(src, pending, range(epochs[0], epochs[-1] + 1))

    oracle = Oracle(src, run.cores)
    try:
        # untimed: the oracle's state after each epoch and the seed-chosen
        # lookup keys of each round, drawn from the state it reads
        oracle.materialize(f"s{prefill - 1}", max_epoch=prefill - 1)
        plan = []
        for e in epochs:
            oracle.materialize(f"s{e}", max_epoch=e)
            key_seed = run.seed * 1000 + e
            hot = oracle.pick_keys(f"s{e}", f"repo = '{HOT_REPO}'", per_round // 2, key_seed)
            cold = oracle.pick_keys(f"s{e}", "repo >= 'repo_00500'", per_round - len(hot), key_seed)
            plan.append(Round(epoch=e, keys=hot + cold))

        table, ckpt = _new_table(run)
        view = IncrementalGoldView(run.spark, table, os.path.join(run.work, "mv"))
        t0 = time.perf_counter()
        # one delta generation per epoch, no compaction: reads merge them all
        replay(run.spark, run.spark.read.parquet(live_dir), table, ckpt, mode="mor", epoch_batch=1)
        view.refresh()
        run.setup["setup.prefill_s"] = time.perf_counter() - t0

        _instrument(run, table, ckpt)
        gc_s = 0.0
        for rnd in plan:
            from_sid = view.cursor()["snapshot_id"]
            gc0 = run.gc_s()
            _consume_round(run, table, ckpt, view, live_dir, pending, rnd, from_sid)
            gc_s += run.gc_s() - gc0
            _check_round(run, oracle, view, rnd)
        run.layer["timed_s"] = sum(r.wall_s for r in plan)
        run.layer["jvm.gc_s"] = gc_s
        run.metrics["wall_s"] = statistics.median(r.wall_s for r in plan)
        run.metrics["p50_s"] = statistics.median(s for r in plan for s in r.lookup_s)
        run.metrics["table_mb"] = _table_mb(table)
        run.info.update(round_s=[r.wall_s for r in plan], commit_s=[r.commit_s for r in plan],
                        lookup_s=[s for r in plan for s in r.lookup_s])
        _check_state(run, oracle, table, f"s{epochs[-1]}")
    finally:
        oracle.close()


WORKLOADS: dict[str, Callable[[Run], None]] = {
    "backfill": backfill,
    "consume": consume,
}
