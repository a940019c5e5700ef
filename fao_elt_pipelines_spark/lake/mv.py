"""Incrementally-maintained aggregate view over a :class:`LakeTable`.

The capstone consumer of the table's CDC surface: a gold-layer aggregate
(per-repo live-path counts / byte totals) kept current by reading ONLY the
change interval since the last refresh, instead of re-scanning the table.
This replaces the reference's full-recompute dbt aggregate models
(``/root/reference/dbt/models/marts``) with classic delta-based
incremental view maintenance, as a signed-delta fold:

    new_agg(repo) = old_agg(repo) + Σ contrib(after-image of changed keys)
                                  − Σ contrib(before-image of changed keys)

Cost per refresh at 10^10-row scale:

- both images come from ``changelog.interval_image``: the cursor
  snapshot's files in the interval's TOUCHED BUCKETS, read once and cut
  to the interval's keys, plus the interval's added files, LWW-resolved
  by one aggregate that yields each changed key's before AND after
  image — no second image read and no join back to base state;
- the signed per-key contributions (+after − before) union with the old
  state and fold in one per-repo sum;
- when the interval rewrote ≥30% of the table, or contains an
  operation whose dropped rows are not visible as tombstoned file-adds
  (``overwrite``), refresh auto-falls-back to a full recompute —
  decided from one pinned metadata read, no data IO;
- the view state itself is O(distinct repos), rewritten per refresh
  (tiny compared to the base table).

Only decomposable aggregates (SUM/COUNT) are maintained incrementally —
MIN/MAX are not retractable under deletes without keeping per-key state,
which is exactly the base table itself; consumers needing them do a full
recompute (``refresh(full=True)``).

Consistency & crash safety mirror the table's commit protocol:

- each refresh runs against ONE pinned metadata view (a single
  ``_load_metadata`` read), and every full recompute time-travels to
  the pinned head snapshot, so a concurrent commit can never make the
  committed cursor lag the aggregated state;
- state commits are CAS: parquet lands in a fresh uuid directory, then
  the version's commit marker is exclusive-created (``open(..., "x")``)
  — a concurrent refresh loses the create and raises
  :class:`MVCommitConflict` instead of tearing the winner's state;
  ``cursor.json`` is only a roll-forward hint (recovered from markers
  after a crash between marker create and hint swap);
- a crash mid-refresh leaves the old cursor pointing at the old state
  and at worst an unreferenced data directory (harmless orphan; never
  deleted by GC, which removes only directories that dropped markers
  referenced and kept markers don't).

Concurrent ``expire_snapshots`` can still delete *data files* between
this module's metadata pin and the Spark jobs that read them (the same
read-vs-expiry race any snapshot reader has); retention policies should
keep at least the refresh cadence's worth of snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .changelog import INCREMENTAL_SAFE_OPS, _interval_ops, interval_image
from .table import LakeTable


#: schema of the view state, passed to every state read so Spark never runs
#: a footer-inference job for a schema this module wrote itself
STATE_SCHEMA = "repo string, n_paths bigint, total_bytes bigint"


class MVCommitConflict(RuntimeError):
    """Two refreshes raced for the same state version; retry the loser."""


def _contrib(df: DataFrame) -> DataFrame:
    """Decomposable per-repo contributions of a set of live rows.
    ``octet_length``, not ``length``: total_bytes means bytes, and the
    two differ on multi-byte UTF-8 content."""
    return df.groupBy("repo").agg(
        F.count("*").alias("n_paths"),
        F.sum(F.octet_length(F.coalesce(F.col("content"), F.lit("")))).alias("total_bytes"),
    )


class IncrementalGoldView:
    #: interval rows ≥ this fraction of table rows → full recompute is
    #: cheaper than the interval image (the touched buckets' files at the
    #: cursor snapshot plus the interval's adds, LWW-aggregated). Cost
    #: heuristic only — correctness never depends on it (non-retractable
    #: operations are detected explicitly via INCREMENTAL_SAFE_OPS).
    FULL_FALLBACK_RATIO = 0.3
    #: state versions (markers + their data dirs) retained by GC
    KEEP_VERSIONS = 2

    def __init__(self, spark: SparkSession, table: LakeTable, state_dir: str):
        self.spark = spark
        self.table = table
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # ---------------------------------------------------------------- state
    def _marker_path(self, version: int) -> str:
        return os.path.join(self.state_dir, f"v{version}.commit.json")

    def cursor(self) -> dict[str, Any] | None:
        """Latest committed state: {snapshot_id, version, dir}. The commit
        markers are the source of truth; cursor.json is a hint that is
        rolled forward past any crash between marker create and hint
        swap."""
        try:
            with open(os.path.join(self.state_dir, "cursor.json")) as f:
                v = json.load(f)["version"]
        except FileNotFoundError:
            v = -1
        while os.path.exists(self._marker_path(v + 1)):
            v += 1
        if v < 0:
            return None
        with open(self._marker_path(v)) as f:
            return json.load(f)

    def read(self) -> DataFrame:
        """Current view contents: (repo, n_paths, total_bytes)."""
        cur = self.cursor()
        if cur is None:
            return self.spark.createDataFrame([], STATE_SCHEMA)
        return self._read_state(cur)

    def _read_state(self, cur: dict[str, Any]) -> DataFrame:
        return self.spark.read.schema(STATE_SCHEMA).parquet(
            os.path.join(self.state_dir, cur["dir"])
        )

    def _commit_marker(self, version: int, payload: dict[str, Any]) -> None:
        """CAS half of the commit: exclusive-create the version marker,
        then swap the hint and GC superseded versions."""
        try:
            with open(self._marker_path(version), "x") as f:
                json.dump(payload, f)
        except FileExistsError:
            raise MVCommitConflict(
                f"state version {version} was committed concurrently; "
                f"re-read the cursor and retry the refresh"
            ) from None
        tmp = os.path.join(self.state_dir, "cursor.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, os.path.join(self.state_dir, "cursor.json"))
        # GC: drop markers older than the keep window, and data dirs that
        # only those dropped markers referenced (cursor-only advances
        # share a dir across versions). Unreferenced uuid dirs from
        # crashed writes are left alone — harmless orphans, and deleting
        # them would race an in-flight writer.
        # Bounded scan: every commit GCs below the keep window, so live
        # markers cluster at the top — stop after a run of misses below
        # it instead of probing every version ever committed (a per-
        # minute refresh for a year would otherwise pay ~500k stat calls
        # per commit, O(table age), for nothing).
        keep, drop = set(), []
        misses_below_window = 0
        for v in range(version, -1, -1):
            p = self._marker_path(v)
            if not os.path.exists(p):
                if version - v >= self.KEEP_VERSIONS:
                    misses_below_window += 1
                    if misses_below_window > 8:
                        break
                continue
            with open(p) as f:
                d = json.load(f)["dir"]
            if version - v < self.KEEP_VERSIONS:
                keep.add(d)
            else:
                drop.append((p, d))
        for p, d in drop:
            os.remove(p)
            if d not in keep:
                shutil.rmtree(os.path.join(self.state_dir, d), ignore_errors=True)

    def _commit_state(
        self, df: DataFrame, to_sid: int, base_version: int | None = None
    ) -> None:
        """``base_version`` pins optimistic concurrency for delta commits:
        the new version is base+1, so a refresh that raced past another's
        commit loses the marker CAS instead of silently committing state
        derived from a stale base. Full recomputes (state independent of
        the old version) pass None and stack on whatever is current."""
        if base_version is None:
            cur = self.cursor()
            base_version = cur["version"] if cur else -1
        version = base_version + 1
        dirname = f"data-{uuid.uuid4().hex[:12]}"
        # single small file: the state is O(repos); coalesce(1) keeps the
        # view readable as one footer without a shuffle of consequence
        df.coalesce(1).write.parquet(os.path.join(self.state_dir, dirname))
        try:
            self._commit_marker(
                version, {"snapshot_id": to_sid, "version": version, "dir": dirname}
            )
        except MVCommitConflict:
            shutil.rmtree(os.path.join(self.state_dir, dirname), ignore_errors=True)
            raise

    def _advance_cursor(self, cur: dict[str, Any], to_sid: int) -> None:
        """Cursor-only advance (empty change interval): new marker, same
        data directory — two small JSON writes, no Spark job. CAS against
        the caller's pinned cursor."""
        self._commit_marker(
            cur["version"] + 1,
            {"snapshot_id": to_sid, "version": cur["version"] + 1, "dir": cur["dir"]},
        )

    # -------------------------------------------------------------- refresh
    def refresh(self, full: bool = False) -> dict[str, Any]:
        """Bring the view up to the table's current snapshot.

        First call (or ``full=True``) computes from a full scan of the
        pinned head snapshot; subsequent calls apply the delta algebra
        over the change interval only. Returns a small metrics dict
        (mode, interval, buckets read). Raises :class:`MVCommitConflict`
        if another refresh committed concurrently (safe to retry).
        """
        # ONE metadata read pins the whole refresh: head snapshot, change
        # interval, old snapshot, and bucket count all come from the same
        # consistent view, so concurrent commits/expiry can't desync the
        # aggregated state from the cursor we commit.
        meta = self.table._load_metadata()
        snap = self.table._snapshot(meta)
        cur = self.cursor()
        if snap is None:
            return {"mode": "noop", "reason": "empty table"}
        to_sid = snap["snapshot_id"]

        def recompute(reason: str | None = None) -> dict[str, Any]:
            self._commit_state(_contrib(self.table._read_entries(meta, snap["manifest"])), to_sid)
            out = {"mode": "full", "to": to_sid}
            return {**out, "reason": reason} if reason else out

        if cur is None or full:
            return recompute()
        if cur["snapshot_id"] == to_sid:
            return {"mode": "noop", "from": to_sid, "to": to_sid}

        from_sid = cur["snapshot_id"]
        try:
            entries = self.table._changes_entries(from_sid, to_sid, meta=meta)
        except ValueError:
            # cursor predates every retained snapshot (expire_snapshots ran
            # past it): the interval is unreconstructable, so fall back to
            # a full recompute instead of wedging the view forever
            return recompute("cursor expired")
        # ancestry-scoped, like the changelog (the raw snapshot log may
        # carry unpublished WAP/staging commits whose op — e.g. a staged
        # overwrite — never affected this lineage; counting them would
        # force a spurious full recompute every refresh until expiry)
        interval_ops = _interval_ops(self.table, meta, from_sid, to_sid)
        if not interval_ops <= INCREMENTAL_SAFE_OPS:
            # e.g. overwrite: drops rows without tombstoned file-adds, so
            # the delta algebra cannot see the retractions. Checked BEFORE
            # the empty-entries noop: an overwrite can drop every row while
            # adding zero files (truncate-to-empty), and advancing the
            # cursor past it would leave the view stale forever.
            return recompute("non-incremental operation in interval")
        if not entries:
            self._advance_cursor(cur, to_sid)
            return {"mode": "noop", "from": from_sid, "to": to_sid}

        # When the interval rewrote a large fraction of the table, the
        # interval image costs MORE than recomputing: recompute instead.
        interval_rows = sum(e["rows"] for e in entries)
        table_rows = max(1, sum(e["rows"] for e in snap["manifest"]))
        if interval_rows >= self.FULL_FALLBACK_RATIO * table_rows:
            return recompute("large interval")

        img = interval_image(self.table, meta, from_sid, entries)

        def n_paths(side: str):
            return F.col(side).isNotNull().cast("long")

        def n_bytes(side: str):  # 0 for an absent image, like _contrib's coalesce
            return F.octet_length(F.coalesce(F.col(f"{side}.content"), F.lit(""))).cast("long")

        delta = img.select(
            "repo",
            (n_paths("_a") - n_paths("_b")).alias("n_paths"),
            (n_bytes("_a") - n_bytes("_b")).alias("total_bytes"),
        )
        # base state pinned to the SAME cursor the delta was computed
        # against — self.read() would re-resolve the cursor at
        # construction time and could mix a newer base with our
        # (from_sid, to_sid] delta
        base_state = self._read_state(cur)
        merged = (
            base_state.unionByName(delta)
            .groupBy("repo")
            .agg(F.sum("n_paths").alias("n_paths"), F.sum("total_bytes").alias("total_bytes"))
            .filter(F.col("n_paths") > 0)
        )
        self._commit_state(merged, to_sid, base_version=cur["version"])
        return {
            "mode": "incremental",
            "from": from_sid,
            "to": to_sid,
            "touched_buckets": len({e["bucket"] for e in entries}),
            "n_buckets": meta["n_buckets"],
        }
