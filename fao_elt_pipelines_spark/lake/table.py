"""Iceberg-semantics lake table in pure PySpark + JSON metadata.

No Iceberg runtime jar exists in this sandbox (no network for --packages),
so the engine implements the Iceberg *semantics* it needs directly, behind a
small interface so a real catalog's ``MERGE INTO`` can be swapped in:

- immutable Parquet data files under ``data/``
- JSON table metadata under ``metadata/``: schema with field IDs, partition
  spec (hash-bucket on ``repo``), snapshot log of POINTERS + summaries only
- each snapshot's manifest (data-file list with per-file stats + lineage)
  lives in its own immutable file under ``metadata/manifests/``, written
  once at commit and loaded lazily on access — so per-commit metadata cost
  is O(current files), never O(snapshots × files), and expire_snapshots
  prunes manifests and old metadata versions alongside data files
- atomic commit via write-temp-then-``os.replace`` of a VERSION pointer —
  the local-FS stand-in for a catalog's compare-and-swap
- refs: named branches and tags over the snapshot log (Iceberg's refs
  model) — write-audit-publish staging (lake.wap), tags that pin
  snapshots across expiry, publish = fast-forward pointer CAS; epoch
  exactly-once, the change stream, lineage, and expiry bookkeeping all
  follow a ref's ANCESTRY, so unpublished branch work never counts
- time travel: read any snapshot id, ref, or FOR TIMESTAMP AS OF
  (``as_of_ms``); snapshot ids are never reused (high-water mark
  survives expiry)
- additive schema evolution by field-ID union (lake.schema_evo)
- maintenance: count- and age-based snapshot expiry, orphan-file GC
  behind a safety horizon, size- or count-triggered compaction, online
  bucket-count evolution (rebucket) with a layout guard that refuses
  merges planned against a superseded bucket space
- exactly-once: the epoch id committed inside the snapshot summary; replay
  consults ``committed_epochs()`` and skips — idempotency by replay-skip,
  not by the reference's truncate+reload
  (``/root/reference/ingestion/load_to_database.py:70-83``).

Partition layout & pruning
--------------------------
The base table is hash-bucketed on the MERGE key:
``bucket = pmod(xxhash64(repo, path), n_buckets)`` (uniform under hot-repo
skew — see bucket_expr). Buckets are directories (``_bucket=N``); the bucket
of a row is recomputable from the key so reads never depend on directory
parsing. MERGE rewrites
*only the buckets the delta touches* (copy-on-write): a distinct on the
delta's bucket ids (≤ n_buckets values) prunes the base scan to the touched
files via the manifest — at 100 TB this is the difference between rewriting
the table and rewriting a few percent of it.
"""

from __future__ import annotations

import fcntl
import json
import operator
import os
import re
import shutil
import time
import uuid
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import schema_evo
from .bloom import TOKEN_SEP
from .bloom import probe as _bloom_probe

STATE_COLUMNS = ["repo", "path", "commit", "lang", "content", "content_sha256", "last_seq"]

#: the MERGE key: bucketing hashes it, and every image of a key (base
#: row, newer delta, tombstone) carries the same values in these columns
KEYS = ("repo", "path")

#: physical-only column marking delete winners. Tombstones make MERGE
#: order-insensitive ACROSS batches: an old insert re-delivered after a
#: newer delete meets the tombstone's higher seq and stays dead. Without
#: them, out-of-order micro-batches (e.g. file-source streaming) could
#: resurrect deleted keys. Hidden from read(); compaction may expire
#: tombstones older than a replay watermark.
TOMBSTONE_COL = "_is_deleted"


class CommitConflictError(RuntimeError):
    """A concurrent writer committed the metadata version this commit
    targeted. Optimistic-concurrency contract: re-read and retry; replay's
    epoch retry is the idempotent recovery path."""


class PublishConflictError(CommitConflictError):
    """``publish`` found the target branch moved since the source branch
    forked from it — the fast-forward is impossible. Recovery: re-run the
    whole write-audit-publish cycle against the new head (the staged
    snapshots are abandoned; their epochs were never published, so the
    retry re-merges them)."""


def bucket_expr(n_buckets: int, key_cols: tuple[str, str] = ("repo", "path")) -> F.Column:
    """Partition bucket = hash of the MERGE key.

    Bucketing on the full key (not repo alone) makes bucket load uniform
    regardless of the Zipf-hot-repo distribution — the hot repo's paths
    spread over all buckets — so the merge shuffle, the sort, and the file
    writes are skew-free by construction. The trade-off (no repo-level
    partition pruning for readers) is the right one for a CDC sink whose
    dominant access is key-bucket MERGE; repo-level analytics run on the
    aggregate outputs, not the base table scan. ``bucket_of`` is the
    driver-side twin for one literal key.
    """
    keys = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5, _M64 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5, (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as unsigned 64 bits — the algorithm behind Spark's
    ``xxhash64`` (little-endian lanes, the seed chained between columns)."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh64_round(v[j], int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh64_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def bucket_of(key: tuple[str | None, ...], n_buckets: int) -> int:
    """The bucket ``bucket_expr`` assigns to one literal string key,
    computed on the driver: XXH64 over each non-NULL component's UTF-8
    bytes, seeded 42 and chained, then ``pmod`` of the signed result."""
    h = 42
    for v in key:
        if v is not None:
            h = _xxh64(v.encode("utf-8"), h)
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def _stats_overlap(entry: dict[str, Any], col: str, lo: Any, hi: Any) -> bool:
    """Conservative file-level stats test: False only when the manifest's
    per-file [min, max] bounds for ``col`` PROVE [lo, hi] is absent.
    Missing stats → True (never prune blind). Parquet writers may truncate
    string bounds, but the spec requires truncation to stay valid bounds,
    so the overlap test remains conservative."""
    rng = (entry.get("stats") or {}).get(col)
    if not rng:
        return True
    # open bounds (None) never exclude on that side
    return (hi is None or rng[0] <= hi) and (lo is None or rng[1] >= lo)


def _stats_may_contain(entry: dict[str, Any], col: str, value: Any) -> bool:
    return _stats_overlap(entry, col, value, value)


class _LazySnapshot(dict):
    """Snapshot entry whose ``manifest`` (the per-file entry list) loads on
    first ``s["manifest"]`` access from its immutable per-snapshot manifest
    file. This is Iceberg's metadata shape: ``v{N}.metadata.json`` holds only
    the snapshot log of pointers + summaries, each snapshot's file list is
    written ONCE at commit time to ``metadata/manifests/`` and never
    rewritten — so commit cost is O(current files), not
    O(snapshots × files), and metadata bytes don't grow with history.
    Plain-dict access keeps every existing call site working."""

    __slots__ = ("_meta_dir",)

    def __init__(self, data: dict[str, Any], meta_dir: str):
        super().__init__(data)
        self._meta_dir = meta_dir

    def __missing__(self, key: str) -> Any:
        if key == "manifest" and "manifest_file" in self:
            with open(os.path.join(self._meta_dir, self["manifest_file"])) as f:
                manifest = json.load(f)
            self["manifest"] = manifest  # cache; stripped again on serialize
            return manifest
        raise KeyError(key)


class LakeTable:
    """A versioned, bucketed Parquet table with snapshot isolation."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.manifest_dir = os.path.join(self.meta_dir, "manifests")
        self.data_dir = os.path.join(path, "data")

    # ---------------------------------------------------------------- DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        n_buckets: int = 64,
    ) -> "LakeTable":
        t = cls(spark, path)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.manifest_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "n_buckets": n_buckets,
            "schema": schema_evo.schema_to_registry(schema),
            "partition_spec": [{"source": ["repo", "path"], "transform": f"bucket[{n_buckets}]"}],
            "current_snapshot_id": None,
            "snapshots": [],
            # Iceberg's refs model: named pointers into the snapshot log.
            # "main" is the branch every default read/write targets;
            # additional branches stage unpublished commits (write-audit-
            # publish) and tags pin snapshots against expiry.
            "refs": {"main": {"snapshot_id": None, "type": "branch"}},
        }
        t._write_metadata(meta, version=0)
        return t

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, "metadata", "VERSION"))

    # ----------------------------------------------------------- metadata
    def _version(self) -> int:
        with open(os.path.join(self.meta_dir, "VERSION")) as f:
            return int(f.read().strip())

    def _load_versioned(self) -> tuple[dict[str, Any], int]:
        """Metadata plus the version it was read AT — the version a
        subsequent CAS commit must target +1. Committing at
        ``self._version() + 1`` re-read at write time instead would let a
        competitor land in between and be silently overwritten (stale
        manifest wins, their files dropped): the read version must pin
        the commit target."""
        v = self._version()
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
            return self._wrap_snapshots(json.load(f)), v

    def _load_metadata(self) -> dict[str, Any]:
        v = self._version()
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as f:
            return self._wrap_snapshots(json.load(f))

    def _wrap_snapshots(self, meta: dict[str, Any]) -> dict[str, Any]:
        """Wrap snapshot entries so ``s["manifest"]`` lazily loads the
        per-snapshot manifest file; snapshots from the pre-split format
        (inline manifest, no manifest_file) pass through unchanged."""
        meta["snapshots"] = [
            _LazySnapshot(s, self.meta_dir) if "manifest_file" in s else s
            for s in meta["snapshots"]
        ]
        return meta

    def _write_metadata(self, meta: dict[str, Any], version: int) -> None:
        """Atomic compare-and-swap commit.

        The versioned metadata file is created with link(2) semantics —
        atomic fail-if-exists — so of two writers that both read version
        N and try to commit N+1, exactly ONE wins; the loser gets
        CommitConflictError and must re-read and retry (the engine's
        epoch retry is idempotent, so replay-level recovery is simply
        re-offering the epoch). This is the local-FS realization of a
        catalog's optimistic CAS, same model as Iceberg's commit.

        The VERSION pointer then advances monotonically (guarded: a
        slow winner of an older version never regresses the pointer).
        A crash between the link and the pointer advance leaves
        v{version} durable but VERSION stale; the next writer's
        FileExistsError handler repairs the pointer forward (the linked
        file is fully written before the link, so advancing is always
        safe) — without the repair, every retry would re-read the stale
        version, re-target version, and conflict forever (livelock).
        """
        mp = os.path.join(self.meta_dir, f"v{version}.metadata.json")
        tmp = mp + f".tmp.{uuid.uuid4().hex[:8]}"
        # Never serialize a lazily-cached manifest back inline: the
        # manifest file is the single immutable source of truth, and
        # inlining it would resurrect the O(snapshots × files) growth.
        out = dict(meta)
        out["snapshots"] = [
            {k: v for k, v in s.items() if not (k == "manifest" and "manifest_file" in s)}
            for s in meta["snapshots"]
        ]
        with open(tmp, "w") as f:
            json.dump(out, f, indent=1)
        try:
            os.link(tmp, mp)  # atomic fail-if-exists: the CAS
        except FileExistsError:
            os.remove(tmp)
            # Crash-repair: v{version} exists but VERSION may still point
            # below it (a writer died between link and pointer advance).
            # Advance the pointer so the conflicting retry's re-read sees
            # the committed version instead of livelocking on the stale one.
            if self._version() < version:
                self._advance_version_pointer(version)
            raise CommitConflictError(
                f"metadata version {version} was committed by a concurrent "
                f"writer; re-read the table and retry the operation"
            ) from None
        os.remove(tmp)
        self._advance_version_pointer(version)

    def _advance_version_pointer(self, version: int) -> None:
        """Monotonically advance VERSION to ``version`` (no-op if a newer
        commit already moved it further).

        The check-then-replace is serialized under an advisory file lock:
        without it, two concurrent committers can interleave so the older
        version lands LAST, regressing the pointer and hiding the newer
        (already CAS-committed) snapshot from readers until a future
        commit's repair; a shared tmp name additionally let one writer's
        ``os.replace`` consume the other's file (FileNotFoundError after a
        successful commit). The v{N} metadata files themselves remain the
        CAS-protected source of truth — this lock covers only the pointer
        swap (on an object store the pointer is the catalog's swap
        primitive instead)."""
        vp = os.path.join(self.meta_dir, "VERSION")
        with open(vp + ".lock", "w") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                if os.path.exists(vp) and self._version() >= version:
                    return  # a newer commit already advanced the pointer
                tmp = f"{vp}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp"
                with open(tmp, "w") as f:
                    f.write(str(version))
                os.replace(tmp, vp)
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    @property
    def n_buckets(self) -> int:
        return self._load_metadata()["n_buckets"]

    def schema(self) -> T.StructType:
        return schema_evo.registry_to_schema(self._load_metadata()["schema"])

    def snapshots(self) -> list[dict[str, Any]]:
        return self._load_metadata()["snapshots"]

    # ----------------------------------------------------------------- refs
    @staticmethod
    def _refs(meta: dict[str, Any]) -> dict[str, dict[str, Any]]:
        """The table's named refs; pre-refs metadata synthesizes ``main``
        from ``current_snapshot_id`` (back-compat with existing tables)."""
        refs = meta.get("refs")
        if refs is None:
            refs = {"main": {"snapshot_id": meta["current_snapshot_id"], "type": "branch"}}
            meta["refs"] = refs
        return refs

    def refs(self) -> dict[str, dict[str, Any]]:
        return self._refs(self._load_metadata())

    def history(self, ref: str = "main") -> list[dict[str, Any]]:
        """Snapshots on ``ref``'s ancestry, oldest first — the published
        lineage (staged/abandoned branch snapshots in the log are not
        part of any history until published)."""
        meta = self._load_metadata()
        return self._ancestry(meta, self._head(meta, ref))

    @staticmethod
    def _head(meta: dict[str, Any], ref: str) -> int | None:
        refs = LakeTable._refs(meta)
        if ref not in refs:
            raise ValueError(f"unknown ref {ref!r}; have {sorted(refs)}")
        return refs[ref]["snapshot_id"]

    @staticmethod
    def _ancestry(meta: dict[str, Any], sid: int | None) -> list[dict[str, Any]]:
        """Snapshots reachable from ``sid`` via parent links, oldest first.
        Chains are cut where a parent was expired — exactly Iceberg's
        behavior: history before the expiry horizon is gone."""
        by_id = {s["snapshot_id"]: s for s in meta["snapshots"]}
        chain: list[dict[str, Any]] = []
        cur = sid
        while cur is not None and cur in by_id:
            s = by_id[cur]
            chain.append(s)
            cur = s.get("parent_id")
        chain.reverse()
        return chain

    @staticmethod
    def _snapshot(
        meta: dict[str, Any],
        snapshot_id: int | None = None,
        ref: str = "main",
        as_of_ms: int | None = None,
    ) -> dict[str, Any] | None:
        """The one map from an explicit snapshot id, a ref head, or FOR
        TIMESTAMP AS OF (``as_of_ms``: the latest snapshot on ``ref``'s
        ancestry committed at or before that wall-clock ms) to a snapshot
        entry of ``meta``. None = no snapshot on the ref (empty table); an
        unknown or expired id raises."""
        if snapshot_id is not None:
            sid = snapshot_id
        elif as_of_ms is not None:
            chain = [
                s
                for s in LakeTable._ancestry(meta, LakeTable._head(meta, ref))
                if s["timestamp_ms"] <= as_of_ms
            ]
            if not chain:
                raise ValueError(
                    f"no snapshot on {ref!r} at or before {as_of_ms} "
                    "(before table history, or expired)"
                )
            sid = chain[-1]["snapshot_id"]
        else:
            sid = LakeTable._head(meta, ref)
        if sid is None:
            return None
        snap = next((s for s in meta["snapshots"] if s["snapshot_id"] == sid), None)
        if snap is None:
            raise ValueError(
                f"snapshot {sid} not found (expired by expire_snapshots, or never existed)"
            )
        return snap

    def current_snapshot(self, ref: str = "main") -> dict[str, Any] | None:
        return self._snapshot(self._load_metadata(), ref=ref)

    def committed_epochs(self, ref: str = "main", source: str | None = None) -> set[int]:
        """Epoch ids the exactly-once skip treats as done: those committed
        on ``ref``'s ancestry (NOT on other branches — a WAP-staged epoch
        whose branch was never published must be re-appliable) plus epochs
        whose snapshots expiry dropped from main's history.

        ``source`` scopes the set to one upstream: epoch ids are only
        unique PER SOURCE (two binlogs feeding one table both start at
        epoch 0), so a multi-source replay must skip on (source, epoch),
        not the bare id. ``None`` returns the union over all sources
        (introspection); snapshots committed without a recorded source
        (legacy, or source-less appends) match every query — conservative
        in the no-double-apply direction."""
        meta = self._load_metadata()
        # expiry may drop the snapshot, never the exactly-once guarantee
        out: set[int] = set(meta.get("expired_epochs", []))  # legacy: unscoped
        by_src: dict[str, list[int]] = meta.get("expired_epochs_by_source", {})
        for src, eids in by_src.items():
            if source is None or src == "" or src == source:
                out.update(eids)
        for s in self._ancestry(meta, self._head(meta, ref)):
            s_src = s.get("source")
            if source is not None and s_src is not None and s_src != source:
                continue
            if s.get("epoch_id") is not None:
                out.add(s["epoch_id"])
            out.update(s.get("epoch_ids") or [])  # batched-group commits
        return out

    def create_branch(
        self, name: str, at_snapshot_id: int | None = None, reset: bool = False
    ) -> None:
        """Create (or with ``reset=True``, create-or-move) a branch ref.
        ``at_snapshot_id=None`` forks from the current main head. A
        metadata-only CAS commit — no data is touched."""
        self._ref_commit("branch", name, at_snapshot_id, reset)

    def create_tag(self, name: str, at_snapshot_id: int | None = None) -> None:
        """Pin a snapshot under an immutable name. Tagged snapshots survive
        ``expire_snapshots`` regardless of the retention window (audit
        holds, reproducibility pins for a training-data cut)."""
        self._ref_commit("tag", name, at_snapshot_id, reset=False)

    def _ref_commit(
        self, kind: str, name: str, at_snapshot_id: int | None, reset: bool
    ) -> None:
        if name == "main":
            raise ValueError("main cannot be recreated or retargeted directly")
        meta, base_v = self._load_versioned()
        refs = self._refs(meta)
        if name in refs and not (reset and refs[name]["type"] == "branch"):
            raise ValueError(f"ref {name!r} already exists")
        snap = self._snapshot(meta, at_snapshot_id)
        sid = snap["snapshot_id"] if snap else None
        if kind == "tag" and sid is None:
            raise ValueError("a tag must point at a snapshot; the table is empty")
        refs[name] = {"snapshot_id": sid, "type": kind}
        self._write_metadata(meta, version=base_v + 1)

    def drop_ref(self, name: str) -> None:
        """Delete a branch or tag ref. The snapshots it pointed at stay in
        the log until ``expire_snapshots`` collects the unreachable ones
        (their epoch ids are NOT preserved — unpublished work never
        happened, as far as exactly-once is concerned)."""
        if name == "main":
            raise ValueError("main cannot be dropped")
        meta, base_v = self._load_versioned()
        refs = self._refs(meta)
        if name not in refs:
            raise ValueError(f"unknown ref {name!r}")
        del refs[name]
        self._write_metadata(meta, version=base_v + 1)

    def publish(self, branch: str, to: str = "main", drop: bool = True) -> int | None:
        """Fast-forward ``to`` onto ``branch``'s head — the atomic PUBLISH
        of write-audit-publish. Readers of ``to`` see either none or all of
        the staged snapshots, never an intermediate; the commit is the same
        metadata CAS every write uses, so a concurrent commit on ``to``
        surfaces as PublishConflictError (re-run the WAP cycle) rather than
        being clobbered. Returns the published head snapshot id."""
        if branch == to:
            # publish(x, to=x) would no-op the fast-forward and then DROP
            # the branch itself — publish('main') would delete the main
            # ref and brick every subsequent read/commit
            raise ValueError(f"cannot publish {branch!r} onto itself")
        meta, base_v = self._load_versioned()
        refs = self._refs(meta)
        head = self._head(meta, branch)
        if refs.get(branch, {}).get("type") == "tag":
            raise ValueError(f"{branch!r} is a tag; only branches publish")
        if refs.get(to, {}).get("type") == "tag":
            raise ValueError(f"{to!r} is a tag; tags are immutable publish targets")
        to_head = self._head(meta, to)
        if head != to_head:
            ancestors = {s["snapshot_id"] for s in self._ancestry(meta, head)}
            if to_head is not None and to_head not in ancestors:
                raise PublishConflictError(
                    f"branch {to!r} moved to snapshot {to_head} since "
                    f"{branch!r} forked; fast-forward impossible — re-run "
                    "the write-audit-publish cycle against the new head"
                )
            refs[to] = {"snapshot_id": head, "type": "branch"}
            if to == "main":
                meta["current_snapshot_id"] = head
        if drop and branch in refs:
            if branch == "main":  # same protection drop_ref gives
                raise ValueError("refusing to drop 'main'; publish with drop=False")
            del refs[branch]
        self._write_metadata(meta, version=base_v + 1)
        return head

    def _physical_schema(self, logical: T.StructType) -> T.StructType:
        return T.StructType(list(logical.fields) + [T.StructField(TOMBSTONE_COL, T.BooleanType(), True)])

    # --------------------------------------------------------------- read
    def _read_entries(
        self,
        meta: dict[str, Any],
        entries: list[dict[str, Any]],
        include_tombstones: bool = False,
        merged: bool = True,
    ) -> DataFrame:
        """Read manifest entries as a DataFrame, typed by the logical schema
        of ``meta`` — the caller's pinned metadata load, so the entries and
        the schema describe one table version.

        ``merged=True`` applies read-time LWW across base+delta files
        (merge-on-read): per key, the row with max last_seq wins — a
        max_by hash aggregate (map-side partial agg). The aggregate is
        engaged PER BUCKET: only buckets that actually carry a delta file
        pass through the groupBy shuffle; buckets whose files are all base
        are unioned in raw (keys are bucket-disjoint, so skipping the agg
        for them is exact). Read cost is therefore proportional to delta
        coverage — a delta in 1 of 64 buckets shuffles 1/64th of the
        table, not all of it. ``merged=False`` returns raw physical rows
        (used internally by COW merge and compact, which do their own LWW
        in the single write shuffle)."""
        phys = self._physical_schema(schema_evo.registry_to_schema(meta["schema"]))

        def raw(es: list[dict[str, Any]]) -> DataFrame:
            if not es:
                return self.spark.createDataFrame([], phys)
            # Explicit schema: old files lacking newly-added fields read as
            # NULL (additive evolution); pruning comes from Parquet stats.
            return self.spark.read.schema(phys).parquet(*[e["path"] for e in es])

        touched, clean = self._split_entries_by_delta(entries)
        if merged and touched:
            mdf = raw(touched)
            payload = [c for c in mdf.columns if c not in KEYS]
            # NULL-safe ordering: append()-sourced rows carry last_seq NULL
            # (schema_evo backfill). max_by skips NULL-ordered rows, so a
            # group whose rows are ALL appended would collapse to a NULL
            # struct — silent corruption. Rank them at -1: any real delta
            # seq (>= 0) outranks an appended row, and an all-appended
            # group still returns a real row.
            seq_ord = F.coalesce(F.col("last_seq"), F.lit(-1).cast("long"))
            packed = F.max_by(F.struct(*payload), seq_ord).alias("_win")
            mdf = mdf.groupBy(*KEYS).agg(packed).select(
                *KEYS, *[F.col(f"_win.{c}").alias(c) for c in payload]
            )
            df = mdf.unionByName(raw(clean).select(*mdf.columns)) if clean else mdf
        else:
            df = raw(entries)
        if include_tombstones:
            return df
        return df.filter(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))).drop(TOMBSTONE_COL)

    @staticmethod
    def _split_entries_by_delta(
        entries: list[dict[str, Any]],
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """(files in buckets that have >= 1 delta file, files in buckets
        that are all-base). The LWW read-merge only needs the first group."""
        delta_buckets = {e["bucket"] for e in entries if e.get("kind") == "delta"}
        touched = [e for e in entries if e["bucket"] in delta_buckets]
        clean = [e for e in entries if e["bucket"] not in delta_buckets]
        return touched, clean

    def _plan(
        self,
        meta: dict[str, Any],
        snap: dict[str, Any] | None,
        bounds: dict[str, tuple[Any, Any]] | None = None,
        tokens: dict[str, list[str]] | None = None,
        buckets: set[int] | None = None,
        include_tombstones: bool = False,
    ) -> tuple[DataFrame, int, int]:
        """Plan a read of ``snap`` (resolved by ``_snapshot`` from the
        caller's ``meta``: file list, bucket space, schema and bloom
        registry all come from that one metadata load) and return
        ``(df, files_pruned, files_total)``. Every table read goes
        through here.

        ``bounds`` is {col: (lo, hi)}, either side None for open;
        ``tokens`` is {col: [identifier, ...]}, every token required at
        bloom.TOKEN_SEP boundaries. Manifest entries prune in three tiers:

        1. **Bucket.** When the bounds pin both key columns to one string
           value, only ``bucket_of(key, n)`` can hold the key, with ``n``
           the snapshot's own ``n_buckets`` stamp — a point read at a
           pre-rebucket snapshot hashes into that snapshot's bucket space.
           ``buckets`` passes a bucket set directly (lookup_join).
        2. **Key columns** (repo, path). Manifest min/max stats prune in
           EVERY bucket, delta buckets included. That is safe because
           every image of a key — base row, newer delta row, tombstone —
           carries the same key columns: a file whose key bounds exclude
           the predicate holds no image of any matching key, so dropping
           it cannot change which image wins a matching key's LWW.
        3. **Non-key columns, value blooms and token blooms** prune only
           in buckets with no delta file, where a file's rows are final.
           In a delta bucket a dropped file could hold the newer image of
           a key whose older image passes the filter and would resurface
           (a ``last_seq`` upper bound dropping the delta, say). Blooms
           are loaded only when a sidecar is registered and a point
           (lo == hi, probe type matching the column) or token probe
           exists; bloom rows are keyed by immutable file paths, so a
           historical snapshot's files answer with the bits built for them.

        Files lacking stats or bloom rows are kept. The bounds re-apply
        as one row filter after the merge — ``==`` on both key columns
        for a full-key point, ``>=``/``<=`` otherwise, and
        ``array_contains(split(col))`` per token — so the result equals
        read() + filter. Key-column predicates reference only the LWW
        aggregate's grouping keys, so Spark pushes them below it into the
        parquet scan."""
        bounds, tokens = bounds or {}, tokens or {}
        entries = snap["manifest"] if snap else []
        key = [bounds.get(k, (None, None)) for k in KEYS]
        key_point = all(isinstance(lo, str) and lo == hi for lo, hi in key)
        if key_point and buckets is None and snap:
            n = snap.get("n_buckets") or meta["n_buckets"]
            buckets = {bucket_of(tuple(lo for lo, _ in key), n)}

        probes: list[tuple[str, list[Any]]] = [(f"{c}#tokens", ts) for c, ts in tokens.items()]
        if bounds and meta.get("bloom_sidecars"):
            # a value probe is only sound when the Python value's rendering
            # provably equals Spark's string cast of the column for every
            # row the bloom hashed: str probes on string columns, int
            # probes on integral columns. Anything else (int-vs-string
            # "042" vs "42", float "1.0" vs "1") could prune a file that
            # CONTAINS the match, so mismatched pairs skip the bloom.
            probe_ok = {
                f.name: (str if isinstance(f.dataType, T.StringType) else int)
                for f in schema_evo.registry_to_schema(meta["schema"]).fields
                if isinstance(
                    f.dataType,
                    (T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType),
                )
            }
            probes += [
                (c, [lo])
                for c, (lo, hi) in bounds.items()
                if lo is not None
                and lo == hi
                and c in probe_ok
                and isinstance(lo, probe_ok[c])
                and not isinstance(lo, bool)
            ]
        blooms = self._load_blooms(meta) if probes and meta.get("bloom_sidecars") else {}
        delta_buckets = {e["bucket"] for e in entries if e.get("kind") == "delta"}

        def keep(e: dict[str, Any]) -> bool:
            if buckets is not None and e["bucket"] not in buckets:
                return False
            final = e["bucket"] not in delta_buckets
            for c, (lo, hi) in bounds.items():
                if (final or c in KEYS) and not _stats_overlap(e, c, lo, hi):
                    return False
            if not final:
                return True
            for bloom_key, values in probes:
                rec = blooms.get((e["path"], bloom_key))
                if rec is not None and not all(
                    _bloom_probe(rec[0], v, rec[1], rec[2]) for v in values
                ):
                    return False
            return True

        preds = []
        for c, (lo, hi) in bounds.items():
            if key_point and c in KEYS:
                preds.append(F.col(c) == F.lit(lo))
                continue
            if lo is not None:
                preds.append(F.col(c) >= F.lit(lo))
            if hi is not None:
                preds.append(F.col(c) <= F.lit(hi))
        for c, ts in tokens.items():
            split = F.split(F.col(c).cast("string"), TOKEN_SEP)
            preds += [F.array_contains(split, t) for t in ts]
        kept = [e for e in entries if keep(e)]
        df = self._read_entries(meta, kept, include_tombstones)
        if preds:
            df = df.filter(reduce(operator.and_, preds))
        return df, len(entries) - len(kept), len(entries)

    def read(
        self,
        snapshot_id: int | None = None,
        include_tombstones: bool = False,
        ref: str = "main",
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot (default: current main head). Time
        travel = pass a historical snapshot id, a ``ref`` (branch or tag
        name), or ``as_of_ms`` (the latest snapshot on ``ref``'s ancestry
        committed at or before that wall-clock ms — Iceberg's
        FOR TIMESTAMP AS OF). Tombstones are hidden unless asked for; MOR
        delta files are LWW-merged transparently."""
        meta = self._load_metadata()
        snap = self._snapshot(meta, snapshot_id, ref, as_of_ms)
        return self._plan(meta, snap, include_tombstones=include_tombstones)[0]

    def scan_where(
        self,
        bounds: dict[str, tuple[Any, Any]],
        include_tombstones: bool = False,
        with_stats: bool = False,
        snapshot_id: int | None = None,
        ref: str = "main",
        as_of_ms: int | None = None,
    ):
        """Rows whose columns fall in ``bounds`` ({col: (lo, hi)}, either
        side None for open) at the snapshot read() would resolve, with the
        manifest pruned by ``_plan``'s three tiers; the result equals
        read() + filter. A point lookup at any snapshot is this with both
        key columns pinned. ``with_stats=True`` returns
        ``(df, files_pruned, files_total)``."""
        meta = self._load_metadata()
        snap = self._snapshot(meta, snapshot_id, ref, as_of_ms)
        out = self._plan(meta, snap, bounds=bounds, include_tombstones=include_tombstones)
        return out if with_stats else out[0]

    def scan_contains(
        self,
        col: str,
        token: str | list[str],
        include_tombstones: bool = False,
        with_stats: bool = False,
        snapshot_id: int | None = None,
        ref: str = "main",
        as_of_ms: int | None = None,
    ):
        """Distributed grep: rows whose ``col`` text contains the
        identifier ``token`` — or ALL of a list of tokens (the multi-term
        AND grep) — at bloom.TOKEN_SEP boundaries. Files whose token bloom
        (``build_blooms(..., mode="tokens")``) proves any term absent are
        skipped (``_plan``'s tier 3), so selectivity compounds; the row
        filter re-applies the same tokenization, so a bloom false positive
        just contributes zero rows. FPR is the build's m_bits sizing
        choice vs the file's distinct-token count."""
        tokens = [token] if isinstance(token, str) else list(token)
        if not tokens or any(not t or re.search(TOKEN_SEP, t) for t in tokens):
            raise ValueError(
                f"tokens must be non-empty single identifiers (no "
                f"{TOKEN_SEP} chars): {tokens!r}"
            )
        meta = self._load_metadata()
        snap = self._snapshot(meta, snapshot_id, ref, as_of_ms)
        out = self._plan(meta, snap, tokens={col: tokens}, include_tombstones=include_tombstones)
        return out if with_stats else out[0]

    def lookup(self, repo: str, path: str) -> DataFrame:
        """Point lookup by full merge key on the current main head — the
        CDC state-store read path: one bucket's files, pruned by their key
        bounds (``_plan``). Time travel: ``scan_where`` on both keys."""
        return self.scan_where({"repo": (repo, repo), "path": (path, path)})

    def scan_repos(self, lo: str, hi: str | None = None) -> DataFrame:
        """Repo(-range) scan ``[lo, hi]`` (``hi`` defaults to ``lo``) on the
        current main head; pruning as in ``_plan``. Bucketing hashes the
        full key, so a repo spans every bucket and, with files covering
        most of the repo range, the manifest bounds seldom prune: what
        prunes is the row filter pushed below the LWW aggregate (and, at
        scale, parquet row-group stats of the key-sorted files)."""
        return self.scan_where({"repo": (lo, lo if hi is None else hi)})

    def lookup_join(
        self,
        events: DataFrame,
        keys: tuple[str, str] = KEYS,
        how: str = "left",
        state_prefix: str = "state_",
    ) -> DataFrame:
        """Stream-side lookup join against the table's current state —
        Flink SQL's lookup-join pattern (enrich a change/event batch with
        the dimension-ish current row per key) expressed over the lake.

        Scale shape: the probe side (a micro-batch) is small, the table
        side is the 10^10-row corpus — so never scan the corpus. The
        events' keys are hashed with the writer's own ``bucket_expr``;
        the touched bucket set and the batch's repo range go to ``_plan``
        (tiers 1 and 2), so only O(batch-buckets / n_buckets) of the table
        is read. The driver-side collects are bounded: distinct bucket
        ids (≤ n_buckets) and a 2-value repo min/max. The final equi-join's
        small side is the batch, which AQE broadcasts; snapshot isolation
        comes from ONE metadata load supplying snapshot, bucket count and
        manifest (a rebucket committing concurrently cannot split the hash
        space from the manifest being pruned)."""
        kr, kp = keys
        meta = self._load_metadata()
        snap = self._snapshot(meta)
        if snap is None:
            raise ValueError("lookup_join against an empty table (no snapshot)")
        n_buckets = snap.get("n_buckets") or meta["n_buckets"]
        # The bucket/repo bounds collected here must describe the SAME rows
        # the join below sees, or a nondeterministic / source-mutating
        # batch could hash into buckets absent from `touched` and silently
        # enrich those keys with NULL state (the hazard
        # partial_state.apply_batch persists against). Rather than pinning
        # the batch (an earlier localCheckpoint fix accumulated
        # non-replicated executor blocks with no release point across a
        # long-running driver's calls), the join plan carries a loud
        # guard: any row that re-evaluates outside the collected bounds
        # raises instead of NULL-enriching. Deterministic batches — the
        # documented contract — never pay more than the codegen predicate.
        ev_k = events.select(
            bucket_expr(n_buckets, (kr, kp)).alias("_b"), F.col(kr).alias("_r")
        )
        bounds = ev_k.agg(
            F.collect_set("_b").alias("bs"), F.min("_r").alias("lo"), F.max("_r").alias("hi")
        ).collect()[0]
        touched, lo, hi = set(bounds["bs"]), bounds["lo"], bounds["hi"]
        # empty bounds = the batch evaluated empty: any row appearing on a
        # later evaluation is by definition out of bounds (raise, below)
        in_bounds = (
            bucket_expr(n_buckets, (kr, kp)).isin(*touched)
            & F.col(kr).between(F.lit(lo), F.lit(hi))
            if touched
            else F.lit(False)
        )
        # when(cond, true).otherwise(raise_error) as the predicate: an
        # assert_true OR'd with a tautology is constant-folded out by
        # Catalyst (verified), which would silently remove this guard
        events = events.filter(
            F.when(in_bounds, F.lit(True)).otherwise(
                F.raise_error(
                    F.lit(
                        "lookup_join batch re-evaluated outside its collected "
                        "bucket/repo bounds: the events source is "
                        "nondeterministic or mutated mid-join; materialize "
                        "(checkpoint/write) the batch before enriching"
                    )
                )
            )
        )
        state = self._plan(meta, snap, bounds={kr: (lo, hi)}, buckets=touched)[0]
        # change events legitimately carry the same payload column names as
        # the state (commit/lang/content); prefix the state side so the
        # enriched row holds both unambiguously
        state = state.select(
            kr, kp, *[F.col(c).alias(f"{state_prefix}{c}") for c in state.columns if c not in (kr, kp)]
        )
        return events.join(state, on=[kr, kp], how=how)

    # -------------------------------------------------------------- write
    def _write_data_files(
        self,
        df: DataFrame,
        source_epoch: int | None,
        kind: str = "base",
        stats_cols: tuple[str, ...] = ("last_seq", "repo"),
        max_records_per_file: int = 4_000_000,
    ) -> list[dict[str, Any]]:
        """Write df (must carry ``_bucket``) as bucket-partitioned parquet,
        return manifest entries with per-file stats (lineage grain:
        one entry per (file, bucket)). ``kind`` is base or delta (MOR).
        ``stats_cols`` extends the footer-bounds collection beyond the
        defaults (cluster() records its clustering columns so scan_where
        can prune on them)."""
        commit_dir = os.path.join(self.data_dir, f"commit-{uuid.uuid4().hex[:12]}")
        (
            df.write.option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("_bucket")
            .parquet(commit_dir)
        )
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def footer_entry(bucket: int, fp: str) -> dict[str, Any]:
            md = pq.ParquetFile(fp).metadata
            # Iceberg-style per-file column bounds (from parquet footers,
            # no data read): used for pruning and to derive the epoch's
            # seq_hi without re-scanning the delta (lake.replay).
            stats: dict[str, list[Any]] = {}
            try:
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                # last_seq bounds derive the epoch's seq_hi without a
                # re-scan (lake.replay); repo bounds prune the file list
                # under point lookups / key-range reads (files are
                # key-sorted within a bucket under the sorted-merge
                # strategy, so bounds are tight there).
                for col in stats_cols:
                    if col not in idx:
                        continue
                    j = idx[col]
                    mins, maxs = [], []
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(j).statistics
                        if st is not None and st.has_min_max:
                            lo, hi = st.min, st.max
                            if isinstance(lo, bytes):
                                lo = lo.decode("utf-8", "surrogateescape")
                            if isinstance(hi, bytes):
                                hi = hi.decode("utf-8", "surrogateescape")
                            mins.append(lo)
                            maxs.append(hi)
                    # manifests are JSON: timestamp/date/decimal footer
                    # stats would crash _commit's json.dump AFTER data
                    # files are written — skip them (no pruning on that
                    # column, never a crash; pruning is an optimization)
                    if mins and all(
                        isinstance(v, (int, float, str, bool))
                        for v in (*mins, *maxs)
                    ):
                        stats[col] = [min(mins), max(maxs)]
            except Exception:  # stats are an optimization, never fatal
                pass
            return {
                "path": fp,
                "bucket": bucket,
                "rows": md.num_rows,
                "bytes": os.path.getsize(fp),
                "source_epoch": source_epoch,
                "kind": kind,
                "stats": stats,
            }

        todo: list[tuple[int, str]] = []
        for bdir in sorted(os.listdir(commit_dir)):
            if not bdir.startswith("_bucket="):
                continue
            bucket = int(bdir.split("=")[1])
            for fn in sorted(os.listdir(os.path.join(commit_dir, bdir))):
                if fn.endswith(".parquet"):
                    todo.append((bucket, os.path.join(commit_dir, bdir, fn)))
        # footer reads are IO-bound and GIL-releasing (pyarrow): a serial
        # loop is a per-commit Amdahl term that grows with the bucket count
        # (64 here; 1000+ on a real cluster, against object storage where
        # each footer is a round-trip) — read them concurrently instead
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(todo)))) as ex:
            return list(ex.map(lambda t: footer_entry(*t), todo))

    def _commit(
        self,
        operation: str,
        new_entries: list[dict[str, Any]],
        kept_entries: list[dict[str, Any]],
        epoch_id: int | None,
        summary: dict[str, Any],
        base: tuple[dict[str, Any], int] | None = None,
        epoch_ids: list[int] | None = None,
        branch: str = "main",
        source: str | None = None,
    ) -> int:
        # ``base`` = the (metadata, version) the caller's plan was built
        # FROM (its kept_entries / touched-bucket pruning). Committing
        # against a fresher read would let a competitor's commit land in
        # between and have its manifest silently clobbered by our stale
        # kept_entries — the CAS must target base_version + 1 so that
        # interleaving surfaces as CommitConflictError instead.
        meta, base_v = base if base is not None else self._load_versioned()
        refs = self._refs(meta)
        if refs.get(branch, {}).get("type") == "tag":
            raise ValueError(f"{branch!r} is a tag; tags are immutable")
        parent = self._head(meta, branch)
        # ids are allocated across ALL branches and never reused, so a
        # snapshot id names one commit globally and publish is a pure
        # pointer move. The high-water mark survives expiry: max-over-log
        # alone would regress when the newest ids (e.g. abandoned WAP
        # staging commits) are expired, and a reused id would silently
        # re-validate expired cursors/tags instead of raising.
        sid = (
            max(
                max((s["snapshot_id"] for s in meta["snapshots"]), default=0),
                meta.get("last_snapshot_id", 0),
            )
            + 1
        )
        meta["last_snapshot_id"] = sid
        manifest = kept_entries + new_entries
        # The manifest file is written ONCE, immutably, before the metadata
        # CAS (uuid-suffixed so racing writers targeting the same sid never
        # collide). If the CAS loses, the file is a harmless unreferenced
        # orphan — same contract as the loser's data files.
        os.makedirs(self.manifest_dir, exist_ok=True)
        mf_rel = os.path.join("manifests", f"snap-{sid}-{uuid.uuid4().hex[:8]}.json")
        with open(os.path.join(self.meta_dir, mf_rel), "w") as f:
            json.dump(manifest, f)
        snap = _LazySnapshot(
            {
                "snapshot_id": sid,
                "parent_id": parent,
                "timestamp_ms": int(time.time() * 1000),
                "operation": operation,
                "epoch_id": epoch_id,
                # batched-group commit: ALL epoch ids land atomically in the
                # snapshot, so committed_epochs() skips the whole group on
                # resume (scalar epoch_id stays the last id for lineage)
                **({"epoch_ids": epoch_ids} if epoch_ids and len(epoch_ids) > 1 else {}),
                # first-class source: exactly-once is keyed (source, epoch)
                **({"source": source} if source is not None else {}),
                # layout stamp: bucket ids in this manifest live in THIS
                # n_buckets space (rebucket changes it; see merge_changes'
                # layout guard)
                "n_buckets": meta["n_buckets"],
                "manifest_file": mf_rel,
                "manifest": manifest,  # in-memory convenience; never serialized
                "n_files": len(manifest),
                "total_rows": sum(e["rows"] for e in manifest),
                "summary": summary,
            },
            self.meta_dir,
        )
        meta["snapshots"].append(snap)
        refs[branch] = {"snapshot_id": sid, "type": "branch"}
        if branch == "main":
            meta["current_snapshot_id"] = sid
        self._write_metadata(meta, version=base_v + 1)
        return sid

    def append(
        self,
        df: DataFrame,
        epoch_id: int | None = None,
        branch: str = "main",
        source: str | None = None,
    ) -> int:
        """Snapshot-append (reference S10 batch-append sink analogue,
        ``/root/reference/ingestion/load_to_database.py:32-68``)."""
        if epoch_id is not None and epoch_id in self.committed_epochs(ref=branch, source=source):
            return self._load_metadata()["current_snapshot_id"]
        meta, base_v = self._load_versioned()
        new_schema = schema_evo.reconcile(meta["schema"], df.schema)
        df = schema_evo.align(df, schema_evo.registry_to_schema(new_schema))
        dfb = df.withColumn(TOMBSTONE_COL, F.lit(False)).withColumn(
            "_bucket", bucket_expr(meta["n_buckets"])
        )
        entries = self._write_data_files(dfb, epoch_id)
        snap = self._snapshot(meta, ref=branch)
        kept = snap["manifest"] if snap else []
        if new_schema != meta["schema"]:
            meta["schema"] = new_schema
            self._write_metadata(meta, version=base_v + 1)
            base_v += 1
        return self._commit(
            "append", entries, kept, epoch_id,
            {"rows_appended": sum(e["rows"] for e in entries)},
            base=(meta, base_v), branch=branch, source=source,
        )

    def overwrite(
        self, df: DataFrame, epoch_id: int | None = None, source: str | None = None
    ) -> int:
        """Full replace (reference S11 truncate-reload analogue,
        ``/root/reference/orchestration/elt_pipeline.py:138-140``).

        ``source`` scopes the recorded epoch like ``merge_changes``: a
        source-less epoch matches EVERY source in ``committed_epochs``
        (conservative for skip, but a numeric collision with another
        feed's pending epoch would wrongly suppress it), so callers with
        a real upstream identity — e.g. a changelog-mirror resync —
        must tag it. Same table-level exactly-once as append/merge: a
        re-offered (source, epoch) is skipped, not re-applied."""
        if epoch_id is not None and epoch_id in self.committed_epochs(source=source):
            return self._load_metadata()["current_snapshot_id"]
        meta, base_v = self._load_versioned()
        new_schema = schema_evo.reconcile(meta["schema"], df.schema)
        df = schema_evo.align(df, schema_evo.registry_to_schema(new_schema))
        dfb = df.withColumn(TOMBSTONE_COL, F.lit(False)).withColumn(
            "_bucket", bucket_expr(meta["n_buckets"])
        )
        entries = self._write_data_files(dfb, epoch_id)
        if new_schema != meta["schema"]:
            meta["schema"] = new_schema
            self._write_metadata(meta, version=base_v + 1)
            base_v += 1
        return self._commit(
            "overwrite", entries, [], epoch_id,
            {"rows_written": sum(e["rows"] for e in entries)},
            base=(meta, base_v), source=source,
        )

    # -------------------------------------------------------------- MERGE
    def _sorted_lww(
        self,
        ev: DataFrame,
        keys: tuple[str, str],
        seq_col: str,
        op_col: str,
        payload_cols: list[str],
        n_buckets: int,
    ) -> DataFrame:
        """Single-shuffle sorted LWW: hash-repartition events by the key
        bucket (ONE exchange, keyed exactly like the file layout), sort
        within partitions by (key, seq DESC), keep the first row per key via
        a lag comparison. The window's required distribution is satisfied by
        the repartition, so Catalyst inserts no second exchange — dedup,
        MERGE resolution, and write alignment all ride the same shuffle.
        Returns physical-state rows (payload + sha + last_seq + tombstone +
        _bucket). Delete winners become tombstone rows."""
        ev = ev.withColumn("_bucket", bucket_expr(n_buckets, keys))
        packed = ev.repartition(n_buckets, F.col("_bucket"))
        w = Window.partitionBy("_bucket").orderBy(
            *[F.col(k) for k in keys], F.col(seq_col).desc()
        )
        # Per-column null-safe lag compare — NOT a concat_ws key string,
        # whose encoding is ambiguous (embedded separator bytes or NULL
        # components can make distinct keys collide and drop a winner).
        # lag(lit(1)) is NULL exactly on each partition's first row, which
        # disambiguates "no previous row" from "previous key column NULL".
        first_row = F.lag(F.lit(1)).over(w).isNull()
        key_changed = reduce(
            operator.or_,
            [~F.lag(F.col(k)).over(w).eqNullSafe(F.col(k)) for k in keys],
        )
        winners = packed.withColumn(
            "_is_winner", first_row | key_changed
        ).filter(F.col("_is_winner"))
        is_del = F.col(op_col) == "delete"
        return winners.select(
            *[F.col(c) for c in payload_cols],
            F.when(~is_del, F.sha2(F.col("content"), 256)).alias("content_sha256"),
            F.col(seq_col).cast("long").alias("last_seq"),
            is_del.alias(TOMBSTONE_COL),
            F.col("_bucket"),
        )

    def _late_lww(
        self,
        ev: DataFrame,
        keys: tuple[str, str],
        seq_col: str,
        op_col: str,
        payload_cols: list[str],
        n_buckets: int,
    ) -> DataFrame:
        """Late-materialization LWW: never shuffle payload columns.

        The sorted-merge form (`_sorted_lww`) shuffles EVERY event's full
        payload (content is the dominant byte share) just to discard the
        losers after the sort. Here the winner of each key is decided on a
        column-pruned projection first — ``groupBy(keys).max(seq)`` is a
        map-side-combined hash aggregate whose shuffle carries only
        (key, seq), ~20x fewer bytes for this workload — and the payload is
        fetched afterwards by a LEFT SEMI join of the raw events against
        the winner set on (key, seq). AQE picks a broadcast semi-join when
        the winner set is small (the common CDC case: winners = distinct
        keys in the delta) and falls back to a shuffled semi-join when it
        isn't — no manual threshold. Only winner rows (typically a few % of
        events) then repartition to their buckets for the aligned write.

        Same result as `_sorted_lww` under the binlog contract (seq unique
        per key). The final stage DELEGATES to `_sorted_lww` over the slim
        winner set: the per-key tie dedup (re-delivered winning events)
        rides the bucket-aligned exchange as a window lag — one winner-
        payload shuffle total, where this path previously paid a
        dropDuplicates hash-agg AND a bucket repartition (both full
        payload). Strategy A/Bs and the scaling-series context live in
        BENCH/BASELINE.md (mor_strategy_ab, per-core-speedup squeeze).
        """
        # Winner selection must be NULL-safe: append()-sourced rows carry
        # last_seq NULL (schema_evo backfill) and re-enter a COW rewrite as
        # seq-NULL events; max() over an all-NULL group is NULL and the
        # null-unsafe semi-join below would never match it — silently
        # dropping the key from the rewritten bucket. Normalize NULL to -1
        # (the read path's coalesce(-1) convention: any real seq >= 0
        # outranks it, matching _sorted_lww's desc-nulls-last order).
        seq_n = "_seq_lww"
        evn = ev.withColumn(
            seq_n, F.coalesce(F.col(seq_col).cast("long"), F.lit(-1).cast("long"))
        )
        winners = evn.groupBy(*[F.col(k) for k in keys]).agg(
            F.max(F.col(seq_n)).alias(seq_n)
        )
        slim = evn.join(winners, [*keys, seq_n], "left_semi").drop(seq_n)
        # At-least-once re-delivery can offer the exact winning event again
        # (same key AND seq): the semi-join keeps every tie row, so the
        # winner set still needs a per-key dedup (tie rows are equivalent
        # under the binlog contract — a same-seq collision with different
        # content is a source violation). Delegating to _sorted_lww does
        # that dedup ON the bucket-aligned write shuffle itself (window
        # lag over the repartition — zero extra exchange), where this
        # path previously paid TWO winner-payload shuffles: a
        # dropDuplicates hash-agg AND the bucket repartition. Measured at
        # the scaling shape (32M events → 190k winners) the fused form
        # cuts the late path's payload-bytes-shuffled in half and gives
        # late the same key-sorted file layout (tight repo footer bounds
        # for scan pruning) that sorted always had.
        return self._sorted_lww(slim, keys, seq_col, op_col, payload_cols, n_buckets)

    def _lww(self, ev, keys, seq_col, op_col, payload_cols, n_buckets, strategy: str):
        if strategy == "late":
            return self._late_lww(ev, keys, seq_col, op_col, payload_cols, n_buckets)
        return self._sorted_lww(ev, keys, seq_col, op_col, payload_cols, n_buckets)

    def _as_events(self, phys: DataFrame, payload_cols: list[str], seq_col: str, op_col: str) -> DataFrame:
        """Physical state rows → synthetic change events at seq=last_seq.
        Tombstones re-enter as deletes so they keep outranking any older
        re-delivered event for their key (cross-batch order insensitivity —
        the late-event monotonicity guard)."""
        op = F.when(
            F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)), F.lit("delete")
        ).otherwise(F.lit("base"))
        return phys.select(
            *[F.col(c) for c in payload_cols],
            F.col("last_seq").alias(seq_col),
            op.alias(op_col),
        )

    def merge_changes(
        self,
        delta: DataFrame,
        epoch_id: int | list[int] | None = None,
        keys: tuple[str, str] = ("repo", "path"),
        seq_col: str = "seq",
        op_col: str = "op",
        metrics: dict[str, Any] | None = None,
        mode: str = "cow",
        strategy: str | None = None,
        branch: str = "main",
        source: str | None = None,
    ) -> int:
        """MERGE a change-event batch into the state table.

        Semantics (SURVEY.md §2.3 — the outer-join-shaped MERGE): per key,
        the max-seq event across base ∪ delta wins; winner op == delete →
        tombstone; else upsert. Two physical strategies:

        - ``mode="cow"`` (copy-on-write): read the touched buckets' current
          merged state, resolve winners, rewrite those buckets. Read-
          optimized — the table is always one file per bucket.
        - ``mode="mor"`` (merge-on-read): resolve winners WITHIN the delta
          only and append them as delta files; base files are never read or
          rewritten at merge time. Readers (and compact()) LWW base∪deltas
          on last_seq. Write-optimized — merge cost is O(delta), not
          O(touched base); call compact() periodically to restore read
          performance.

        ``strategy`` picks the LWW physical form; ``None`` (default)
        resolves to ``"sorted"`` for both modes, per the interleaved
        same-day A/Bs (bench/mor_ab.py → BENCH/mor_strategy_ab.json):

        - ``"sorted"`` (default) — the single-shuffle sorted form. Wins
          at every measured level (4/8/32 cores, margin growing with
          parallelism: late is 0.92/0.88/0.76× sorted; zstd profile is a
          tie). COW additionally re-enters the base, making winners ≈
          the whole touched state, so late's extra pass buys nothing
          there by construction.
        - ``"late"`` — late materialization: winner keys via
          map-side-combined groupBy/max on a (key, seq) projection,
          payload fetched by AQE semi-join, only winners shuffled to
          buckets. Round 2's +33% claim for it came from cross-day
          comparisons; the interleaved A/B does not reproduce it. Kept
          selectable: on a REAL network-shuffling cluster the
          bytes-not-CPU trade may flip again — re-run bench/mor_ab.py
          there before trusting either default.

        Returns the committed snapshot id (or the current one when the
        epoch was already committed — exactly-once replay-skip).
        """
        t0 = time.time()
        if strategy is None:
            strategy = "sorted"  # measured winner at all levels; see above
        # a LIST epoch_id commits a batched group of epochs in one snapshot
        # (replay's epoch_batch fixed-cost amortization); exactly-once then
        # holds at group granularity — skip only when EVERY epoch of the
        # group is committed (the commit is atomic, so partial overlap only
        # arises from a caller re-cutting groups; re-merging is idempotent)
        eids = epoch_id if isinstance(epoch_id, list) else (
            [epoch_id] if epoch_id is not None else []
        )
        if eids and set(eids) <= self.committed_epochs(ref=branch, source=source):
            return self._load_metadata()["current_snapshot_id"]
        epoch_id = eids[-1] if eids else None  # scalar tag: lineage + summary

        # Pin the (metadata, version) this merge plans against; everything
        # below — schema evolution, kept-file pruning, the final commit —
        # derives from THIS read, so a concurrent commit surfaces as
        # CommitConflictError rather than being silently overwritten.
        meta, base_v = self._load_versioned()
        n_buckets = meta["n_buckets"]

        # Additive schema evolution: reconcile incoming payload columns
        # (beyond the CDC envelope) against the registry.
        payload_schema = T.StructType(
            [f for f in delta.schema.fields if f.name not in (op_col, seq_col, "epoch", "ingest_ts")]
        )
        state_fields = _state_schema_for(payload_schema, seq_col)
        new_registry = schema_evo.reconcile(meta["schema"], state_fields)
        state_schema = schema_evo.registry_to_schema(new_registry)
        if new_registry != meta["schema"]:
            meta["schema"] = new_registry
            self._write_metadata(meta, version=base_v + 1)
            base_v += 1

        payload_cols = [f.name for f in state_schema.fields if f.name not in ("content_sha256", "last_seq")]
        delta_ev = delta.select(
            *[
                (F.col(c) if c in delta.columns else F.lit(None).cast(dict_field(state_schema, c)))
                .alias(c)
                for c in payload_cols
            ],
            F.col(seq_col).cast("long").alias(seq_col),
            F.col(op_col).alias(op_col),
        )
        snap = self._snapshot(meta, ref=branch)
        # Layout guard: bucket ids are only meaningful within one
        # n_buckets space. A branch staged before a rebucket would
        # otherwise mix old-space kept entries with new-space deltas in
        # one manifest — numerically colliding ids make the per-bucket
        # MOR read-merge classify files wrong and a key can surface
        # twice. The publish CAS already blocks the stale branch from
        # landing on main; this blocks the stale MERGE itself.
        if snap is not None and snap.get("n_buckets", n_buckets) != n_buckets:
            raise CommitConflictError(
                f"branch {branch!r} is based on a {snap['n_buckets']}-bucket "
                f"layout but the table is now bucket[{n_buckets}] (rebucket "
                "happened since the branch forked); re-stage from the "
                "current head"
            )

        if mode == "mor":
            final = self._lww(delta_ev, keys, seq_col, op_col, payload_cols, n_buckets, strategy)
            new_entries = self._write_data_files(final, epoch_id, kind="delta")
            kept = snap["manifest"] if snap else []
            summary = {
                "mode": "mor",
                "rows_in_delta": None,
                "rows_written": sum(e["rows"] for e in new_entries),
                "base_files_rewritten": 0,
                "duration_sec": round(time.time() - t0, 3),
            }
            if metrics:
                summary.update(metrics)
            return self._commit(
                "merge", new_entries, kept, epoch_id, summary, base=(meta, base_v),
                epoch_ids=eids, branch=branch, source=source,
            )

        # --- copy-on-write ---
        delta_b = delta_ev.withColumn("_bucket", bucket_expr(n_buckets, keys))
        # Touched-partition pruning (collect is ≤ n_buckets ints).
        touched = {r[0] for r in delta_b.select("_bucket").distinct().collect()}
        kept, base_files = [], []
        if snap:
            for e in snap["manifest"]:
                (base_files if e["bucket"] in touched else kept).append(e)
        if base_files:
            base = self._read_entries(meta, base_files, include_tombstones=True, merged=False)
            base_ev = self._as_events(base, payload_cols, seq_col, op_col)
            all_ev = base_ev.unionByName(delta_ev)
        else:
            all_ev = delta_ev
        final = self._lww(all_ev, keys, seq_col, op_col, payload_cols, n_buckets, strategy)
        new_entries = self._write_data_files(final, epoch_id, kind="base")
        summary = {
            "mode": "cow",
            "buckets_touched": sorted(touched),
            "rows_in_delta": None,  # filled by replay driver (avoids extra count job)
            "rows_written": sum(e["rows"] for e in new_entries),
            "base_files_rewritten": len(base_files),
            "duration_sec": round(time.time() - t0, 3),
        }
        if metrics:
            summary.update(metrics)
        return self._commit(
            "merge", new_entries, kept, epoch_id, summary, base=(meta, base_v),
            epoch_ids=eids, branch=branch, source=source,
        )

    # ---------------------------------------------------- snapshot expiry
    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        _now_ms: int | None = None,
    ) -> dict[str, Any]:
        """Iceberg-style ``expire_snapshots``: retain the newest
        ``keep_last`` snapshots (the current one always survives), drop the
        older snapshot entries from the log, and DELETE data files no
        retained snapshot references. At 100 TB this is what bounds
        storage: every COW merge strands the rewritten buckets' old files,
        reachable only through time travel; without expiry the table holds
        every version of every bucket forever.

        Time travel to an expired snapshot id raises thereafter (same
        contract as Iceberg). Committed-epoch ids are preserved from MAIN's
        dropped history so exactly-once replay-skip still recognizes epochs
        whose snapshots were expired (``expired_epochs`` in metadata).
        Ref-aware: tag targets and live branch heads always survive, and
        snapshots reachable only from a DROPPED ref (an abandoned WAP
        staging branch) are collected WITHOUT registering their epochs —
        unpublished work never happened, so a resumed replay re-applies it."""
        meta, base_v = self._load_versioned()
        snaps = meta["snapshots"]
        if len(snaps) <= keep_last:
            return {"expired": 0, "files_deleted": 0}
        main_chain = self._ancestry(meta, meta["current_snapshot_id"])
        main_ids = {s["snapshot_id"] for s in main_chain}
        # keep_last=0 must mean "count floor of zero" (current head still
        # survives via the add below); [-0:] would slice the WHOLE chain
        # and turn age-only retention into a silent no-op.
        keep_ids = (
            {s["snapshot_id"] for s in main_chain[-keep_last:]} if keep_last > 0 else set()
        )
        if older_than_ms is not None:
            # age-based retention (Iceberg's older_than): keep_last is the
            # floor, but younger snapshots survive regardless of count —
            # the policy an operator can reason about in wall-clock terms
            # ("time travel works for 7 days")
            now = _now_ms if _now_ms is not None else int(time.time() * 1000)
            keep_ids.update(
                s["snapshot_id"]
                for s in main_chain
                if s["timestamp_ms"] > now - older_than_ms
            )
        if meta["current_snapshot_id"] is not None:
            keep_ids.add(meta["current_snapshot_id"])
        for name, r in self._refs(meta).items():
            if name != "main" and r["snapshot_id"] is not None:
                # a ref pins its target, plus (for branches) the staged
                # suffix off main — manifests are full file lists, so the
                # target alone suffices for reads; the suffix keeps
                # changes_between over the branch interval working
                keep_ids.add(r["snapshot_id"])
                for s in self._ancestry(meta, r["snapshot_id"]):
                    if s["snapshot_id"] not in main_ids:
                        keep_ids.add(s["snapshot_id"])
        keep = [s for s in snaps if s["snapshot_id"] in keep_ids]
        dropped = [s for s in snaps if s["snapshot_id"] not in keep_ids]
        if not dropped:
            return {"expired": 0, "files_deleted": 0}
        kept_files = {e["path"] for s in keep for e in s["manifest"]}
        dead = [
            e["path"]
            for s in dropped
            for e in s["manifest"]
            if e["path"] not in kept_files
        ]
        # exactly-once survives expiry ONLY for published (main-reachable)
        # epochs; an epoch staged on an abandoned branch must stay pending.
        # Ids are recorded PER SOURCE (key "" = committed without one),
        # mirroring committed_epochs' (source, epoch) key.
        by_src: dict[str, set[int]] = {
            k: set(v) for k, v in meta.get("expired_epochs_by_source", {}).items()
        }
        for s in dropped:
            if s["snapshot_id"] not in main_ids:
                continue
            eids = set(s.get("epoch_ids") or [])
            if s.get("epoch_id") is not None:
                eids.add(s["epoch_id"])
            if eids:
                by_src.setdefault(s.get("source") or "", set()).update(eids)
        meta["snapshots"] = keep
        meta["expired_epochs_by_source"] = {k: sorted(v) for k, v in by_src.items()}
        # Commit the pruned metadata FIRST, then delete the unreferenced
        # files (Iceberg's order). A crash after the commit leaves only
        # harmless orphan files; the reverse order would leave the snapshot
        # log pointing at deleted files, turning time travel /
        # changes_between over those snapshots into scan-time
        # file-not-found instead of the clean 'expired' error.
        self._write_metadata(meta, version=base_v + 1)
        deleted = 0
        for p in sorted(set(dead)):
            if os.path.exists(p):
                os.remove(p)
                # local-FS checksum sibling dies with its file (hidden, so
                # orphan GC never revisits it)
                crc = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                deleted += 1
        # dropped snapshots' manifest files are now unreferenced too
        for s in dropped:
            mf = s.get("manifest_file")
            if mf and os.path.exists(os.path.join(self.meta_dir, mf)):
                os.remove(os.path.join(self.meta_dir, mf))
        # prune old metadata versions (Iceberg's previous-metadata cleanup):
        # one v{N}.metadata.json accumulates per commit; only a recent
        # window is needed (stale concurrent readers re-read VERSION on
        # conflict). Keeps the metadata dir O(retained), not O(history).
        cur_v = self._version()
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("v") and fn.endswith(".metadata.json"):
                try:
                    fv = int(fn[1:].split(".")[0])
                except ValueError:
                    continue
                if fv < cur_v - 10:
                    os.remove(os.path.join(self.meta_dir, fn))
        # prune now-empty commit dirs (cosmetic; reads are manifest-driven)
        for d in os.listdir(self.data_dir):
            cd = os.path.join(self.data_dir, d)
            if os.path.isdir(cd) and not any(
                fns for _, _, fns in os.walk(cd)
            ):
                shutil.rmtree(cd, ignore_errors=True)
        return {"expired": len(dropped), "files_deleted": deleted}

    def remove_orphan_files(
        self, older_than_ms: int = 24 * 3600 * 1000, _now_ms: int | None = None
    ) -> dict[str, int]:
        """Iceberg's ``remove_orphan_files``: delete files under the table
        location that no snapshot references — the debris optimistic
        concurrency legally produces (a loser of the commit CAS has already
        written its data files and manifest; a writer that crashes before
        its commit leaves the same). Snapshot expiry never sees these (they
        were never committed), so without this GC they accumulate forever.

        ``older_than_ms`` is the safety horizon: files younger than it are
        kept even when unreferenced, because an IN-FLIGHT writer's files
        are indistinguishable from orphans until its commit lands (Iceberg
        defaults to 3 days for the same reason; here 24h). Listing is
        filesystem-walk + set membership against every retained snapshot's
        manifest — a maintenance-time O(files) pass, never on the write
        path. ``_now_ms`` pins the clock for tests."""
        meta = self._load_metadata()
        referenced: set[str] = set()
        manifest_files: set[str] = set()
        for s in meta["snapshots"]:
            referenced.update(e["path"] for e in s["manifest"])
            if s.get("manifest_file"):
                manifest_files.add(os.path.join(self.meta_dir, s["manifest_file"]))
        now = _now_ms if _now_ms is not None else int(time.time() * 1000)
        cutoff = (now - older_than_ms) / 1000.0
        removed = {"data_files": 0, "manifest_files": 0, "bloom_sidecars": 0}

        def orphaned(fp: str) -> bool:
            try:
                return os.path.getmtime(fp) <= cutoff
            except OSError:
                return False  # vanished under us: someone else's problem

        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                # hidden bookkeeping (_SUCCESS markers, local-FS .crc
                # checksums) is not data; crc siblings die with their file
                if fn.startswith(("_", ".")):
                    continue
                fp = os.path.join(root, fn)
                if fp not in referenced and orphaned(fp):
                    os.remove(fp)
                    crc = os.path.join(root, f".{fn}.crc")
                    if os.path.exists(crc):
                        os.remove(crc)
                    removed["data_files"] += 1
        if os.path.isdir(self.manifest_dir):
            for fn in os.listdir(self.manifest_dir):
                fp = os.path.join(self.manifest_dir, fn)
                if fp not in manifest_files and orphaned(fp):
                    os.remove(fp)
                    removed["manifest_files"] += 1
        # bloom sidecar dirs whose registration CAS never landed (the
        # parquet is written before the 5-attempt registry append; a
        # writer that exhausted its retries or died leaves the dir
        # unreferenced). Registered sidecars are never GC'd: their rows
        # are keyed by immutable COW file paths, so they stay valid for
        # every snapshot, and rows for since-deleted files are dead
        # weight, not a hazard.
        bloom_dir = os.path.join(self.meta_dir, "blooms")
        registered = {
            os.path.join(self.meta_dir, r)
            for r in meta.get("bloom_sidecars") or ()
        }
        if os.path.isdir(bloom_dir):
            for fn in os.listdir(bloom_dir):
                fp = os.path.join(bloom_dir, fn)
                if fp not in registered and orphaned(fp):
                    shutil.rmtree(fp, ignore_errors=True)
                    removed["bloom_sidecars"] += 1
        # stale CAS temp files (a writer that died mid-_write_metadata)
        for fn in os.listdir(self.meta_dir):
            if ".tmp" in fn:
                fp = os.path.join(self.meta_dir, fn)
                if orphaned(fp):
                    os.remove(fp)
        for d in os.listdir(self.data_dir):
            cd = os.path.join(self.data_dir, d)
            if os.path.isdir(cd) and not any(fns for _, _, fns in os.walk(cd)):
                shutil.rmtree(cd, ignore_errors=True)
        return removed

    def delta_stats(self) -> dict[str, int]:
        """MOR delta vs base footprint of the current snapshot, from
        manifest stats alone (one small JSON read, no data IO). This is
        what a size-based compaction policy triggers on: epoch COUNT says
        nothing about accumulated read amplification when delta sizes are
        skewed, accumulated delta BYTES is the quantity compaction
        actually pays to rewrite."""
        snap = self.current_snapshot()
        out = {"delta_bytes": 0, "base_bytes": 0, "delta_files": 0, "base_files": 0}
        if snap is None:
            return out
        for e in snap["manifest"]:
            k = "delta" if e.get("kind") == "delta" else "base"
            out[f"{k}_bytes"] += e.get("bytes", 0)
            out[f"{k}_files"] += 1
        return out

    def changes_between(self, from_snapshot_id: int | None, to_snapshot_id: int | None = None) -> DataFrame:
        """Incremental consumption of the table's OWN change stream: the
        rows written by snapshots in (from, to] — i.e. every file added
        after ``from_snapshot_id`` — with an ``_op`` column (upsert |
        delete) derived from the tombstone flag. This is the CDC-read
        surface a downstream pipeline tails instead of re-scanning the
        table: cost is proportional to the files the interval added, with
        no shuffle at all. ``from_snapshot_id=None`` reads from the
        beginning; compaction rewrites are excluded (operation='compact'
        moves bytes, not logical state).

        Exact for MOR merges (delta files ARE the changes). For COW
        merges the interval is a superset: a rewritten bucket's file
        carries the whole bucket, so unchanged keys of touched buckets
        re-appear — inherent to copy-on-write without row-level diff
        tracking; consumers LWW on (key, last_seq) as usual."""
        meta = self._load_metadata()
        new_entries = self._changes_entries(from_snapshot_id, to_snapshot_id, meta=meta)
        df = self._read_entries(meta, new_entries, include_tombstones=True, merged=False)
        return df.withColumn(
            "_op",
            F.when(F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)), F.lit("delete")).otherwise(
                F.lit("upsert")
            ),
        ).drop(TOMBSTONE_COL)

    def _changes_entries(
        self,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        meta: dict[str, Any] | None = None,
    ) -> list[dict[str, Any]]:
        """Manifest entries of the files added in (from, to] — the metadata
        half of changes_between, exposed separately so incremental
        consumers (lake.mv) can plan bucket-pruned reads from the entry
        list without touching data. Pass ``meta`` to pin the walk to a
        metadata view already loaded by the caller (one consistent read
        under concurrent commits/expiry)."""
        meta = meta if meta is not None else self._load_metadata()
        to_sid = to_snapshot_id if to_snapshot_id is not None else meta["current_snapshot_id"]
        if to_sid is None:
            return []
        # walk to_sid's ANCESTRY, not the raw log: the log may carry
        # snapshots of other branches (staged/abandoned WAP commits) whose
        # files were never part of this lineage and must not appear as
        # changes
        chain = self._ancestry(meta, to_sid)
        if from_snapshot_id is not None and not any(
            s["snapshot_id"] <= from_snapshot_id for s in chain
        ):
            # The cursor predates every retained snapshot: it was expired.
            # Without this guard nothing seeds `seen` and the read silently
            # degrades to a full-history scan — a resuming CDC consumer
            # would reprocess the entire table with no error. Mirror
            # read()'s expired-snapshot contract instead.
            raise ValueError(
                f"snapshot {from_snapshot_id} not found (expired by "
                f"expire_snapshots, or never existed); incremental read "
                f"cannot resume from an expired cursor"
            )
        seen: set[str] = set()
        new_entries: list[dict[str, Any]] = []
        for s in chain:
            if from_snapshot_id is not None and s["snapshot_id"] <= from_snapshot_id:
                seen.update(e["path"] for e in s["manifest"])
                continue
            if s["operation"] in ("compact", "rebucket"):
                # bytes moved, not logical state: every row these rewrites
                # carry was already delivered by the snapshot that first
                # added it, so re-emitting them would double-deliver
                seen.update(e["path"] for e in s["manifest"])
                continue
            for e in s["manifest"]:
                if e["path"] not in seen:
                    seen.add(e["path"])
                    new_entries.append(e)
        return new_entries

    def compact(
        self,
        metrics: dict[str, Any] | None = None,
        expire_tombstones_below: int | None = None,
    ) -> int | None:
        """Consolidate MOR delta files into base files (one per bucket).

        Buckets with no delta files keep their base files untouched. LWW
        winners (including tombstones) are preserved exactly, so reads
        before and after compaction are identical. Returns the committed
        snapshot id, or None when there is nothing to compact.

        ``expire_tombstones_below``: physically drop tombstone rows whose
        ``last_seq`` is below this replay watermark. Safe iff the caller
        guarantees no event with seq < watermark can still arrive (e.g.
        the checkpoint's committed seq_hi): a tombstone only exists to
        outrank late re-deliveries of older events for its key, so once
        those can no longer arrive it is dead metadata. Without a
        watermark, tombstones are retained indefinitely."""
        t0 = time.time()
        meta, base_v = self._load_versioned()
        snap = self._snapshot(meta)
        if snap is None:
            return None
        delta_entries = [e for e in snap["manifest"] if e.get("kind") == "delta"]
        if not delta_entries:
            return None
        n_buckets = meta["n_buckets"]
        state_schema = schema_evo.registry_to_schema(meta["schema"])
        payload_cols = [f.name for f in state_schema.fields if f.name not in ("content_sha256", "last_seq")]
        touched = {e["bucket"] for e in delta_entries}
        consumed = [e for e in snap["manifest"] if e["bucket"] in touched]
        kept = [e for e in snap["manifest"] if e["bucket"] not in touched]
        phys = self._read_entries(meta, consumed, include_tombstones=True, merged=False)
        ev = self._as_events(phys, payload_cols, seq_col="seq", op_col="op")
        final = self._sorted_lww(ev, ("repo", "path"), "seq", "op", payload_cols, n_buckets)
        if expire_tombstones_below is not None:
            final = final.filter(
                ~F.col(TOMBSTONE_COL)
                | (F.col("last_seq") >= F.lit(int(expire_tombstones_below)))
            )
        new_entries = self._write_data_files(final, None, kind="base")
        summary = {
            "files_compacted": len(consumed),
            "rows_written": sum(e["rows"] for e in new_entries),
            "tombstone_watermark": expire_tombstones_below,
            "duration_sec": round(time.time() - t0, 3),
        }
        if metrics:
            summary.update(metrics)
        return self._commit("compact", new_entries, kept, None, summary, base=(meta, base_v))

    def rebucket(self, n_buckets: int, metrics: dict[str, Any] | None = None) -> int | None:
        """Online bucket-count evolution (Iceberg partition-spec evolution
        for the ``bucket[N]`` transform).

        The bucket count is the table's parallelism knob (~2 buckets per
        executor-core at cluster scale): a table created for an N-executor
        cluster under-parallelizes on a 4N one — exactly the two cluster
        sizes the scaling rule names — and the key-hash changes with N, so
        the layout can't be migrated file-by-file. This rewrites the merged
        state into the new layout in ONE shuffle (the same single-exchange
        sorted LWW every merge uses, just keyed by the new bucket count)
        and commits the data rewrite and the ``n_buckets`` metadata change
        in the SAME CAS commit — concurrent writers that planned against
        the old layout lose the CAS and retry against the new one, so no
        commit can ever mix layouts.

        Logical state is untouched: tombstones are preserved (they must
        keep outranking late re-deliveries), committed-epoch ids survive
        (exactly-once replay-skip is layout-independent), and
        ``changes_between`` treats the rewrite like compaction — bytes
        moved, not logical changes. Time travel to pre-rebucket snapshots
        reads their own manifests (bucket ids are per-snapshot metadata).

        Returns the committed snapshot id; no-op (returns the current id)
        when the count is unchanged. On an empty table only the metadata
        changes."""
        t0 = time.time()
        meta, base_v = self._load_versioned()
        old_n = meta["n_buckets"]
        if n_buckets == old_n:
            return meta["current_snapshot_id"]
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        meta["n_buckets"] = n_buckets
        meta["partition_spec"] = [
            {"source": ["repo", "path"], "transform": f"bucket[{n_buckets}]"}
        ]
        snap = self._snapshot(meta)
        if snap is None:
            self._write_metadata(meta, version=base_v + 1)
            return None
        state_schema = schema_evo.registry_to_schema(meta["schema"])
        payload_cols = [
            f.name for f in state_schema.fields if f.name not in ("content_sha256", "last_seq")
        ]
        phys = self._read_entries(meta, snap["manifest"], include_tombstones=True, merged=False)
        ev = self._as_events(phys, payload_cols, seq_col="seq", op_col="op")
        final = self._sorted_lww(ev, ("repo", "path"), "seq", "op", payload_cols, n_buckets)
        new_entries = self._write_data_files(final, None, kind="base")
        summary = {
            "n_buckets_from": old_n,
            "n_buckets_to": n_buckets,
            "rows_written": sum(e["rows"] for e in new_entries),
            "duration_sec": round(time.time() - t0, 3),
        }
        if metrics:
            summary.update(metrics)
        return self._commit("rebucket", new_entries, [], None, summary, base=(meta, base_v))

    def cluster(
        self,
        cols: list[str],
        bins: int = 1024,
        strategy: str = "zorder",
        max_records_per_file: int = 4_000_000,
        sample_fraction: float | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> int | None:
        """Rewrite the BASE files with a multi-dimensional clustering
        layout (Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order z
        transform) and record per-file min/max bounds for ``cols`` in the
        manifest, so ``scan_where`` prunes files on ANY clustering column
        — not just the leading sort key.

        ``strategy='zorder'`` sorts within each bucket by the Morton code
        of the rank-binned columns (every file covers a small
        hyper-rectangle: bounds tight on all cols at once);
        ``strategy='linear'`` sorts lexicographically by ``cols`` (tight
        on the leading column only — kept as the honest A/B baseline,
        measured in tests/test_zorder.py).

        MOR-safe by construction: only base entries are rewritten — the
        exact same physical rows (tombstones included), reordered — and
        delta entries are kept verbatim, so read-time LWW is unchanged.
        Row preservation is asserted in tests. Bucket layout is untouched
        (files stay bucket-partitioned; the bucket remains the merge/
        lookup unit).

        Scale shape: one repartition on ``_bucket`` + per-partition sort +
        write — the same single-shuffle cost as compact(); the z-value is
        a vectorized Arrow-batched UDF applied once per rewrite, never on
        reads. At 100 TB this runs per-partition/incrementally like any
        OPTIMIZE job; here it is whole-table because tables are
        snapshot-bounded."""
        from . import zorder as _z

        if strategy not in ("zorder", "linear"):
            raise ValueError(f"strategy must be zorder|linear, got {strategy!r}")
        t0 = time.time()
        meta, base_v = self._load_versioned()
        snap = self._snapshot(meta)
        if snap is None:
            return None
        base_entries = [e for e in snap["manifest"] if e.get("kind") != "delta"]
        delta_entries = [e for e in snap["manifest"] if e.get("kind") == "delta"]
        if not base_entries:
            return None
        n_buckets = meta["n_buckets"]
        phys = self._read_entries(meta, base_entries, include_tombstones=True, merged=False)
        missing = [c for c in cols if c not in phys.columns]
        if missing:
            raise ValueError(f"clustering columns not in table schema: {missing}")
        df = phys.withColumn("_bucket", bucket_expr(n_buckets))
        cuts: dict[str, list[Any]] | None = None
        if strategy == "zorder":
            total = sum(e["rows"] for e in base_entries)
            frac = sample_fraction or min(1.0, 200_000 / max(1, total))
            cuts = _z.sample_cutpoints(phys, cols, bins, frac)
            df = df.withColumn("_zv", _z.zvalue_column(cols, cuts, bins))
            sort_cols = ["_bucket", "_zv"]
        else:
            sort_cols = ["_bucket", *cols]
        out = (
            df.repartition(n_buckets, "_bucket")
            .sortWithinPartitions(*sort_cols)
            .drop("_zv")
        )
        new_entries = self._write_data_files(
            out,
            None,
            kind="base",
            stats_cols=("last_seq", "repo", *[c for c in cols if c != "repo"]),
            max_records_per_file=max_records_per_file,
        )
        summary = {
            "clustering": {"cols": cols, "strategy": strategy, "bins": bins},
            "files_rewritten": len(base_entries),
            "files_written": len(new_entries),
            "rows_written": sum(e["rows"] for e in new_entries),
            "duration_sec": round(time.time() - t0, 3),
        }
        if metrics:
            summary.update(metrics)
        return self._commit(
            "cluster", new_entries, delta_entries, None, summary, base=(meta, base_v)
        )

    def build_blooms(
        self,
        cols: list[str],
        m_bits: int | None = None,
        k: int | None = None,
        mode: str = "value",
        force: bool = False,
    ) -> int:
        """Build per-file Bloom filters for ``cols`` over the current
        snapshot's BASE files and register the sidecar in table metadata
        (Iceberg Puffin-statistics analogue; lake/bloom.py for the
        design). ``scan_where`` then consults them for POINT predicates
        (lo == hi), where min/max bounds under-prune on any column the
        layout doesn't lead with.

        ``mode="tokens"`` builds the distributed-grep variant instead:
        the bloom holds every identifier token of the column's text
        (bloom.TOKEN_SEP), consumed by :meth:`scan_contains`. Value and
        token blooms over the same column are independent indexes.

        Incremental: files already covered for every requested column by
        an earlier sidecar are skipped, so running this after each
        compaction/cluster costs O(new files), not O(table). A file
        missing only SOME requested columns is rebuilt for all of them —
        the duplicate rows supersede at load time (later wins), trading
        a bounded re-hash for a single-scan build. Delta files
        are never bloomed — they are transient (compaction folds them
        in) and their buckets are pruning-exempt anyway (MOR exactness).
        ``force=True`` rebuilds every base file regardless of coverage —
        the re-spec path (e.g. resizing an under-sized m_bits): the new
        sidecar's rows supersede older ones at load time (later wins).

        The sidecar is data, not table state: registration is a CAS
        metadata bump with a short retry loop (the parquet is written
        once; on conflict only the tiny registry append is redone —
        losing the race to a data commit is routine, not an error).
        When the registry has accumulated enough appends, it is
        consolidated into one sidecar (``_compact_sidecars``) so the
        coverage check and first read stay O(1) files, not O(builds).

        Returns the number of (file, column) bloom rows built."""
        from . import bloom as _bl

        m_bits = m_bits or _bl.DEFAULT_M_BITS
        k = k or _bl.DEFAULT_K
        meta = self._load_metadata()
        snap = self._snapshot(meta)
        if snap is None:
            return 0
        have = {} if force else self._load_blooms(meta)
        keys = [c if mode == "value" else f"{c}#tokens" for c in cols]
        todo = [
            e
            for e in snap["manifest"]
            if e.get("kind") != "delta"
            and any((e["path"], ck) not in have for ck in keys)
        ]
        if not todo:
            return 0
        phys = self._physical_schema(schema_evo.registry_to_schema(meta["schema"]))
        rows = _bl.build_file_blooms(
            self.spark, todo, cols, phys, m_bits, k, mode=mode
        )
        rel = os.path.join("blooms", f"bloom-{uuid.uuid4().hex[:8]}.parquet")
        out_dir = os.path.join(self.meta_dir, rel)
        rows.write.parquet(out_dir)
        import pyarrow.parquet as pq

        n = pq.read_table(out_dir, columns=["col"]).num_rows
        for _ in range(5):
            meta2, base_v = self._load_versioned()
            meta2.setdefault("bloom_sidecars", []).append(rel)
            try:
                self._write_metadata(meta2, version=base_v + 1)
                break
            except CommitConflictError:
                continue
        else:
            raise CommitConflictError(
                "bloom sidecar registration lost the metadata CAS 5 times"
            )
        self._bloom_cache = None
        self._compact_sidecars()
        return n

    # registry appends accumulate one sidecar per build (a compaction-
    # cadence replay produces one per window); past this count they are
    # folded into a single parquet so the driver-side coverage check and
    # every fresh reader's first load stay O(1) files instead of O(builds)
    _SIDECAR_COMPACT_THRESHOLD = 8

    def _compact_sidecars(self) -> None:
        """Fold all registered bloom sidecars into one parquet and CAS-swap
        the registry to it. Later-sidecar-wins dedup is applied at fold
        time (same rule load_sidecars applies at read time), so the merged
        file is semantically identical to the list it replaces. Best
        effort: a lost CAS leaves the append-only registry intact (still
        correct, just longer); the superseded dirs become unregistered and
        the orphan GC removes them behind the safety horizon."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        meta = self._load_metadata()
        sidecars = meta.get("bloom_sidecars") or []
        if len(sidecars) < self._SIDECAR_COMPACT_THRESHOLD:
            return
        tables = [
            pq.read_table(os.path.join(self.meta_dir, r)) for r in sidecars
        ]
        merged = pa.concat_tables(tables, promote_options="default")
        # later wins: walk in order, last occurrence of (file, col, mode)
        seen: dict[tuple, int] = {}
        for i in range(merged.num_rows):
            key = (
                merged.column("file")[i].as_py(),
                merged.column("col")[i].as_py(),
                (merged.column("mode")[i].as_py() or "value")
                if "mode" in merged.column_names
                else "value",
            )
            seen[key] = i
        keep_idx = sorted(seen.values())
        merged = merged.take(keep_idx)
        rel = os.path.join("blooms", f"bloom-{uuid.uuid4().hex[:8]}.parquet")
        out_dir = os.path.join(self.meta_dir, rel)
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(merged, os.path.join(out_dir, "part-0.parquet"))
        for _ in range(3):
            meta2, base_v = self._load_versioned()
            if (meta2.get("bloom_sidecars") or []) != sidecars:
                return  # a concurrent build moved the registry: leave it
            meta2["bloom_sidecars"] = [rel]
            try:
                self._write_metadata(meta2, version=base_v + 1)
                self._bloom_cache = None
                return
            except CommitConflictError:
                continue

    def _load_blooms(
        self, meta: dict[str, Any]
    ) -> dict[tuple[str, str], tuple[bytes, int, int]]:
        """{(file path, col) → (bits, m, k)} from all registered sidecars,
        cached per sidecar-list (sidecars are append-only; a new build
        invalidates). Missing registry → empty dict (no extra pruning)."""
        from . import bloom as _bl

        sidecars = tuple(meta.get("bloom_sidecars") or ())
        cache = getattr(self, "_bloom_cache", None)
        if cache is not None and cache[0] == sidecars:
            return cache[1]
        loaded = _bl.load_sidecars(
            [os.path.join(self.meta_dir, r) for r in sidecars]
        )
        self._bloom_cache = (sidecars, loaded)
        return loaded


def _state_schema_for(payload_schema: T.StructType, seq_col: str) -> T.StructType:
    fields = list(payload_schema.fields)
    names = [f.name for f in fields]
    out = T.StructType(fields)
    if "content_sha256" not in names:
        out = out.add("content_sha256", T.StringType())
    if "last_seq" not in names:
        out = out.add("last_seq", T.LongType())
    return out


def dict_field(schema: T.StructType, name: str) -> T.DataType:
    return next(f.dataType for f in schema.fields if f.name == name)
